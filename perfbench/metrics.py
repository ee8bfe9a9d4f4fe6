"""Every metric the benchmark reports, with the end-to-end metric and the
workload each per-layer metric should move.

``BENCHMARK.json`` lists the same names; ``tests/test_metrics.py``
checks that the two agree.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

NEWS, CORPUS = "news_batch", "corpus_dedup"
WORKLOADS = (NEWS, CORPUS)

# name -> unit (all end-to-end metrics are printed by every workload)
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "batch_latency_p50_s": "s",
    "batch_latency_tail_s": "s",
    "peak_rss_mb": "MB",
}


@dataclass(frozen=True)
class Layer:
    name: str
    unit: str
    better: str
    moves: str  # the end-to-end metric it should move
    workloads: tuple[str, ...]  # where it moves it


def _layer(name: str, unit: str, better: str, moves: str, *wl: str) -> Layer:
    return Layer(name, unit, better, moves, wl)


NEWS_STAGES = ("discover_links", "crawl_articles", "prepare", "topics", "sentiment",
               "emotion", "stats")

PER_LAYER: tuple[Layer, ...] = (
    _layer("session.get_spark_s", "s", "lower", "setup_s", NEWS, CORPUS),
    *(_layer(f"pipeline.runner.stage_s.{s}", "s", "lower", "docs_per_s", NEWS)
      for s in NEWS_STAGES),
    _layer("pipeline.runner.failed_stages", "count", "lower", "docs_per_s", NEWS),
    _layer("sources.sitemap.parse_links_s", "s", "lower", "docs_per_s", NEWS),
    _layer("sources.html_articles.extract_s", "s", "lower", "docs_per_s", NEWS),
    _layer("sources.html_articles.kept_ratio", "ratio", "higher", "docs_per_s", NEWS),
    _layer("sources.html_articles.prepare_s", "s", "lower", "docs_per_s", NEWS),
    _layer("sources.sinks.keyed_append_s", "s", "lower", "docs_per_s", NEWS),
    _layer("sources.sinks.new_ratio", "ratio", "higher", "docs_per_s", NEWS),
    _layer("sources.sinks.overwrite_table_s", "s", "lower", "docs_per_s", NEWS, CORPUS),
    _layer("operators.topics.fit_lda_s", "s", "lower", "docs_per_s", NEWS),
    _layer("operators.topics.dominant_topic_s", "s", "lower", "docs_per_s", NEWS),
    _layer("operators.topics.vocab_size", "count", "lower", "docs_per_s", NEWS),
    _layer("nlp.sentiment.with_sentiment_s", "s", "lower", "docs_per_s", NEWS),
    _layer("nlp.sentiment.with_emotion_s", "s", "lower", "docs_per_s", NEWS),
    _layer("operators.curation.gate_documents_s", "s", "lower", "docs_per_s", CORPUS),
    _layer("operators.curation.gate_kept_ratio", "ratio", "higher", "docs_per_s", CORPUS),
    _layer("operators.dedup.exact_dedup_s", "s", "lower", "docs_per_s", CORPUS),
    _layer("operators.dedup.exact_removed", "count", "higher", "docs_per_s", CORPUS),
    _layer("operators.dedup.minhash_candidates_s", "s", "lower", "docs_per_s", CORPUS),
    _layer("operators.dedup.candidate_pairs", "count", "lower", "docs_per_s", CORPUS),
    _layer("operators.dedup.candidate_precision", "ratio", "higher", "docs_per_s", CORPUS),
    _layer("operators.dedup.planted_recall", "ratio", "higher", "docs_per_s", CORPUS),
    _layer("operators.curation.connected_components_s", "s", "lower", "docs_per_s", CORPUS),
    _layer("bench.failed_frac", "ratio", "lower", "docs_per_s", NEWS, CORPUS),
    _layer("bench.tracing_overhead_s", "s", "lower", "batch_latency_p50_s", NEWS, CORPUS),
)

LAYER_NAMES = tuple(m.name for m in PER_LAYER)


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    return next(m.unit for m in PER_LAYER if m.name == name)


def as_metrics(values: dict[str, float]) -> dict[str, dict]:
    """``{name: {"value": v, "unit": u}}`` in registry order."""
    return {n: {"value": float(v), "unit": unit_of(n)} for n, v in values.items()}
