"""news_batch: the reference DAG, ``pipeline.bbc_news.build_pipeline(...).run()``,
on a fresh store per run, over seeded BBC-shaped pages and a sitemap.

Loads sources.sitemap, sources.html_articles, sources.sinks,
operators.topics and nlp.sentiment; bypasses dedup, the quality gate
and streaming state.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from . import gen
from .harness import Ctx, Outcome
from .metrics import NEWS_STAGES
from .stats import median
from .tracing import Target, Tracer

ARTICLES = 1500
LDA_K = gen.NEWS_TOPICS


@dataclass
class State:
    paths: dict[str, str]
    expect: dict
    props: dict
    n: int


def setup(ctx: Ctx, n: int = ARTICLES) -> State:
    inputs = gen.news_inputs(ctx.seed, n)
    paths = gen.write_news(inputs, f"{ctx.work}/input")
    return State(paths, inputs["expect"], inputs["props"], n)


def _wrap_stages(tracer: Tracer, pipe) -> None:
    for stage in pipe.stages.values():
        fn = stage.fn

        def traced(results, _fn=fn, _name=stage.name):
            with tracer.span(f"pipeline.runner.stage.{_name}"):
                return _fn(results)

        stage.fn = traced


def run(ctx: Ctx, st: State, tag: str) -> Outcome:
    from bbc_news_data_pipeline_spark.pipeline.bbc_news import build_pipeline

    spark = ctx.spark
    store = f"{ctx.work}/store-{tag}"
    t0 = time.time()
    pipe = build_pipeline(
        spark, spark.read.parquet(st.paths["sitemap"]), spark.read.parquet(st.paths["pages"]),
        store, newest_n=st.n, lda_k=LDA_K,
    )
    if ctx.tracer is not None:
        _wrap_stages(ctx.tracer, pipe)
    report = pipe.run()
    latency = time.time() - t0

    failed = [f"{tag} stage {k}: {v}" for k, v in report.failed.items()]
    e, res = st.expect, report.results
    counts = {
        "discover_links": e["discover_links"],
        "crawl_articles": e["crawl_articles"],
        "prepare": e["prepare"],
        "sentiment": e["prepare"],
        "emotion": e["prepare"],
    }
    for stage, want in counts.items():
        if stage in res and res[stage] != want:
            failed.append(f"{tag} check {stage}_rows: {res[stage]} != {want}")
    if "topics" in res and res["topics"]["n_topics"] != LDA_K:
        failed.append(f"{tag} check n_topics: {res['topics']['n_topics']} != {LDA_K}")
    return Outcome(latency, st.n, len(pipe.stages) + len(counts) + 1, failed, store,
                   {"timings": report.timings, "failed_stages": len(report.failed)})


def check(ctx: Ctx, st: State, last: Outcome) -> list[tuple[str, bool, str]]:
    """Planted sentiment recovered, daily label shares sum to ~100."""
    from pyspark.sql import functions as F

    spark = ctx.spark
    out: list[tuple[str, bool, str]] = []
    try:
        got = {r.url: r.sentiment_label for r in
               spark.read.parquet(f"{last.store}/articles_sentiment")
               .select("url", "sentiment_label").collect()}
        wrong = sum(got.get(u) != lab for u, lab in st.expect["labels"].items())
        out.append(("sentiment_labels", wrong == 0 and len(got) == len(st.expect["labels"]),
                    f"{wrong} of {len(st.expect['labels'])} planted labels missed"))
        sums = [r.s for r in spark.read.parquet(f"{last.store}/stats_daily_share")
                .groupBy("day").agg(F.sum("pct").alias("s")).collect()]
        bad = [s for s in sums if abs(s - 100.0) > 0.5]
        out.append(("daily_share_sums", bool(sums) and not bad,
                    f"{len(sums)} days, off: {bad[:3]}"))
    except Exception as exc:  # noqa: BLE001 - a missing table is a failed check
        out.append(("outputs_readable", False, f"{type(exc).__name__}: {exc}"))
    return out


def _count_offered(tracer: Tracer, args, kwargs, out) -> None:
    tracer.count("keyed_append.offered", args[1].count())
    tracer.count("keyed_append.appended", out)


def _count_extract(tracer: Tracer, args, kwargs, out) -> None:
    tracer.count("extract.pages", args[0].count())
    tracer.count("extract.articles", out.count())


def _vocab(tracer: Tracer, args, kwargs, out) -> None:
    tracer.count("lda.vocab", len(out.cv_model.vocabulary))


def targets(st: State) -> list[Target]:
    bbc = "bbc_news_data_pipeline_spark.pipeline.bbc_news"
    return [
        Target(bbc, "parse_links", "sources.sitemap.parse_links", lazy=True),
        Target(bbc, "extract_articles", "sources.html_articles.extract", lazy=True,
               observe=_count_extract),
        Target(bbc, "prepare_articles", "sources.html_articles.prepare", lazy=True),
        Target("bbc_news_data_pipeline_spark.sources.sinks", "keyed_append",
               "sources.sinks.keyed_append", observe=_count_offered),
        Target("bbc_news_data_pipeline_spark.sources.sinks", "overwrite_table",
               "sources.sinks.overwrite_table"),
        Target(bbc, "fit_lda", "operators.topics.fit_lda", observe=_vocab),
        Target(bbc, "dominant_topic", "operators.topics.dominant_topic", lazy=True),
        Target(bbc, "with_sentiment", "nlp.sentiment.with_sentiment", lazy=True),
        Target(bbc, "with_emotion", "nlp.sentiment.with_emotion", lazy=True),
    ]


def layers(ctx: Ctx, st: State, untraced: list[Outcome], traced: Outcome) -> dict[str, float]:
    """Stage times come from the untraced runs' ``RunReport.timings``
    (median over the window); layer times and ratios from the traced run."""
    out: dict[str, float] = {}
    for s in NEWS_STAGES:
        vals = [r.extra["timings"].get(s, 0.0) for r in untraced]
        out[f"pipeline.runner.stage_s.{s}"] = median(vals)
    out["pipeline.runner.failed_stages"] = traced.extra["failed_stages"]
    t, c = ctx.tracer.layer_times(), ctx.tracer.counters
    for layer in ("sources.sitemap.parse_links", "sources.html_articles.extract",
                  "sources.html_articles.prepare", "sources.sinks.keyed_append",
                  "sources.sinks.overwrite_table", "operators.topics.fit_lda",
                  "operators.topics.dominant_topic", "nlp.sentiment.with_sentiment",
                  "nlp.sentiment.with_emotion"):
        out[f"{layer}_s"] = t.get(layer, 0.0)
    out["sources.html_articles.kept_ratio"] = (
        c.get("extract.articles", 0.0) / max(c.get("extract.pages", 0.0), 1.0))
    out["sources.sinks.new_ratio"] = (
        c.get("keyed_append.appended", 0.0) / max(c.get("keyed_append.offered", 0.0), 1.0))
    out["operators.topics.vocab_size"] = c.get("lda.vocab", 0.0)
    return out
