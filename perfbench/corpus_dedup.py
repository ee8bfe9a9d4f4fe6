"""corpus_dedup: the LLM-curation batch chain over a seeded corpus with
planted exact duplicates, near duplicates and low-quality documents:

  operators.curation.gate_documents → operators.dedup.exact_dedup →
  operators.dedup.minhash_candidates → operators.curation.connected_components
  → a write of the survivors (one document per near-duplicate cluster)

Loads the quality gate and the shuffle-heavy dedup operators; bypasses
HTML parsing, LDA and streaming. Document lengths follow news articles
with a long tail, because the gate's cost per document grows faster
than linearly with its length.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from . import gen
from .harness import Ctx, Outcome
from .tracing import Target, Tracer

DOCS = 200
RECALL_BOUND = 0.9  # planted near duplicates that must be removed
ORIGINAL_KEEP_BOUND = 0.98  # fresh documents that must survive


@dataclass
class State:
    path: str
    truth: dict
    props: dict
    family: dict[int, int]  # doc_id -> the original it was planted from


def setup(ctx: Ctx) -> State:
    inputs = gen.corpus_inputs(ctx.seed, DOCS)
    path = f"{ctx.work}/input/docs.parquet"
    gen.write_parquet(path, inputs["docs"], gen.DOC_SCHEMA)
    truth = inputs["truth"]
    family = {d: d for d in inputs["docs"]["doc_id"]}
    family.update(truth["exact"])
    family.update(truth["near"])
    return State(path, truth, inputs["props"], family)


def chain(spark, src: str, dst: str) -> None:
    from pyspark.sql import functions as F

    from bbc_news_data_pipeline_spark.operators import curation, dedup
    from bbc_news_data_pipeline_spark.sources import sinks

    docs = spark.read.parquet(src)
    gated = curation.gate_documents(docs, carry=("text",))
    # feeds both the candidate generation and the survivor join
    unique = dedup.exact_dedup(gated, "text", "doc_id").localCheckpoint(eager=False)
    pairs = dedup.minhash_candidates(unique, "doc_id", "text")
    clusters = curation.connected_components(pairs)
    survivors = (
        unique.join(clusters, unique["doc_id"] == clusters["v"], "left")
        .filter(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
        .select("doc_id", "text", "n_tokens")
    )
    sinks.overwrite_table(survivors, dst)


def run(ctx: Ctx, st: State, tag: str) -> Outcome:
    store = f"{ctx.work}/store-{tag}"
    t0 = time.time()
    failed: list[str] = []
    try:
        chain(ctx.spark, st.path, store)
    except Exception as exc:  # noqa: BLE001 - a failed run is counted, not raised
        failed.append(f"{tag} chain: {type(exc).__name__}: {exc}")
    return Outcome(time.time() - t0, DOCS, 1, failed, store)


def _kept(spark, store: str) -> set[int]:
    return {r.doc_id for r in spark.read.parquet(store).select("doc_id").collect()}


def _removed_share(ids, kept: set[int]) -> float:
    ids = list(ids)
    return sum(d not in kept for d in ids) / max(len(ids), 1)


def check(ctx: Ctx, st: State, last: Outcome) -> list[tuple[str, bool, str]]:
    """Every planted exact copy and low-quality document is gone, planted
    near copies are removed at least at RECALL_BOUND, fresh documents
    survive."""
    try:
        kept = _kept(ctx.spark, last.store)
    except Exception as exc:  # noqa: BLE001 - a missing table is a failed check
        return [("survivors_readable", False, f"{type(exc).__name__}: {exc}")]
    t = st.truth
    exact_left = sorted(set(t["exact"]) & kept)
    spam_left = sorted(set(t["spam"]) & kept)
    recall = _removed_share(t["near"], kept)
    originals = [d for d, src in st.family.items() if d == src and d not in t["spam"]]
    keep = 1.0 - _removed_share(originals, kept)
    return [
        ("exact_dups_removed", not exact_left, f"{len(exact_left)} left: {exact_left[:5]}"),
        ("spam_gated", not spam_left, f"{len(spam_left)} left: {spam_left[:5]}"),
        ("near_dup_recall", recall >= RECALL_BOUND, f"{recall:.4f} (bound {RECALL_BOUND})"),
        ("originals_kept", keep >= ORIGINAL_KEEP_BOUND,
         f"{keep:.4f} (bound {ORIGINAL_KEEP_BOUND})"),
    ]


def targets(st: State) -> list[Target]:
    def gate(tracer: Tracer, args, kwargs, out) -> None:
        tracer.count("gate.in", args[0].count())
        tracer.count("gate.out", out.count())

    def exact(tracer: Tracer, args, kwargs, out) -> None:
        tracer.count("exact.removed", args[0].count() - out.count())

    def cands(tracer: Tracer, args, kwargs, out) -> None:
        rows = out.select("id_a", "id_b").collect()
        tracer.count("cands.pairs", len(rows))
        tracer.count("cands.planted",
                     sum(st.family.get(a) == st.family.get(b) for a, b in rows))

    cur = "bbc_news_data_pipeline_spark.operators.curation"
    ded = "bbc_news_data_pipeline_spark.operators.dedup"
    return [
        Target(cur, "gate_documents", "operators.curation.gate_documents", lazy=True,
               observe=gate),
        Target(ded, "exact_dedup", "operators.dedup.exact_dedup", lazy=True, observe=exact),
        Target(ded, "minhash_candidates", "operators.dedup.minhash_candidates", lazy=True,
               observe=cands),
        Target(cur, "connected_components", "operators.curation.connected_components",
               lazy=True),
        Target("bbc_news_data_pipeline_spark.sources.sinks", "overwrite_table",
               "sources.sinks.overwrite_table"),
    ]


def layers(ctx: Ctx, st: State, untraced: list[Outcome], traced: Outcome) -> dict[str, float]:
    t, c = ctx.tracer.layer_times(), ctx.tracer.counters
    out = {f"{name}_s": t.get(name, 0.0) for name in (
        "operators.curation.gate_documents", "operators.dedup.exact_dedup",
        "operators.dedup.minhash_candidates", "operators.curation.connected_components",
        "sources.sinks.overwrite_table")}
    out["operators.curation.gate_kept_ratio"] = (
        c.get("gate.out", 0.0) / max(c.get("gate.in", 0.0), 1.0))
    out["operators.dedup.exact_removed"] = c.get("exact.removed", 0.0)
    out["operators.dedup.candidate_pairs"] = c.get("cands.pairs", 0.0)
    out["operators.dedup.candidate_precision"] = (
        c.get("cands.planted", 0.0) / max(c.get("cands.pairs", 0.0), 1.0))
    out["operators.dedup.planted_recall"] = _removed_share(
        st.truth["near"], _kept(ctx.spark, traced.store))
    return out
