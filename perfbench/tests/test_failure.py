"""A stage that fails is counted as a failed operation, and the run is
not reported as a fast one."""

import os

import pytest

from perfbench import harness, news_batch
from perfbench.harness import Outcome

from conftest import ROOT


def test_failed_run_counts_zero_throughput():
    ok = Outcome(2.0, 100, 7, [], "s")
    bad = Outcome(0.1, 100, 7, ["stage crawl_articles: boom"], "s")
    assert harness.summarize([ok])["docs_per_s"] == 50.0
    assert harness.summarize([bad])["docs_per_s"] == 0.0


@pytest.fixture
def env(monkeypatch, tmp_path):
    for var in ("PYTHONPATH", "TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS",
                "JAVA_TOOL_OPTIONS"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    harness.configure_env(ROOT, str(tmp_path))
    return tmp_path


def test_forced_stage_failure_is_counted(env, monkeypatch):
    """Extraction raises, so crawl_articles fails, the stages after it
    are skipped or fail, the output checks fail, and throughput is 0."""
    from bbc_news_data_pipeline_spark.pipeline import bbc_news

    def broken(*args, **kwargs):
        raise RuntimeError("forced failure")

    monkeypatch.setattr(bbc_news, "extract_articles", broken)
    wl = type("Small", (), {
        "setup": staticmethod(lambda ctx: news_batch.setup(ctx, n=40)),
        "run": staticmethod(news_batch.run),
        "check": staticmethod(news_batch.check),
    })
    ctx = harness.Ctx(root=ROOT, work=str(env), workload="news_batch", seed=1,
                      seconds=0.0, trace=False)
    try:
        record = harness.execute(ctx, wl)
    finally:
        harness.stop_spark(ctx)
    assert any("crawl_articles" in f and "forced failure" in f for f in record["failures"])
    assert any(f.startswith("check ") for f in record["failures"])
    assert record["failed_frac"] > 0
    assert record["metrics"]["docs_per_s"]["value"] == 0.0
    assert not harness.stats.descendants(os.getpid())
