"""Checkpoint / resume / idempotence tests for the staged KG pipeline
(north rule: 'checkpointed per partition with lineage + metrics so any
stage resumes idempotently')."""

import json
import os
import shutil

import pytest

from tests.conftest import SF_SMOKE
from stanza_spark.plans.pipeline import KGPipeline


def _graph_rows(df):
    return sorted(map(tuple, df.select(
        "subj_canon", "pred", "obj_canon", "support").collect()))


@pytest.fixture()
def base(tmp_path):
    return str(tmp_path / "kg")


def test_full_run_then_idempotent_rerun(spark, base):
    p = KGPipeline(spark, SF_SMOKE, base, n_buckets=4, buckets_per_job=2)
    g1 = _graph_rows(p.run())
    assert len(g1) > 0
    n_metrics = len(p.metrics())
    # re-run: every stage already complete -> no new work, same result
    g2 = _graph_rows(p.run())
    assert g1 == g2
    assert len(p.metrics()) == n_metrics
    # the consumer-facing graph is published as a SNAPSHOT table: one
    # version per run, same rows, previous snapshot time-travel-readable
    from stanza_spark.sources.icetable import IceTable
    ice = IceTable(spark, os.path.join(base, "ice", "graph"))
    assert ice.current_version() == 2                 # run + re-run
    assert _graph_rows(ice.read()) == g1
    assert _graph_rows(ice.read(version=1)) == g1


def test_kill_and_resume_matches_uninterrupted(spark, base):
    ref = KGPipeline(spark, SF_SMOKE, base + "-ref", n_buckets=4,
                     buckets_per_job=2)
    expected = _graph_rows(ref.run())

    p = KGPipeline(spark, SF_SMOKE, base, n_buckets=4, buckets_per_job=2)
    # die after 1 of 2 bucket groups in the words stage
    with pytest.raises(RuntimeError, match="simulated failure"):
        p.run(fail_in=("words", 1))
    assert p.completed_buckets("pages") == {0, 1, 2, 3}
    done_words = p.completed_buckets("words")
    assert len(done_words) == 2  # partial
    # resume: only missing buckets are processed
    got = _graph_rows(p.run())
    assert got == expected


def test_metrics_and_lineage_written(spark, base, monkeypatch):
    """Global stages (graph, pagerank) compute once per build and write
    all their buckets in one group, even with several groups per
    per-document stage; each stage's metrics rows add up to its table;
    lineage names the real input stages."""
    import stanza_spark.operators.graph as graph_ops
    import stanza_spark.plans.pipeline as pipeline
    calls = {"materialize_graph": 0, "pagerank": 0}

    def count_calls(mod, name):
        fn = getattr(mod, name)

        def counted(*a, **kw):
            calls[name] += 1
            return fn(*a, **kw)
        monkeypatch.setattr(mod, name, counted)
    count_calls(pipeline, "materialize_graph")
    count_calls(graph_ops, "pagerank")

    p = KGPipeline(spark, SF_SMOKE, base, n_buckets=4, buckets_per_job=2)
    p.run()
    assert calls == {"materialize_graph": 1, "pagerank": 1}
    m = p.metrics()
    stages = {x["stage"] for x in m}
    assert {"pages", "words", "mentions", "links", "triples", "graph"} <= stages
    assert all(x["rows"] > 0 for x in m if x["stage"] == "words")
    for s in ("graph", "pagerank"):
        assert [x["buckets"] for x in m if x["stage"] == s] == [[0, 1, 2, 3]]
    for s in pipeline.STAGES:   # the write counts only its own group
        assert sum(x["rows"] for x in m if x["stage"] == s) \
            == p.read_stage(s).count(), s

    def lineage(stage):
        with open(os.path.join(base, "_lineage", f"{stage}.json")) as f:
            return json.load(f)
    assert lineage("triples")["inputs"] == ["pages"]
    assert lineage("triples")["n_buckets"] == 4
    assert lineage("graph")["inputs"] == ["triples"]
    assert lineage("pagerank")["inputs"] == ["graph"]
