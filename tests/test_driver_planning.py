"""Driver-side planning cost: the ``documents`` read needs no Spark job
(declared schema, footer checked on the driver), and the coref and
declared-pattern triple gates build their plans in a bounded number of
py4j calls (one narrow pass over pages, not Column-API chains)."""

import collections
import contextlib
import io
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_CORRECT, SF_SMOKE

CORPORA = [SF_SMOKE, SF_CORRECT,
           os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")]


def _declared(spark):
    from stanza_spark.sources.pages import DOCUMENTS_SCHEMA
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(
        f"{SF_SMOKE}/documents.parquet").schema


def test_declared_documents_schema_matches_every_writer(spark, tmp_path):
    """DOCUMENTS_SCHEMA is what schema inference finds in every corpus the
    repo reads: the three fixtures, a tools/scaling.py DuckDB replica and
    a perfbench/gen.py corpus."""
    from perfbench.gen import write_documents
    from tools.scaling import prepare_input
    prepare_input(SF_SMOKE, 2, str(tmp_path))
    write_documents(str(tmp_path / "gen"), 1, 20, 0.0)
    want = _declared(spark)
    for sf in [*CORPORA, str(tmp_path), str(tmp_path / "gen")]:
        got = spark.read.parquet(f"{sf}/documents.parquet").schema
        assert got == want, sf


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("bad", ["dropped_lang", "int32_doc_id"])
def test_bad_documents_footer_raises_before_any_job(spark, tmp_path, bad):
    """A footer that does not match the declared schema is a ValueError
    naming the column, raised before Spark runs anything (with a declared
    schema Spark itself would read a missing column as NULL)."""
    from stanza_spark.sources.pages import pages
    table = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    if bad == "dropped_lang":
        table, column = table.drop_columns(["lang"]), "'lang'"
    else:
        i = table.schema.get_field_index("doc_id")
        table = table.set_column(i, "doc_id",
                                 table["doc_id"].cast(pa.int32()))
        column = "'doc_id'"
    pq.write_table(table, str(tmp_path / "documents.parquet"))

    def build():
        with pytest.raises(ValueError, match=column):
            pages(spark, str(tmp_path), with_html=False)
    assert _jobs_in(spark, f"bad-footer-{bad}", build) == []


def test_good_documents_read_runs_no_job(spark):
    """No schema-inference job: building pages() over a valid corpus
    submits nothing."""
    from stanza_spark.sources.pages import pages
    assert _jobs_in(spark, "good-footer",
                    lambda: pages(spark, SF_SMOKE, with_html=False)) == []


@pytest.mark.parametrize("gate", [
    "kg_coref_chains", "kg_coref", "kg_triples_pattern", "kg_triples_chain",
    "kg_triples_subj_chain", "kg_triples_deep", "kg_ssurgeon", "kg_semgrex"])
def test_gates_build_in_few_py4j_calls(spark, monkeypatch, gate):
    """Building a gate that is pages and one narrow Arrow pass (the coref,
    declared-pattern triple and Semgrex gates) sends at most 100 py4j call
    commands (their Column-API window and join plans sent about 1 000).
    Only py4j's call command ``c`` is counted: the object-release
    commands the Python GC sends vary run to run."""
    import stanza_spark.queries as Q
    client = spark.sparkContext._gateway._gateway_client
    sent = collections.Counter()
    send = client.send_command

    def counting(command, *args, **kwargs):
        sent[command.split("\n", 1)[0]] += 1
        return send(command, *args, **kwargs)
    monkeypatch.setattr(client, "send_command", counting)
    Q.KG_QUERIES[gate](spark, SF_SMOKE)
    assert 0 < sent["c"] <= 100, (gate, sent)


def test_coref_chains_physical_operators_pinned(spark):
    """The chains plan keeps its physical shape: the pages scan, its
    one input-spread exchange and ONE MapInPandas that annotates, links
    and resolves each page — no window, sort, aggregate, join or union."""
    import stanza_spark.queries as Q
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        Q.q_kg_coref_chains(spark, SF_SMOKE).explain("formatted")
    tree = buf.getvalue().split("== Physical Plan ==")[1]
    nodes = collections.Counter(re.findall(r"^\(\d+\) (\w+)", tree, re.M))
    assert {k: nodes[k] for k in (
        "MapInPandas", "Window", "Sort", "ObjectHashAggregate",
        "HashAggregate", "BroadcastHashJoin", "SortMergeJoin", "Union",
        "BroadcastExchange", "Exchange")} == {
        "MapInPandas": 1, "Window": 0, "Sort": 0, "ObjectHashAggregate": 0,
        "HashAggregate": 0, "BroadcastHashJoin": 0, "SortMergeJoin": 0,
        "Union": 0, "BroadcastExchange": 0, "Exchange": 1}, nodes
