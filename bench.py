"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on the session's default cores
($SPARK_GRAFT_CPUS, else the host's usable cores).

Prints ONE JSON line:
  {"metric": "headline_total", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "docs": ..., "kg_docs_per_sec": ...,
   "full": "BENCH_FULL.json"}

The flagship pipeline (pages -> annotate -> triples -> graph) is measured
end-to-end; per-query timings cover the operator families.  Whether a
change helped is perfbench/'s question (perfbench/README.md); the N->4N
scaling pair comes from tools/scaling.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: one per operator family (full gate list runs in verify)
HEADLINE = [
    "kg_extract_text",
    "kg_tokens",
    "kg_triples",
    "kg_triples_mst",
    "kg_graph_edges",
    "kg_links_fuzzy",
    "kg_constituency",
    "rel_pricing_summary",
    "rel_top_orders",
    "rel_sessionize",
    "text_dedup_lsh_pairs",
    "text_ann_topk",
    "text_ann_ivf",
    "text_langid",
]


def run_once(queries: dict, names, repeats: int = 3):
    """Time each query as min over >= 3 INTERLEAVED passes: a transient
    VM stall (this host's JVM timings are bimodal, BENCH.md) then hits one
    pass of many queries instead of every sample of one query — a 20x
    outlier can no longer become a query's reported number.  Returns
    (min seconds, row counts, all samples) per query."""
    from stanza_spark.session import get_spark
    spark = get_spark("bench",
                      extra={"spark.ui.showConsoleProgress": "false"})
    # warm python workers / codegen once so the first query isn't charged
    # session cold-start (a long-lived cluster never re-pays it)
    queries[names[0]](spark, SF_DIR).count()
    samples = {name: [] for name in names}
    rows = {}
    for _ in range(repeats):
        for name in names:
            t0 = time.time()
            rows[name] = queries[name](spark, SF_DIR).count()
            samples[name].append(round(time.time() - t0, 3))
    spark.stop()
    return {name: min(s) for name, s in samples.items()}, rows, samples


def main():
    import __spark_entry__ as entrymod
    # headline spans driver gates AND rotated physical variants (the
    # production plans kg_triples_mst / text_ann_ivf stay benchmarked)
    queries = {**entrymod.queries(), **entrymod.parity_queries()}

    timings, rows, samples = run_once(queries, HEADLINE)
    total = round(sum(timings.values()), 3)

    import duckdb
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{SF_DIR}/documents.parquet'").fetchone()[0]
    # docs/sec through the full KG chain (extract + annotate + triples +
    # graph are sequential stages over the same corpus)
    kg_time = (timings["kg_extract_text"] + timings["kg_tokens"]
               + timings["kg_triples"] + timings["kg_graph_edges"])

    # the COMPACT driver line: small enough that a tail-truncating wrapper
    # can never cut the JSON mid-object; the complete object — raw
    # samples and rows — self-persists to BENCH_FULL.json next to this
    # script.
    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "docs": n_docs,
        "kg_docs_per_sec": round(n_docs / kg_time, 1) if kg_time else None,
        "full": "BENCH_FULL.json",
    }
    full = {**out, "rows": rows, "samples": samples}

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
