"""End-to-end KG pipeline with checkpointed stage tables, per-partition
lineage and metrics, and idempotent resume (north rule / SURVEY §2.3 C6).

Layout (parquet; the table API is deliberately thin so an Iceberg catalog
can replace the directory convention — this container has no Iceberg jars):

    <base>/stage=<name>/bucket=<b>/part-*.parquet   stage data
    <base>/_manifest/<name>.json                    completed buckets
    <base>/_metrics/<name>-<b>.json                 rows + wall time per bucket
    <base>/_lineage/<name>.json                     inputs + sf_dir + n_buckets

Design for 10^12 documents:

* the corpus is range-partitioned by ``pmod(xxhash64(url), n_buckets)`` —
  a stable, data-independent split, so every stage processes bucket *b*
  of its input into bucket *b* of its output with no cross-bucket shuffle
  in the annotate stages (joins within a page key stay bucket-local);
* each bucket group is one job; the manifest records completed buckets, so
  a killed run resumes by processing only missing buckets (anti-join
  against the manifest — per-partition restart without reprocessing);
* writes go to a temp dir then atomically rename into place (the parquet
  stand-in for an Iceberg snapshot commit), making re-runs idempotent;
* metrics per bucket group give the per-partition observability the
  north rule requires (row counts catch drift); lineage per stage records
  its inputs, sf_dir, n_buckets and write time.  It records no config
  fingerprint (confs, git rev, package hash) yet, so code skew between
  resumed and fresh buckets is not caught (ROADMAP items 3/6).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.pages import pages as pages_src
from ..operators.html import extract_text_expr
from ..operators.annotate import annotate, triples_narrow
from ..operators.mentions import decode_mentions
from ..operators.linking import alias_df, link_mentions_with_fallback
from ..operators.graph import materialize_graph

STAGES = ["pages", "words", "mentions", "links", "coref", "triples",
          "graph", "pagerank"]


class KGPipeline:
    def __init__(self, spark: SparkSession, sf_dir: str, base_dir: str,
                 n_buckets: int = 8, buckets_per_job: int = 4):
        self.spark = spark
        self.sf_dir = sf_dir
        self.base = base_dir
        self.n_buckets = n_buckets
        self.buckets_per_job = buckets_per_job
        for d in ("_manifest", "_metrics", "_lineage"):
            os.makedirs(os.path.join(base_dir, d), exist_ok=True)

    # -- manifest / lineage helpers ----------------------------------------

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.base, "_manifest", f"{stage}.json")

    def completed_buckets(self, stage: str) -> set[int]:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return set()
        with open(p) as f:
            return set(json.load(f)["buckets"])

    def _mark_completed(self, stage: str, buckets: list[int]):
        done = sorted(self.completed_buckets(stage) | set(buckets))
        with open(self._manifest_path(stage), "w") as f:
            json.dump({"stage": stage, "buckets": done,
                       "n_buckets": self.n_buckets}, f)

    def _write_lineage(self, stage: str, inputs: list[str]):
        with open(os.path.join(self.base, "_lineage", f"{stage}.json"), "w") as f:
            json.dump({
                "stage": stage, "inputs": inputs, "sf_dir": self.sf_dir,
                "n_buckets": self.n_buckets,
                "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }, f)

    def _write_metrics(self, stage: str, bucket_group: list[int],
                       rows: int, seconds: float):
        name = f"{stage}-{min(bucket_group)}-{max(bucket_group)}.json"
        with open(os.path.join(self.base, "_metrics", name), "w") as f:
            json.dump({"stage": stage, "buckets": bucket_group,
                       "rows": rows, "seconds": round(seconds, 3)}, f)

    def metrics(self) -> list[dict]:
        out = []
        mdir = os.path.join(self.base, "_metrics")
        for fn in sorted(os.listdir(mdir)):
            with open(os.path.join(mdir, fn)) as f:
                out.append(json.load(f))
        return out

    # -- stage IO ------------------------------------------------------------

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.base, f"stage={stage}")

    def read_stage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._stage_dir(stage))

    def _write_buckets(self, stage: str, df: DataFrame, bucket_group: list[int]):
        """Write one bucket group atomically (temp dir + rename per bucket)."""
        t0 = time.time()
        part = df.filter(F.col("bucket").isin(bucket_group))
        tmp = os.path.join(self.base, f"_tmp-{stage}-{min(bucket_group)}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)  # leftover from a killed run: idempotent redo
        part.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        rows = self.spark.read.parquet(tmp).count()
        for b in bucket_group:
            src = os.path.join(tmp, f"bucket={b}")
            dst = os.path.join(self._stage_dir(stage), f"bucket={b}")
            if os.path.exists(src):
                if os.path.exists(dst):
                    shutil.rmtree(dst)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
            else:  # bucket empty in this run — still mark it complete
                os.makedirs(dst, exist_ok=True)
        shutil.rmtree(tmp, ignore_errors=True)
        self._write_metrics(stage, bucket_group, rows, time.time() - t0)
        self._mark_completed(stage, bucket_group)

    def _run_stage(self, stage: str, fn, inputs: list[str],
                   fail_after_groups: int | None = None,
                   bucket_col: str = "url"):
        """Process missing buckets in groups.

        ``fn(*input_dfs)`` transforms the (bucket-pruned) input stage
        tables; for source stages (``inputs`` not stage names) it is called
        with no arguments.  Inputs and outputs are co-bucketed on
        xxhash64(url), so pruning the input partitions to the group is
        correct for every per-document stage — resuming one missing bucket
        reads and computes only that bucket, not the whole corpus.
        ``fail_after_groups`` simulates a killed job (tests)."""
        missing = sorted(set(range(self.n_buckets)) - self.completed_buckets(stage))
        if not missing:
            return 0
        stage_inputs = [i for i in inputs if i in STAGES]
        groups = [missing[i:i + self.buckets_per_job]
                  for i in range(0, len(missing), self.buckets_per_job)]
        for gi, g in enumerate(groups):
            if fail_after_groups is not None and gi >= fail_after_groups:
                raise RuntimeError(f"simulated failure in stage {stage}")
            if stage_inputs:
                ins = [
                    self.read_stage(n)
                    .filter(F.col("bucket").isin(g))   # partition pruning
                    .drop("bucket")
                    for n in stage_inputs
                ]
                out = fn(*ins)
            else:
                out = fn()
            out = out.withColumn(
                "bucket", F.pmod(F.xxhash64(bucket_col), F.lit(self.n_buckets)))
            self._write_buckets(stage, out, g)
        self._write_lineage(stage, inputs)
        return len(groups)

    # -- stage definitions -----------------------------------------------------

    def run(self, fail_in: tuple[str, int] | None = None) -> DataFrame:
        """Run (or resume) all stages; returns the graph DataFrame.
        ``fail_in=(stage, n)`` kills the run after n bucket groups of the
        named stage, for resume tests."""
        def hook(stage):
            return fail_in[1] if fail_in and fail_in[0] == stage else None

        self._run_stage(
            "pages",
            lambda: pages_src(self.spark, self.sf_dir, with_html=True)
            .withColumn("text", extract_text_expr(F.col("html")))
            .drop("html"),
            [self.sf_dir], hook("pages"))

        self._run_stage(
            "words", annotate, ["pages"], hook("words"))

        self._run_stage(
            "mentions", decode_mentions, ["words"], hook("mentions"))

        self._run_stage(
            "links",
            lambda m: link_mentions_with_fallback(m, alias_df(self.spark)),
            ["mentions"], hook("links"))

        def coref_stage(w, m):
            from ..operators.coref import coref_input, resolve_pronouns
            return resolve_pronouns(coref_input(w, m, alias_df(self.spark)))

        self._run_stage(
            "coref", coref_stage, ["words", "mentions"], hook("coref"))

        self._run_stage(
            "triples", triples_narrow, ["pages"], hook("triples"))

        # graph is a global aggregate over all url buckets; its OUTPUT is
        # bucketed by subject hash (stage_inputs pruning doesn't apply —
        # pass the full triples table explicitly)
        self._run_stage(
            "graph",
            lambda: materialize_graph(
                self.read_stage("triples").drop("bucket"),
                alias_df(self.spark)),
            ["__all_triples__"], hook("graph"), bucket_col="subj_canon")
        self._write_lineage("graph", ["triples"])

        # entity importance over the materialized graph (also a global
        # stage; output bucketed by node hash)
        from ..operators.graph import pagerank
        self._run_stage(
            "pagerank",
            lambda: pagerank(
                self.read_stage("graph").drop("bucket")
                .select(F.col("subj_canon").alias("src"),
                        F.col("obj_canon").alias("dst"))),
            ["__graph__"], hook("pagerank"), bucket_col="node")
        self._write_lineage("pagerank", ["graph"])

        # publish the deduplicated (subj, pred, obj) graph as a snapshot
        # table (north rule: "materialize ... Iceberg graph tables"):
        # atomic commit, time travel, manifest-stats pruning — the
        # consumer-facing table, versioned per pipeline run
        from ..sources.icetable import IceTable
        ice = IceTable(self.spark, os.path.join(self.base, "ice", "graph"))
        ice.overwrite(self.read_stage("graph").drop("bucket"))
        return self.read_stage("graph")
