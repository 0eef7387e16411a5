"""End-to-end KG pipeline with checkpointed stage tables, per-partition
lineage and metrics, and idempotent resume (north rule / SURVEY §2.3 C6).

Layout (parquet; the table API is deliberately thin so an Iceberg catalog
can replace the directory convention — this container has no Iceberg jars):

    <base>/stage=<name>/bucket=<b>/part-*.parquet   stage data
    <base>/_manifest/<name>.json                    completed buckets
    <base>/_metrics/<name>-<min>-<max>.json         rows + wall time per group
    <base>/_lineage/<name>.json                     inputs + sf_dir + n_buckets

Design for 10^12 documents:

* the corpus is range-partitioned by ``pmod(xxhash64(url), n_buckets)`` —
  a stable, data-independent split, so every per-document stage (output
  bucketed on ``url``) processes bucket *b* of its input into bucket *b*
  of its output with no cross-bucket shuffle (joins within a page key
  stay bucket-local);
* a per-document stage runs its missing buckets in groups of
  ``buckets_per_job``, each group one write over the pruned input
  buckets; the manifest records completed buckets, so a killed run
  resumes by processing only missing buckets (per-partition restart
  without reprocessing);
* a global stage (``graph``, bucketed on ``subj_canon``; ``pagerank``, on
  ``node``) reads its inputs whole, computes once, and writes all of its
  missing buckets in one group;
* writes go to a temp dir then atomically rename into place (the parquet
  stand-in for an Iceberg snapshot commit), making re-runs idempotent;
* metrics per bucket group (rows counted by an ``Observation`` on the
  write itself, wall time) give the per-partition observability the
  north rule requires (row counts catch drift); lineage per stage records
  its inputs, sf_dir, n_buckets and write time.  It records no
  config fingerprint (confs, git rev, package hash) yet, so code skew
  between resumed and fresh buckets is not caught (ROADMAP items 3/6).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..sources.pages import pages as pages_src
from ..operators.html import extract_text_expr
from ..operators.annotate import annotate
from ..operators.coref import pronouns_narrow
from ..operators.mentions import MENTION_COLS, MENTION_PROCS, decode_mentions
from ..operators.triples import triples_narrow
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
        """Write one bucket group atomically (temp dir + rename per bucket);
        the write itself counts the group's rows."""
        t0 = time.time()
        rows = Observation()
        part = df.filter(F.col("bucket").isin(bucket_group)) \
            .observe(rows, F.count(F.lit(1)).alias("rows"))
        tmp = os.path.join(self.base, f"_tmp-{stage}-{min(bucket_group)}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)  # leftover from a killed run: idempotent redo
        part.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
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
        self._write_metrics(stage, bucket_group, rows.get["rows"],
                            time.time() - t0)
        self._mark_completed(stage, bucket_group)

    def _run_stage(self, stage: str, fn, inputs: list[str],
                   fail_after_groups: int | None = None,
                   bucket_col: str = "url"):
        """Process the stage's missing buckets; returns the groups written.

        ``fn(*input_dfs)`` transforms the input stage tables; a source
        stage (``inputs`` names no stage) calls it with no arguments.  The
        output is bucketed by ``pmod(xxhash64(bucket_col), n_buckets)``.

        A stage bucketed on ``url`` is per-document: inputs and output are
        co-bucketed, so each group of ``buckets_per_job`` missing buckets
        reads only its own input partitions and resuming one bucket
        computes only that bucket.  Any other stage is global: pruning its
        input would drop rows, so it reads its inputs whole, calls ``fn``
        once and writes all missing buckets as one group.
        ``fail_after_groups`` simulates a killed job (tests)."""
        missing = sorted(set(range(self.n_buckets)) - self.completed_buckets(stage))
        if not missing:
            return 0
        per_doc = bucket_col == "url"
        step = self.buckets_per_job if per_doc else len(missing)
        groups = [missing[i:i + step] for i in range(0, len(missing), step)]
        for gi, g in enumerate(groups):
            if fail_after_groups is not None and gi >= fail_after_groups:
                raise RuntimeError(f"simulated failure in stage {stage}")
            ins = [self.read_stage(n) for n in inputs if n in STAGES]
            if per_doc:  # partition pruning
                ins = [d.filter(F.col("bucket").isin(g)) for d in ins]
            out = fn(*(d.drop("bucket") for d in ins)).withColumn(
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

        # the words stage feeds only the mentions decode: NER without
        # POS/lemma/depparse, projected to the decode's columns
        self._run_stage(
            "words",
            lambda p: annotate(p, processors=MENTION_PROCS)
            .select(*MENTION_COLS),
            ["pages"], hook("words"))

        self._run_stage(
            "mentions", decode_mentions, ["words"], hook("mentions"))

        self._run_stage(
            "links",
            lambda m: link_mentions_with_fallback(m, alias_df(self.spark)),
            ["mentions"], hook("links"))

        # coref and triples are per-page kernels: each reads the pages
        # stage and runs one narrow Arrow pass (its own annotation), so
        # neither reads the words or mentions stage
        self._run_stage(
            "coref", pronouns_narrow, ["pages"], hook("coref"))

        self._run_stage(
            "triples", triples_narrow, ["pages"], hook("triples"))

        # global stages: graph is an aggregate over all url buckets,
        # bucketed by subject hash; pagerank (entity importance over the
        # graph) is bucketed by node hash
        self._run_stage(
            "graph", lambda t: materialize_graph(t, alias_df(self.spark)),
            ["triples"], hook("graph"), bucket_col="subj_canon")

        from ..operators.graph import pagerank
        self._run_stage(
            "pagerank",
            lambda g: pagerank(g.select(F.col("subj_canon").alias("src"),
                                        F.col("obj_canon").alias("dst"))),
            ["graph"], hook("pagerank"), bucket_col="node")

        # publish the deduplicated (subj, pred, obj) graph as a snapshot
        # table (north rule: "materialize ... Iceberg graph tables"):
        # atomic commit, time travel, manifest-stats pruning — the
        # consumer-facing table, versioned per pipeline run
        from ..sources.icetable import IceTable
        ice = IceTable(self.spark, os.path.join(self.base, "ice", "graph"))
        ice.overwrite(self.read_stage("graph").drop("bucket"))
        return self.read_stage("graph")
