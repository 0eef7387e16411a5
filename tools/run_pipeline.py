"""spark-submit entry point for the staged KG pipeline.

Cluster usage (the north star's deployment shape):

    zip -r stanza_spark.zip stanza_spark
    spark-submit --py-files stanza_spark.zip tools/run_pipeline.py \
        --sf-dir /data/pages --out /data/kg --buckets 4096

Local usage: python tools/run_pipeline.py --sf-dir /root/testdata/sf0.01 \
        --out /tmp/kg

Resumable: re-running with the same --out continues from the per-bucket
manifests (plans/pipeline.py); a completed run is a no-op.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--buckets-per-job", type=int, default=4)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from stanza_spark.session import get_spark
    from stanza_spark.plans.pipeline import KGPipeline

    spark = get_spark("kg-pipeline", cores=args.cores,
                      extra={"spark.ui.showConsoleProgress": "false"})
    p = KGPipeline(spark, args.sf_dir, args.out,
                   n_buckets=args.buckets,
                   buckets_per_job=args.buckets_per_job)
    graph = p.run()
    print(json.dumps({
        "graph_edges": graph.count(),
        "stages_metrics": p.metrics(),
        "out": args.out,
    }))


if __name__ == "__main__":
    main()
