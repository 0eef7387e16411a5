"""Benchmark for stanza_spark: seeded, closed-loop batch jobs at local[4].

    python3 perfbench/run.py --workload kg_adhoc --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One run: generate the inputs from the
seed, compute the DuckDB oracles, start Spark the way
``tools/run_pipeline.py`` does (repo on PYTHONPATH before the JVM starts),
run one untimed warm-up job, then run jobs back to back until both
``MIN_JOBS`` jobs and ``--seconds`` of job time are done.  Every job's result
is checked against the oracles outside the timed region.  ``--trace 1``
replaces the timed loop with one untimed and one traced job, the workload's
further gates (once to warm, once traced) and its module measurements (see
workloads.py), and reports the per-layer metrics instead.

The last line of stdout is the result object; everything else the run (or
the JVM it starts) prints goes to stderr.  Details (inputs, provenance,
per-job times, spans) go to ``.perfbench/results/``.  The exit code is 0
only if every job was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# one untimed warm-up job pays JIT, codegen and Python-worker start (4-5x a
# warm job); at the workloads' input sizes the second job is already within
# ~10 % of the plateau
WARMUP_JOBS = 1
# timed jobs per run, at least: the median of several jobs absorbs single
# GC or scheduling hiccups.  Five jobs outlast --seconds on both workloads,
# so every run's median is the same job of the run (its third); a count
# that varied with speed would move the median along the warm-up curve.
MIN_JOBS = 5


def declared_units(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str):
    """Keep everything Spark, the JVM and Python write inside ``work`` and
    put the repo on the workers' PYTHONPATH before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get(
        "PYTHONPATH", "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = jvm_opts
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def stop_spark(spark):
    """Stop the SparkContext, then the JVM, and wait for it to exit (the
    Python workers are its children and end with it)."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_job(spark, in_dir, gates, oracles, tracer=None):
    """Collect ``gates`` once -> (seconds, ok, note).  The oracle check is
    outside the timing."""
    from workloads import frames_equal, run_gates
    t0 = time.perf_counter()
    try:
        out = run_gates(spark, in_dir, gates, tracer)
    except Exception:  # a failed job is counted, not fatal
        return time.perf_counter() - t0, False, traceback.format_exc()
    seconds = time.perf_counter() - t0
    bad = [g for g in gates if not frames_equal(out[g], oracles[g])]
    return seconds, not bad, (f"mismatch vs oracle: {bad}" if bad else "")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS, oracle_frames, run_gates
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    for need in ("stanza_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"program not found: {need} missing under {ROOT}",
                  file=sys.stderr)
            return 2

    # the result line is the only thing on the real stdout
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    import gen
    import probes

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench", "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    load_before = probes.loadavg()
    workload = WORKLOADS[args.workload](work)

    in_dir = os.path.join(work, "input")
    inputs = gen.write_documents(in_dir, args.seed, workload.docs,
                                 workload.dup_share)
    oracles = oracle_frames(in_dir, workload.oracle_names(args.trace))

    from stanza_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=CORES,
                      extra={"spark.ui.showConsoleProgress": "false"})
    start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    t1 = time.perf_counter()
    for _ in range(WARMUP_JOBS):
        run_gates(spark, in_dir, workload.gates)
    warm_s = time.perf_counter() - t1
    counters = probes.SparkCounters(spark, CORES)

    jobs, notes = [], []
    metrics: dict[str, float] = {}
    if not args.trace:
        measured = 0.0
        while measured < args.seconds or len(jobs) < MIN_JOBS:
            with probes.RssSampler(jvm_pid) as rss:
                seconds, ok, note = run_job(spark, in_dir, workload.gates,
                                            oracles)
            measured += seconds
            jobs.append({"seconds": seconds, "ok": ok,
                         "peak_rss_mb": rss.peak_mb})
            if note:
                notes.append(note)
        good = [j for j in jobs if j["ok"]]
        if good:
            metrics = {
                "job_s": statistics.median(j["seconds"] for j in good),
                "setup_s": start_s + warm_s,
                # the JVM heap grows in steps from job to job; the mean of
                # the per-job peaks does not jump with where a step lands
                "peak_rss_mb": statistics.fmean(j["peak_rss_mb"]
                                                for j in good),
            }
    else:
        tracer = probes.Tracer()
        seconds, ok, note = run_job(spark, in_dir, workload.gates, oracles)
        jobs.append({"seconds": seconds, "ok": ok, "traced": False})
        notes += [note] if note else []
        since = counters.mark()
        with tracer.span("job"):
            t_seconds, t_ok, note = run_job(spark, in_dir, workload.gates,
                                            oracles, tracer)
        jobs.append({"seconds": t_seconds, "ok": t_ok, "traced": True})
        notes += [note] if note else []
        engine = counters.engine(since, t_seconds)
        execs = counters.executions(since)
        # further gates: once to warm their plans, once traced
        for traced in (None, tracer):
            for g in workload.extra_gates:
                seconds_g, ok_g, note = run_job(spark, in_dir, (g,), oracles,
                                                traced)
                jobs.append({"gate": g, "seconds": seconds_g, "ok": ok_g,
                             "traced": traced is not None})
                notes += [note] if note else []
        module_metrics, failures = workload.trace_modules(
            spark, in_dir, tracer, counters, oracles)
        if failures:
            jobs.append({"seconds": 0.0, "ok": False, "traced": True})
            notes += failures
        units = declared_units(1)
        metrics = {name: 0.0 for name in units}
        metrics.update({k: v for k, v in engine.items() if k in units})
        for key in ("python_s", "python_in_mb", "python_out_mb"):
            metrics[f"annotate.{key}"] = sum(e[key] for e in execs)
        for g in workload.gates + workload.extra_gates:
            if f"queries.s.{g}" in units:
                metrics[f"queries.s.{g}"] = tracer.seconds(f"queries.{g}")
        metrics.update(module_metrics)
        metrics["session.start_s"] = start_s
        metrics["session.warm_s"] = warm_s
        metrics["trace.overhead_s"] = t_seconds - seconds
        missing = set(metrics) - set(units)
        if missing:
            raise KeyError(f"metrics not declared in BENCHMARK.json: {missing}")

    prov = probes.provenance(ROOT, spark, load_before)
    stop_spark(spark)
    prov["loadavg_after"] = probes.loadavg()

    attempted = len(jobs)
    failed = sum(not j["ok"] for j in jobs)
    correct = failed == 0 and bool(metrics)
    units = declared_units(args.trace)
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "inputs": inputs, "provenance": prov,
              "jobs": jobs, "failed_share": failed / attempted,
              "notes": notes, "metrics": metrics}
    if args.trace:
        detail["spans"] = tracer.spans
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    for note in notes:
        print(note, file=sys.stderr)
    print(json.dumps({k: detail[k] for k in
                      ("workload", "seed", "inputs", "jobs", "failed_share")}),
          file=sys.stderr)
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]}
                          for k, v in metrics.items()}}
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
