"""Run every workload over several seeds and summarise each metric.

    python3 perfbench/all.py                      # seeds 1-10, --trace 0
    python3 perfbench/all.py --seeds 1 2 3 --workloads kg_adhoc
    python3 perfbench/all.py --trace 1 --seeds 1

Each run is ``perfbench/run.py`` in its own process, one after another.
Prints, per workload and metric: unit, median, quartiles and the spread
(quartile distance / median) next to the bound BENCHMARK.json fixes, and
writes the raw results to ``.perfbench/results/summary.json``.  Exits 1 if
any run failed or reported an incorrect result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=range(1, 11))
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in
              spec["per_layer" if args.trace else "end_to_end"]}

    runs, ok = [], True
    for w in args.workloads:
        for seed in args.seeds:
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True)
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else None
            good = p.returncode == 0 and bool(result) and result["correct"]
            ok &= good
            runs.append({"workload": w, "seed": seed, "exit": p.returncode,
                         "result": result})
            print(f"{w} seed={seed} exit={p.returncode} "
                  f"correct={bool(result) and result['correct']}",
                  file=sys.stderr, flush=True)

    print(f"{'workload':16} {'metric':30} {'unit':6} {'median':>10} "
          f"{'q1':>10} {'q3':>10} {'spread':>7} {'bound':>6}")
    for w in args.workloads:
        results = [r["result"] for r in runs
                   if r["workload"] == w and r["result"]]
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in results
                    if name in r["metrics"]]
            if not vals:
                continue
            unit = results[0]["metrics"][name]["unit"]
            med = statistics.median(vals)
            q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                         else (vals[0], None, vals[0]))
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds[name]
            print(f"{w:16} {name:30} {unit:6} {med:10.4g} {q1:10.4g} "
                  f"{q3:10.4g} {spread:7.3f} "
                  f"{'' if bound is None else bound:>6}")
    out = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(runs, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
