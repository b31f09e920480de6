#!/usr/bin/env python3
"""Run the benchmark on several seeds and report how steady each metric is.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1] [--workload NAME ...] [--out FILE]

Run it from the repository root. For each workload it runs
`perfbench/run.py` once per seed (trace off) and, for each end-to-end
metric, prints the median, the quartiles and the quartile spread as a share
of the median, next to the metric's bound in BENCHMARK.json. With --out it
also keeps each run's report line (pass times, input shape) in the file.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    report = {}
    for w in workloads:
        values, failures, reports = {}, 0, {}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            if proc.returncode != 0:
                failures += 1
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                continue
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            reports[seed] = json.loads(lines[-2])["perfbench_report"]
            failures += 0 if result["correct"] else 1
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{w} seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
                  + f" steal={reports[seed]['host_steal_share_timed']:.3f}", file=sys.stderr)
        rows = {}
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vs = values.get(name, [])
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            rows[name] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                          "bound": bound, "values": vs}
            print(f"{w:16s} {name:18s} median {med:10.4g}  q1 {q1:10.4g}  q3 {q3:10.4g}  "
                  f"spread {(q3 - q1) / med:6.3f}  bound {bound}")
        report[w] = {"runs": args.runs, "failed_runs": failures, "metrics": rows,
                     "reports": reports}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=2)
            f.write("\n")


if __name__ == "__main__":
    main()
