#!/usr/bin/env python3
"""Run every workload and print every metric by name, with its unit.

    python3 perfbench/all.py [--seed 1] [--seeds 1] [--seconds 12] [--trace 0|1] [workload ...]

Runs each workload once per seed (`--seed` up to `--seed` + `--seeds` - 1).
With more than one seed it also prints, for every metric, its median and
the distance between its first and third quartiles (statistics.quantiles,
n=4) as a share of the median: the run-to-run spread, which BENCHMARK.json
bounds for the end-to-end metrics. Exits non-zero when any run fails to
run or fails its output checks.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("query_mix", "scale_batch")


def run(workload, seed, seconds, trace):
    """(result, record) of one run, or None when it did not run."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        return None
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["record"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seeds", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    a = ap.parse_args()
    ok = True
    for w in a.workloads:
        values = {}
        for seed in range(a.seed, a.seed + a.seeds):
            r = run(w, seed, a.seconds, a.trace)
            if r is None:
                print(f"{w} seed {seed}: failed to run")
                ok = False
                continue
            result, record = r
            ok &= result["correct"]
            print(f"{w} seed {seed}: correct={result['correct']} attempted={result['attempted']} "
                  f"failed={result['failed']} wall_s={record['wall_s']} "
                  f"steal={record['host_cpu_steal_share']} samples={json.dumps(record['samples'])}",
                  flush=True)
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
                print(f"  {k:40s} {v['value']:>16.4f} {v['unit']}", flush=True)
            for n in record["failures"]:
                print(f"  check failed: {n}", flush=True)
        if a.seeds > 1:
            for k, vs in values.items():
                if len(vs) < 2:
                    continue
                q1, _, q3 = statistics.quantiles(vs, n=4)
                med = statistics.median(vs)
                spread = (q3 - q1) / med if med else float("nan")
                print(f"{w:12s} {k:40s} median {med:14.4f}  spread {spread:.4f}  n={len(vs)}",
                      flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
