#!/usr/bin/env python3
"""Record the osw_large layer breakdown that later ingest changes cite.

    python3 perfbench/baseline.py [--seeds 1 2 3]

Runs the traced osw_large workload once per seed and writes
perfbench/baseline.json: for every per-layer metric, the median and
quartiles over the runs, with the host and input facts of the first run.
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    # a traced run measures a fixed number of steps; --seconds only sizes
    # the run's time limit
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()

    values, units, host = {}, {}, None
    for seed in a.seeds:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "osw_large", "--seed", str(seed),
             "--seconds", str(a.seconds), "--trace", "1"],
            stdout=subprocess.PIPE, text=True, check=True).stdout
        result = json.loads(out.strip().splitlines()[-1])
        with open(f".bench_build/results/osw_large-seed{seed}-trace1.facts.json") as f:
            facts = json.load(f)
        if host is None:
            host = {k: facts[k] for k in ("nproc", "max_heap_mb", "jdk", "spark", "scala", "archives")}
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]

    def summary(xs):
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
        return {"median": statistics.median(xs), "q1": q[0], "q3": q[2], "runs": xs}

    baseline = {
        "workload": "osw_large",
        "seeds": a.seeds,
        "seconds": a.seconds,
        "host": host,
        "metrics": {k: dict(summary(v), unit=units[k]) for k, v in values.items()},
    }
    with open("perfbench/baseline.json", "w") as f:
        json.dump(baseline, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
