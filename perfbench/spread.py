#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds <s>] [--trace 0|1]

Run from the root of a checkout. For every metric in the result lines it
prints the median, the quartiles (statistics.quantiles, n=4) and the
interquartile range as a share of the median, next to the metric's bound
from BENCHMARK.json. Each run's JSON result is appended to
.bench_build/spread/<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    log = os.path.join(".bench_build", "spread", f"{a.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values = {}
    for s in seeds(a.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", str(seconds),
                            "--trace", str(a.trace)], stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {s}: exit {r.returncode}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps(dict(res, seed=s)) + "\n")
        print(f"seed {s}: correct={res['correct']} failed={res['failed']}/{res['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else (" ok" if spread < b / 3 else (" WIDE" if spread > b else " >b/3"))
        print(f"{k:28s} median {med:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  spread {spread:.3f}"
              f"  bound {b}{flag}")


if __name__ == "__main__":
    main()
