"""Steadiness check: run one workload on several seeds and report, for each
end-to-end metric, the spread (Q3 - Q1) / median of its values against the
bound in BENCHMARK.json.

    python3 perfbench/steady.py WORKLOAD [--seeds 1,2,...] [--out FILE]

Run from the root of a checkout. Each seed is one `perfbench/run.py` run
with the `run_seconds` of BENCHMARK.json; runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / abs(med) if med else float("inf")


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().split("\n")
    meta = json.loads(next(ln for ln in lines if ln.startswith("meta: "))[6:])
    return {"seed": seed, "wall_s": time.time() - t0, "meta": meta,
            "result": json.loads(lines[-1])}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in (int(s) for s in args.seeds.split(",")):
        r = run_once(args.workload, seed, bench["run_seconds"])
        runs.append(r)
        print(f"seed {seed}: {r['wall_s']:.1f}s correct={r['result']['correct']} "
              f"failed={r['result']['failed']}/{r['result']['attempted']}", flush=True)
    report = {"workload": args.workload, "runs": runs, "metrics": {}}
    for name, bound in bounds.items():
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        s = spread(vals)
        report["metrics"][name] = {
            "median": statistics.median(vals), "spread": s, "bound": bound,
            "within_third_of_bound": s < bound / 3, "values": vals,
        }
        print(f"  {name:28s} median {statistics.median(vals):12.6g} spread {s:8.4f} "
              f"bound {bound:5.3f} {'ok' if s < bound / 3 else 'WIDE'}")
    print(f"  wall per run: median {statistics.median(r['wall_s'] for r in runs):.1f}s "
          f"max {max(r['wall_s'] for r in runs):.1f}s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
