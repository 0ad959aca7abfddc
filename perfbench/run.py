"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's corpus from the seed, starts one local Spark
session, warms it on a slice of the corpus, then times the workload's
operations as a user issues them and checks every answer against the
generator's. The last stdout line is the JSON result; the lines before it
are the run metadata and, with --trace 1, the per-layer table.
Run from the root of a checkout; scratch files go to .perfbench_work/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _prepare_env(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run's work directory, and let Python workers import the engine."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")


def main(argv: list[str] | None = None) -> int:
    from perfbench.trace import process_start_epoch

    t_proc = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "clp_spark")):
        print("error: run from the root of a clp_spark checkout "
              "(no clp_spark/ next to perfbench/)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    corpus = os.path.join(work, "corpus")
    os.makedirs(corpus)
    # the corpus is written by a child process while the session starts
    maker = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "corpus.py"),
         args.workload, str(args.seed), corpus])

    def load_truth() -> dict:
        if maker.wait() != 0:
            raise RuntimeError(f"corpus generation failed (exit {maker.returncode})")
        with open(os.path.join(corpus, "truth.json")) as f:
            return json.load(f)

    try:
        bench = workloads.WORKLOADS[args.workload](
            seed=args.seed, work=work, seconds=args.seconds, traced=bool(args.trace),
            process_start=t_proc, load_truth=load_truth,
        )
        result, meta, table, tracer = bench.run()
    finally:
        if maker.poll() is None:
            maker.kill()
        maker.wait()
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    stem = os.path.join(base, "results", f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"meta": meta, "result": result}, f, indent=1)
    if args.trace:
        tracer.write(stem + ".spans.jsonl")
    for line in table:
        print(line)
    print("meta: " + json.dumps(meta, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
