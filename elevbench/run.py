"""Elevation-join benchmark entry point.

    python3 elevbench/run.py --workload broadcast_bilinear_knn --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. Prints one JSON line with the run's
environment, realised input mix and spans (traced runs), then, as the last
line, ``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. Spark scratch
space, tile and checkpoint directories live under ``.elevbench_scratch/``
in the working directory and are removed before exit, together with every
process the run started.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
        "workloads": [w["name"] for w in spec["workloads"]],
    }


def stop_spark_and_children(timeout_s: float = 60.0) -> None:
    """Stop the SparkContext, shut the JVM gateway down and wait until every
    process this run started (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    from elevbench.harness import process_tree

    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    for pid in started:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def main(argv=None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=spec["workloads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the self-test")
    args = ap.parse_args(argv)

    # the program under test must be importable from the checkout; in a
    # directory holding only the benchmark this fails before any output
    sys.path.insert(0, ROOT)
    import htg_spark  # noqa: F401

    from elevbench import workloads

    scratch = os.path.join(os.getcwd(), ".elevbench_scratch", f"{args.workload}-{os.getpid()}")
    os.makedirs(scratch)
    # before the JVM starts: Python workers need the repo on their path,
    # and Spark's local dirs and temp files stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)

    sizes = workloads.TINY if args.size == "tiny" else workloads.FULL
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), sizes, scratch)
    try:
        out = workloads.run_workload(args.workload, run)
        env = workloads.describe_env(run.spark)
    finally:
        try:
            stop_spark_and_children()
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(scratch))
            except OSError:
                pass

    kind = "per_layer" if args.trace else "end_to_end"
    values = out["layers"] if args.trace else out["e2e"]
    metrics = {
        name: {"value": float(values[name]), "unit": unit}
        for name, unit in spec[kind].items()
    }
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "env": env,
        "sizes": dataclasses.asdict(sizes),
        "notes": run.notes,
        # every end-to-end figure of this run, the wall-clock ones included
        "end_to_end": out["e2e"],
    }
    if args.trace:
        info["spans"] = run.tracer.spans
    print(workloads.dumps(info))
    print(json.dumps({
        "correct": bool(run.correct and run.failed == 0),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
