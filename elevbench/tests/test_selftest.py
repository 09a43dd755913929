"""Self-test of the elevation-join benchmark at tiny input sizes.

    python -m pytest elevbench/tests -q

Checks that every declared metric prints with its unit, that a wrong
expected checksum is counted as a failed repeat, and that the traced-run
collectors launch no Spark job of their own.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run_cli(workload: str, seed: int, trace: int, tmp_path) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "elevbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not os.listdir(tmp_path), "the run left files behind"
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,seed,trace",
    # a large seed keeps every id and checksum term inside int64
    [("broadcast_bilinear_knn", 3, 0), ("broadcast_bilinear_knn", 987654321, 1),
     ("checkpointed_image_enrich", 987654321, 1)],
)
def test_every_metric_prints_with_its_unit(workload, seed, trace, tmp_path):
    result = _run_cli(workload, seed, trace, tmp_path)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if trace and workload == "broadcast_bilinear_knn":
        assert result["metrics"]["catalog.bytes_scanned_per_join"]["value"] == 0
        assert result["metrics"]["engine.knn_assign_ratio"]["value"] == 1.0
    if trace and workload == "checkpointed_image_enrich":
        assert result["metrics"]["checkpoint.redo_rows"]["value"] == 0
        assert result["metrics"]["checkpoint.write_s"]["value"] > 0


# -- in-process checks, one Spark session for the module ------------------------


@pytest.fixture(scope="module")
def run(tmp_path_factory):
    scratch = str(tmp_path_factory.mktemp("elevbench"))
    saved = {k: os.environ.get(k) for k in ("PYTHONPATH", "SPARK_LOCAL_DIRS")}
    os.environ["PYTHONPATH"] = ROOT
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    sys.path.insert(0, ROOT)
    from elevbench import workloads
    from elevbench.run import stop_spark_and_children

    r = workloads.Run(seed=5, seconds=1, trace=False, sizes=workloads.TINY, scratch=scratch)
    r.session()
    yield r
    stop_spark_and_children()
    for k, v in saved.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v


def test_corrupted_expected_checksum_counts_as_failed(run, monkeypatch):
    from elevbench import workloads

    real = workloads.oracle_checksum
    monkeypatch.setattr(workloads, "oracle_checksum", lambda ids, res: real(ids, res) + 1)
    monkeypatch.setattr(run, "session", lambda: 0.0)  # keep the module's session
    before = (run.attempted, run.failed)
    workloads.broadcast_bilinear_knn(run)
    attempted, failed = run.attempted - before[0], run.failed - before[1]
    assert attempted >= 1 and failed == attempted
    assert run.correct is False


def test_collectors_launch_no_spark_job(run):
    from elevbench import workloads
    from htg_spark.engine import ElevationEngine

    grids = workloads.catalog_grids()
    eng = ElevationEngine(run.spark, grids=grids, cache_size=64)
    eng.preload()
    pts = workloads.points_frame(run.spark, 5_000, seed=9, partitions=4).persist()
    pts.count()
    kwargs = dict(mode="bilinear", strategy="broadcast", knn_fallback=True)

    def jobs_launched(fn):
        before = run.probe.job_count()
        fn()
        return run.probe.job_count() - before

    plain = jobs_launched(lambda: workloads.untraced_join(eng, pts, "point_id", kwargs))
    run.trace = run.groups.enabled = run.tracer.enabled = True
    try:
        samples: dict = {}
        traced = jobs_launched(
            lambda: workloads.traced_join(run, eng, pts, "point_id", 5_000, kwargs, samples)
        )
    finally:
        run.trace = run.groups.enabled = run.tracer.enabled = False
    assert plain >= 1
    assert traced == plain
    assert samples["engine.jobs_per_join"] == [plain]
