"""The two workloads of the elevation-join benchmark.

Each workload is a closed loop with one client: one driver process on
``local[<cpus>]`` issues the next join only after the previous one has
finished. Inputs are generated here from the seed; the program only sees
the generated frames. Every repeat is checked against an order-insensitive
checksum of the NumPy kernel (``engine.kernel_batch``) run in-process on
the same points, covering elevation and tile assignment.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

from htg_spark import engine as engine_mod
from htg_spark import fixtures, hgt
from htg_spark.checkpoint import CheckpointedJob
from htg_spark.driver_queries import derive_images_table
from htg_spark.engine import ElevationEngine
from htg_spark.session import get_spark

from .harness import Clock, Groups, RssSampler, SparkProbe, Tracer, median

# 6x6 SRTM3 catalog: under BROADCAST_MAX_TILES (256) and the 512 MB byte
# gate, and under the 64-tile executor grid cache.
CATALOG_ORIGIN = (35, 138)
CATALOG_SIDE = 6
# the image table's geotags fall in lat [35, 37) x lon [138, 140), so its
# catalog is the 2x2 corner of the same grid
IMAGE_CATALOG_SIDE = 2
# the hot cluster: one 0.01-degree cell inside tile (36, 139)
HOT_BOX = (36.42, 139.77, 0.01)
# declared point mix of the broadcast workload (bench_points semantics);
# make_points draws categories with the thresholds below
POINT_MIX = {"hot": 0.30, "missing": 0.09, "ooc": 0.03}
# derive_images_table's phash windows: e % 37 == 0 -> lat 75 (out of
# coverage), else e % 11 == 0 -> lat/lon 50 (no tile), else inside tiles
IMAGE_MIX = {"hot": 0.0, "missing": (1 / 11) * (36 / 37), "ooc": 1 / 37}

JVM_HEAP_MB = 2048

CHECKSUM_MOD = 2147483647
NULL_ELEVATION = -7777777
# eight buckets in two waves of four: the kill after half the buckets
# lands on a wave boundary, so each run() call makes one join
N_BUCKETS = 8
WAVE_SIZE = 4


@dataclass(frozen=True)
class Sizes:
    points: int  # broadcast_bilinear_knn input rows
    images: int  # checkpointed_image_enrich input rows


FULL = Sizes(points=1_200_000, images=100_000)
TINY = Sizes(points=20_000, images=4_000)


# -- inputs ---------------------------------------------------------------------


def catalog_grids(side: int = CATALOG_SIDE) -> dict:
    """side x side tiles from CATALOG_ORIGIN, each with its own base
    elevation plus voids, so a point assigned to the wrong tile changes
    its elevation."""
    r = np.arange(1201)
    void = ((r[:, None] * 1201 + r[None, :]) % 97) == 0
    grids = {}
    for i in range(side):
        for j in range(side):
            g = fixtures.tile_bench(100 + 37 * (i * CATALOG_SIDE + j))
            g[void] = hgt.VOID_VALUE
            grids[(CATALOG_ORIGIN[0] + i, CATALOG_ORIGIN[1] + j)] = g
    return grids


def _uniforms(ids, seed: int, F=None):
    """Three seeded uniforms in [0, 1) per row id, from a hash computed in
    exact int64 arithmetic modulo the prime CHECKSUM_MOD (every product
    stays below 2^62). Given F (pyspark.sql.functions) and a long Column,
    builds the same values as Spark expressions, so the Spark-side
    generator and its NumPy twin agree bit for bit."""
    p = CHECKSUM_MOD
    mod = (lambda x: F.pmod(x, F.lit(p))) if F else (lambda x: np.mod(x, p))
    out = []
    for a, b, c in _GEN_STREAMS:
        x = mod((ids + 1) * a + (seed % p) * b)
        y = mod(x * x + c)
        z = mod(y * a + x)
        out.append(z.cast("double") / float(p) if F else z.astype(np.float64) / float(p))
    return out


# (multiplier, seed multiplier, offset) of each uniform stream
_GEN_STREAMS = ((48271, 16807, 12345), (69621, 39373, 54321), (40692, 40014, 11111))
# category thresholds on the first uniform: hot / missing-tile / out of coverage
_HOT_END, _MISSING_END, _OOC_START = 0.30, 0.39, 0.97


def _place(u, r1, r2, where):
    """lat/lon from the category uniform `u` and two position uniforms;
    `where` is np.select-like (NumPy) or a when-chain (Spark)."""
    h0, w0, side = HOT_BOX
    cases = [
        (u < _HOT_END, h0 + side * r1, w0 + side * r2),
        (u < _MISSING_END, 50.0 + 0.9 * r1, 50.0 + 0.9 * r2),
        (u >= _OOC_START, 75.0 + r1, 10.0 + r2),
    ]
    default = (CATALOG_ORIGIN[0] + CATALOG_SIDE * r1, CATALOG_ORIGIN[1] + CATALOG_SIDE * r2)
    return where(cases, default)


def make_points(n: int, seed: int):
    """Seeded points with the bench_points mix: 30 % in the 0.01-degree hot
    cell, 9 % on a tile-less band (the kNN path), 3 % out of coverage, the
    rest uniform over the catalog. Returns NumPy (point_id, lat, lon)."""
    ids = np.arange(n, dtype=np.int64)
    u, r1, r2 = _uniforms(ids, seed)

    def where(cases, default):
        conds = [c for c, _, _ in cases]
        return (
            np.select(conds, [a for _, a, _ in cases], default[0]),
            np.select(conds, [b for _, _, b in cases], default[1]),
        )

    lat, lon = _place(u, r1, r2, where)
    return ids, lat, lon


def points_frame(spark, n: int, seed: int, partitions: int):
    """The same points as make_points, generated by Spark itself."""
    from pyspark.sql import functions as F

    ids = F.col("id")
    u, r1, r2 = _uniforms(ids, seed, F)

    def where(cases, default):
        lat = lon = None
        for cond, a, b in cases:
            lat = F.when(cond, a) if lat is None else lat.when(cond, a)
            lon = F.when(cond, b) if lon is None else lon.when(cond, b)
        return lat.otherwise(default[0]), lon.otherwise(default[1])

    lat, lon = _place(u, r1, r2, where)
    return spark.range(0, n, numPartitions=partitions).select(
        ids.alias("point_id"), lat.alias("lat"), lon.alias("lon")
    )


# -- oracle ---------------------------------------------------------------------


def _mix_row_terms(ids, elev_q, tile_lat, tile_lon, in_cov, knn):
    g = np.mod(
        elev_q * 7919
        + (tile_lat.astype(np.int64) + 90) * 104729
        + (tile_lon.astype(np.int64) + 180) * 1299709
        + in_cov.astype(np.int64) * 15485863
        + knn.astype(np.int64) * 32452843,
        CHECKSUM_MOD,
    )
    idh = np.mod(np.mod(ids.astype(np.int64), CHECKSUM_MOD) * 2654435761, CHECKSUM_MOD)
    return np.mod(idh * (g + 1), CHECKSUM_MOD)


def oracle_checksum(ids: np.ndarray, res: dict) -> int:
    """Checksum of kernel_batch output, in the same arithmetic as
    `checksum_columns` (all terms stay below 2^63)."""
    e = res["elevation"]
    nan = np.isnan(e)
    elev_q = np.where(nan, NULL_ELEVATION, np.where(nan, 0.0, e) * 1000.0).astype(np.int64)
    terms = _mix_row_terms(
        ids, elev_q, res["tile_lat"], res["tile_lon"], res["in_coverage"], res["knn_used"]
    )
    return int(terms.sum())


def checksum_columns(id_col):
    """Aggregate expressions over a join result: row count, the checksum,
    and the flag counts the mix check reads."""
    from pyspark.sql import functions as F

    elev_q = F.coalesce(
        (F.col("elevation").cast("double") * F.lit(1000.0)).cast("long"),
        F.lit(NULL_ELEVATION).cast("long"),
    )
    g = F.pmod(
        elev_q * 7919
        + (F.col("tile_lat").cast("long") + 90) * 104729
        + (F.col("tile_lon").cast("long") + 180) * 1299709
        + F.col("in_coverage").cast("long") * 15485863
        + F.col("knn_used").cast("long") * 32452843,
        F.lit(CHECKSUM_MOD),
    )
    idh = F.pmod(
        F.pmod(id_col.cast("long"), F.lit(CHECKSUM_MOD)) * F.lit(2654435761),
        F.lit(CHECKSUM_MOD),
    )
    h0, w0, side = HOT_BOX
    hot = (
        (F.col("lat") >= h0) & (F.col("lat") < h0 + side)
        & (F.col("lon") >= w0) & (F.col("lon") < w0 + side)
    )
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(idh * (g + 1), F.lit(CHECKSUM_MOD))).alias("chk"),
        F.sum(hot.cast("long")).alias("hot"),
        F.sum((~F.col("in_coverage")).cast("long")).alias("ooc"),
        F.sum(
            (F.col("in_coverage") & (F.col("knn_used") | ~F.col("tile_found"))).cast("long")
        ).alias("missing"),
        F.sum(F.col("knn_used").cast("long")).alias("knn"),
    ]


def realised_mix(row) -> dict:
    n = max(row["n"], 1)
    return {k: row[k] / n for k in ("hot", "missing", "ooc", "knn")}


def mix_ok(mix: dict, declared: dict, n: int, knn: bool) -> bool:
    want = dict(declared, knn=declared["missing"] if knn else 0.0)
    for k, p in want.items():
        tol = 5 * math.sqrt(max(p * (1 - p), 1e-6) / max(n, 1)) + 0.002
        if abs(mix[k] - p) > tol:
            return False
    return True


class KernelFloor:
    """The in-process NumPy floor: hgt and engine kernels on the workload's
    own points, single-threaded, without Spark."""

    def __init__(self, grids: dict, lat, lon, mode: str, knn: bool):
        self.grids = grids
        self.lat = np.asarray(lat, dtype=np.float64)
        self.lon = np.asarray(lon, dtype=np.float64)
        self.mode = mode
        self.centers = np.array(sorted(grids), dtype=np.int64) if knn else None

    def kernel(self):
        """(result, seconds, rows sent to assign_nearest_center)."""
        sent = [0]
        real = engine_mod.assign_nearest_center

        def counting(lat, lon, centers, *a, **kw):
            sent[0] += len(lat)
            return real(lat, lon, centers, *a, **kw)

        engine_mod.assign_nearest_center = counting
        try:
            t0 = time.perf_counter()
            res = engine_mod.kernel_batch(
                self.lat, self.lon, self.grids.get, self.mode, knn_centers=self.centers
            )
            dt = time.perf_counter() - t0
        finally:
            engine_mod.assign_nearest_center = real
        return res, dt, sent[0]

    def layer_rates(self, res) -> dict:
        """rows/s of hgt.lookup_bilinear, hgt.lookup_nearest (per tile, on
        points whose own tile exists) and engine.assign_nearest_center (on
        in-coverage points with no tile, against the catalog centers)."""
        found = res["tile_found"] & ~res["knn_used"]
        keys = np.stack([res["tile_lat"], res["tile_lon"]], axis=1)[found]
        lat, lon = self.lat[found], self.lon[found]
        groups = {}
        for k in self.grids:
            sel = (keys[:, 0] == k[0]) & (keys[:, 1] == k[1])
            if sel.any():
                groups[k] = (lat[sel], lon[sel])
        n = sum(len(a) for a, _ in groups.values())
        out = {}
        for name, fn in (
            ("hgt.lookup_bilinear_rows_per_s", lambda g, a, b: hgt.lookup_bilinear(g, a, b)),
            ("hgt.lookup_nearest_rows_per_s", lambda g, a, b: hgt.lookup_nearest(g, a, b)),
        ):
            t0 = time.perf_counter()
            for k, (a, b) in groups.items():
                fn(self.grids[k], a, b)
            out[name] = n / max(time.perf_counter() - t0, 1e-9)
        miss = res["in_coverage"] & ~(res["tile_found"] & ~res["knn_used"])
        centers = np.array(sorted(self.grids), dtype=np.int64)
        t0 = time.perf_counter()
        engine_mod.assign_nearest_center(self.lat[miss], self.lon[miss], centers)
        out["engine.assign_nearest_center_rows_per_s"] = int(miss.sum()) / max(
            time.perf_counter() - t0, 1e-9
        )
        return out


# -- run context ----------------------------------------------------------------


class Run:
    """One benchmark process: session lifecycle, tracing switches and the
    failure ledger shared by both workloads."""

    def __init__(self, seed: int, seconds: float, trace: bool, sizes: Sizes, scratch: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sizes = sizes
        self.scratch = scratch
        self.cores = os.cpu_count() or 1
        self.tracer = Tracer(run_id=f"seed{seed}-pid{os.getpid()}", enabled=trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.notes: dict = {}

    def session(self) -> float:
        """Start the Spark session; returns the seconds it took."""
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name="elevbench",
                master=f"local[{self.cores}]",
                shuffle_partitions=max(self.cores, 8),
                extra_conf={
                    "spark.driver.memory": f"{JVM_HEAP_MB}m",
                    "spark.ui.showConsoleProgress": "false",
                    # the whole heap is committed and touched at start:
                    # G1 otherwise grows it by its own timing, and the
                    # JVM's share of peak RSS read 1.45-2.25 GB across
                    # seeds of the same workload
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={self.scratch} -XX:-UsePerfData"
                        f" -Xms{JVM_HEAP_MB}m -XX:+AlwaysPreTouch"
                    ),
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.probe = SparkProbe(self.spark)
        self.groups = Groups(self.spark, self.trace)
        return time.perf_counter() - t0

    def record(self, ok: bool):
        self.attempted += 1
        if not ok:
            self.failed += 1

    def timed_loop(self, repeat) -> list:
        """Closed loop: call repeat(traced) until `seconds` have passed, at
        least once. A traced run makes at least three repeats and traces
        every second one, so the tracing overhead is measured in the same
        process. Returns one Clock reading per repeat, in order, each with
        a "traced" flag; the readings also go to the run's notes."""
        repeats = []
        t_end = time.perf_counter() + self.seconds
        while len(repeats) < (3 if self.trace else 1) or time.perf_counter() < t_end:
            traced = self.trace and len(repeats) % 2 == 1
            clock = Clock()
            try:
                ok = repeat(traced)
            except Exception as e:  # a failed repeat counts, the loop goes on
                self.notes.setdefault("errors", []).append(repr(e)[:300])
                ok = False
            repeats.append(dict(clock.read(), traced=traced))
            self.record(ok)
        self.notes["repeats"] = [
            {k: round(v, 4) if isinstance(v, float) else v for k, v in r.items()}
            for r in repeats
        ]
        return repeats


def steady_state(n_rows: int, repeats: list) -> dict:
    """End-to-end throughput from the untraced repeats: the gated figure
    on the CPU clock, the wall-clock figure and the host's steal share as
    notes (see RATIONALE.md on why the gate uses CPU time)."""
    plain = [r for r in repeats if not r["traced"]]
    return {
        "rows_per_cpu_s": n_rows / median([r["cpu_s"] for r in plain]),
        "wall_rows_per_s": n_rows / median([r["wall_s"] for r in plain]),
        "steal": median([r["steal"] for r in plain]),
    }


def trace_overhead(repeats: list) -> float:
    """Median CPU time of a traced repeat over that of an untraced one,
    minus one; the first repeat is left out as it also pays first-use
    costs."""
    traced = [r["cpu_s"] for r in repeats[1:] if r["traced"]]
    plain = [r["cpu_s"] for r in repeats[1:] if not r["traced"]]
    return median(traced) / median(plain) - 1.0


JOIN_LAYER_KEYS = (
    "engine.plan_s",
    "engine.jobs_per_join",
    "engine.stages_per_join",
    "engine.tasks_per_join",
    "engine.executor_run_s",
    "engine.executor_cpu_s",
    "engine.shuffle_bytes_written_per_row",
    "engine.shuffle_bytes_read_per_row",
    "engine.spill_bytes",
    "engine.task_skew",
    "engine.python_time_s",
    "engine.arrow_bytes_sent_per_row",
    "engine.arrow_bytes_received_per_row",
    "catalog.bytes_scanned_per_join",
)


def traced_join(run: Run, eng, frame, id_col, n_rows, join_kwargs, samples: dict):
    """One join + checksum action with spans, job groups and Spark's own
    accounting; appends one sample per layer metric. Returns the result row."""
    fs_read0 = run.probe.local_fs_bytes()[0]
    with run.tracer.span("engine.elevation_join") as plan_span, run.groups.group(
        "engine.elevation_join"
    ) as g_plan:
        out = eng.elevation_join(frame, id_col=id_col, **join_kwargs)
    with run.tracer.span("engine.action"), run.groups.group("engine.action") as g_act:
        agg = out.agg(*checksum_columns(_key_col(out, id_col)))
        row = agg.collect()[0]
    join_end = time.perf_counter()
    plan = run.probe.group_stats(g_plan)
    act = run.probe.group_stats(g_act)
    py = run.probe.plan_metrics(agg)
    rows = max(n_rows, 1)
    add = lambda k, v: samples.setdefault(k, []).append(v)  # noqa: E731
    add("engine.plan_s", plan_span["end"] - plan_span["start"])
    add("engine.join_wall_s", join_end - plan_span["start"])
    add("engine.jobs_per_join", plan["jobs"] + act["jobs"])
    add("engine.stages_per_join", plan["stages"] + act["stages"])
    add("engine.tasks_per_join", plan["tasks"] + act["tasks"])
    add("engine.executor_run_s", plan["run_s"] + act["run_s"])
    add("engine.executor_cpu_s", plan["cpu_s"] + act["cpu_s"])
    add("engine.shuffle_bytes_written_per_row",
        (plan["shuffle_write_bytes"] + act["shuffle_write_bytes"]) / rows)
    add("engine.shuffle_bytes_read_per_row",
        (plan["shuffle_read_bytes"] + act["shuffle_read_bytes"]) / rows)
    add("engine.spill_bytes", plan["spill_bytes"] + act["spill_bytes"])
    add("engine.task_skew", act["task_skew"])
    add("engine.python_time_s", py["pythonTotalTime"] / 1e3)
    add("engine.arrow_bytes_sent_per_row", py["pythonDataSent"] / rows)
    add("engine.arrow_bytes_received_per_row", py["pythonDataReceived"] / rows)
    add("engine.python_boot_init_s", (py["pythonBootTime"] + py["pythonInitTime"]) / 1e3)
    add("catalog.bytes_scanned_per_join", run.probe.local_fs_bytes()[0] - fs_read0)
    return row


def untraced_join(eng, frame, id_col, join_kwargs):
    out = eng.elevation_join(frame, id_col=id_col, **join_kwargs)
    return out.agg(*checksum_columns(_key_col(out, id_col))).collect()[0]


def _key_col(df, id_col):
    """The numeric row key of the checksum: point_id, or the event id
    inside image_id ('img_<event id>')."""
    from pyspark.sql import functions as F

    if id_col == "image_id":
        return F.substring(df["image_id"], 5, 32).cast("long")
    return df[id_col]


def set_up(run: Run, grids: dict, make_input, warm_up):
    """The set-up a user pays before the first enriched row: session start,
    catalog preparation (engine + preload), input generation + persist, and
    the warm-up. Returns (engine, frame, warm-up result, phase times)."""
    clock = Clock()
    session_s = run.session()
    t1 = time.perf_counter()
    with run.tracer.span("catalog.prepare"), run.groups.group("catalog.prepare"):
        eng = ElevationEngine(run.spark, grids=grids, cache_size=64)
        eng.preload()
    t2 = time.perf_counter()
    with run.tracer.span("input.generate"):
        frame = make_input(run.spark)
    with run.tracer.span("warm_up"):
        warm = warm_up(eng, frame)
    setup = clock.read()
    run.notes["setup"] = setup
    phases = {
        "setup_s": setup["wall_s"],
        "session.start_s": session_s,
        "catalog.prepare_s": t2 - t1,
    }
    return eng, frame, warm, phases


def floor_layers(run: Run, floor: "KernelFloor", res, kernel_s, assign_rows, join_wall_s):
    """Per-layer metrics of the in-process NumPy floor."""
    n = len(floor.lat)
    missing = int((res["in_coverage"] & (res["knn_used"] | ~res["tile_found"])).sum())
    out = floor.layer_rates(res)
    out.update({
        "engine.kernel_batch_rows_per_s": n / kernel_s,
        "engine.kernel_floor_share": kernel_s / run.cores / join_wall_s,
        "engine.knn_assign_ratio": assign_rows / max(missing, 1),
    })
    return out


def join_layers(samples: dict, warm_samples: dict, phases: dict, repeats) -> dict:
    """Per-layer metrics of the traced joins and the set-up phases."""
    out = {k: median(samples[k]) for k in JOIN_LAYER_KEYS}
    out.update({
        "session.start_s": phases["session.start_s"],
        "catalog.prepare_s": phases["catalog.prepare_s"],
        "engine.python_boot_init_s": warm_samples["engine.python_boot_init_s"][0],
        "trace.overhead_frac": trace_overhead(repeats),
    })
    return out


# -- workload: broadcast_bilinear_knn ------------------------------------------


def broadcast_bilinear_knn(run: Run) -> dict:
    """Zero-shuffle broadcast join, bilinear kernel with kNN fallback, over
    seeded points against the 36-tile in-memory catalog."""
    grids = catalog_grids()
    n = run.sizes.points
    ids, lat, lon = make_points(n, run.seed)
    join_kwargs = dict(mode="bilinear", strategy="broadcast", knn_fallback=True)
    warm_samples: dict = {}
    samples: dict = {}

    def make_input(spark):
        pts = points_frame(spark, n, run.seed, 2 * run.cores).persist()
        pts.count()
        return pts

    def join(eng, pts, traced, into):
        if traced:
            return traced_join(run, eng, pts, "point_id", n, join_kwargs, into)
        return untraced_join(eng, pts, "point_id", join_kwargs)

    # two warm-up joins: the first timed join after a single one still
    # cost up to 1.15x the CPU of later ones (JIT compilation)
    eng, pts, warm, phases = set_up(
        run, grids, make_input,
        lambda eng, pts: [join(eng, pts, run.trace, warm_samples) for _ in range(2)],
    )
    floor = KernelFloor(grids, lat, lon, "bilinear", True)
    res, kernel_s, assign_rows = floor.kernel()
    expected = oracle_checksum(ids, res)
    mix = realised_mix(warm[-1])
    run.notes["mix"] = mix
    run.correct &= all(row["n"] == n and row["chk"] == expected for row in warm) and mix_ok(
        mix, POINT_MIX, n, knn=True
    )

    def repeat(traced):
        row = join(eng, pts, traced, samples)
        return row["n"] == n and row["chk"] == expected

    with run.tracer.span("timed"):
        repeats = run.timed_loop(repeat)
    e2e = dict(steady_state(n, repeats), setup_s=phases["setup_s"])
    layers = {}
    if run.trace:
        layers = join_layers(samples, warm_samples, phases, repeats)
        layers.update(
            floor_layers(run, floor, res, kernel_s, assign_rows,
                         median(samples["engine.join_wall_s"]))
        )
        layers.update({k: 0.0 for k in CHECKPOINT_KEYS})
    return {"e2e": e2e, "layers": layers}


# -- workload: checkpointed_image_enrich ---------------------------------------


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


CHECKPOINT_KEYS = (
    "checkpoint.compute_s",
    "checkpoint.write_s",
    "checkpoint.jobs_per_bucket",
    "checkpoint.bytes_written",
    "checkpoint.bytes_written_per_input_byte",
    "checkpoint.resume_s",
    "checkpoint.redo_rows",
    "checkpoint.read_output_s",
)


def checkpointed_image_enrich(run: Run) -> dict:
    """The image+caption table (real encoded payloads, phash geotags)
    enriched through CheckpointedJob: killed after half the buckets by the
    public fail_after hook, resumed, then read back and checked. Two such
    cycles are the warm-up: the JVM is still compiling the write path
    through the first two, and the second cost 1.2-1.5x the CPU of the
    third (kill, resume and read-back) on the 4-core host."""
    from pyspark.sql import functions as F

    grids = catalog_grids(IMAGE_CATALOG_SIDE)
    n = run.sizes.images
    # event ids stay below 2^43, so derive_images_table's int64 phash
    # arithmetic cannot overflow; seeds 800000 apart give the same input
    first_event = (run.seed % 800_000) * 10_000_000
    join_kwargs = dict(mode="nearest", strategy="auto")
    meta: dict = {}
    cp: dict = {}

    def make_input(spark):
        events = spark.range(first_event, first_event + n, numPartitions=run.cores)
        imgs = derive_images_table(events.withColumnRenamed("id", "event_id")).persist()
        meta.update(imgs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.length("bytes") + F.length("caption") + F.length("image_id")
                + F.length("fmt") + F.lit(16)  # + w, h (int) and phash (long)
            ).alias("nbytes"),
        ).collect()[0].asDict())
        return imgs

    def cycle(eng, imgs, traced):
        """Kill after half the buckets, resume, read back. Returns the
        read-back aggregate row and whether the checkpoint invariants held."""
        out_dir = os.path.join(run.scratch, f"checkpoint-{len(cp.get('cycles', ()))}")
        job = CheckpointedJob(out_dir, n_buckets=N_BUCKETS, id_col="image_id")
        tracer = run.tracer if traced else Tracer("", False)
        groups = run.groups if traced else Groups(run.spark, False)

        def transform(df):
            return eng.elevation_join(df, id_col="image_id", **join_kwargs)

        try:
            clock = Clock()
            with tracer.span("checkpoint.run"), groups.group("checkpoint.run") as g_kill:
                try:
                    job.run(imgs, transform, fail_after=N_BUCKETS // 2, wave_size=WAVE_SIZE)
                    killed = False
                except RuntimeError as e:
                    killed = "injected failure" in str(e)
            committed = job.completed_buckets()
            t1 = time.perf_counter()
            with tracer.span("checkpoint.run"), groups.group("checkpoint.run") as g_resume:
                summary = job.run(imgs, transform, wave_size=WAVE_SIZE)
            t2 = time.perf_counter()
            cp.setdefault("cycles", []).append(dict(clock.read(), traced=traced))
            with tracer.span("checkpoint.read_output"), groups.group("checkpoint.read_output"):
                out = job.read_output(run.spark)
                row = out.agg(
                    *checksum_columns(_key_col(out, "image_id")),
                    F.countDistinct("image_id").alias("ids"),
                ).collect()[0]
            t3 = time.perf_counter()
            after = job.completed_buckets()
            redo = sum(
                m["rows"] for b, m in committed.items() if after[b]["run_id"] != m["run_id"]
            )
            ok = (
                killed
                and len(committed) == N_BUCKETS // 2
                and summary["skipped"] == N_BUCKETS // 2
                and sorted(os.listdir(job.manifest_dir))
                == [f"bucket-{b:05d}.json" for b in range(N_BUCKETS)]
                and redo == 0
                and row["n"] == n
                and row["ids"] == n
            )
            if traced:
                stats = [run.probe.group_stats(g) for g in (g_kill, g_resume)]
                by_kind: dict = {}
                for s in stats:
                    for site, wall in s["stage_wall_by_site"].items():
                        kind = site.split(" at ", 1)[0]
                        by_kind[kind] = by_kind.get(kind, 0.0) + wall
                written = _dir_bytes(out_dir)
                for k, v in {
                    "checkpoint.compute_s": by_kind.get("collect", 0.0),
                    "checkpoint.write_s": by_kind.get("parquet", 0.0),
                    "checkpoint.jobs_per_bucket": sum(s["jobs"] for s in stats) / N_BUCKETS,
                    "checkpoint.bytes_written": written,
                    "checkpoint.bytes_written_per_input_byte": written / meta["nbytes"],
                    "checkpoint.resume_s": t2 - t1,
                    "checkpoint.redo_rows": redo,
                    "checkpoint.read_output_s": t3 - t2,
                }.items():
                    cp.setdefault(k, []).append(v)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        return row, ok

    def warm_up(eng, imgs):
        results = [cycle(eng, imgs, False) for _ in range(2)]
        return results[-1][0], all(ok for _row, ok in results)

    eng, imgs, (warm, warm_ok), phases = set_up(run, grids, make_input, warm_up)
    del cp["cycles"]  # the warm-up cycles are set-up, not steady state
    keys = imgs.select("image_id", "phash").toPandas()
    ids = keys["image_id"].str.slice(4).astype(np.int64).to_numpy()
    lat, lon = fixtures.phash_to_lat_lon(keys["phash"].to_numpy())
    floor = KernelFloor(grids, lat, lon, "nearest", False)
    res, kernel_s, assign_rows = floor.kernel()
    expected = oracle_checksum(ids, res)
    mix = realised_mix(warm)
    run.notes["mix"] = mix
    run.notes["input_bytes"] = meta["nbytes"]
    run.correct &= (
        meta["n"] == n
        and warm_ok
        and warm["chk"] == expected
        and mix_ok(mix, IMAGE_MIX, n, knn=False)
    )

    def repeat(traced):
        row, ok = cycle(eng, imgs, traced)
        return ok and row["chk"] == expected

    with run.tracer.span("timed"):
        repeats = run.timed_loop(repeat)
    # throughput covers the killed run plus the resume, not the read-back
    e2e = dict(steady_state(n, cp["cycles"]), setup_s=phases["setup_s"])
    layers = {}
    if run.trace:
        # the checkpoint's joins run inside CheckpointedJob.run, out of
        # reach of a per-join plan: engine.* come from one more traced join,
        # the same join over the same table
        samples: dict = {}
        row = traced_join(run, eng, imgs, "image_id", n, join_kwargs, samples)
        run.record(row["n"] == n and row["chk"] == expected)
        layers = join_layers(samples, samples, phases, repeats)
        layers.update(
            floor_layers(run, floor, res, kernel_s, assign_rows,
                         samples["engine.join_wall_s"][0])
        )
        layers.update({k: median(cp[k]) for k in CHECKPOINT_KEYS})
    return {"e2e": e2e, "layers": layers}


WORKLOADS = {
    "broadcast_bilinear_knn": broadcast_bilinear_knn,
    "checkpointed_image_enrich": checkpointed_image_enrich,
}


def run_workload(name: str, run: Run) -> dict:
    with RssSampler() as rss:
        out = WORKLOADS[name](run)
    out["e2e"]["peak_rss_mb"] = rss.peak_bytes / 2**20
    run.notes["peak_rss_mb_by_exe"] = {
        exe: {"processes": n, "mb": round(b / 2**20, 1)} for exe, (n, b) in rss.peak_by_exe.items()
    }
    return out


def describe_env(spark) -> dict:
    import pyarrow

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "cpus": os.cpu_count(),
        "mem_total_mb": mem_kb // 1024,
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
    }


def dumps(obj) -> str:
    return json.dumps(obj, sort_keys=True, default=float)
