"""ElevationEngine — the bulk raster<->vector elevation join.

Re-expresses the reference's one join — ``batch_with_tile_grouping``
(``htg/src/service.rs:409-480``: group points by tile key, load each tile
once, apply the kernel, reassemble in input order) — as Spark plan shapes:

- **broadcast** strategy: the tile catalog (raw HGT blobs) is broadcast to
  executors as a Python dict and the whole join + kernel is ONE map-only
  ``mapInPandas`` stage — zero shuffle, payload columns pass through
  untouched, executor-local LRU decodes each tile once per worker (the
  distributed analog of the reference's moka cache, ``service.rs:168``).
  Right whenever the catalog fits in executor memory.

- **cogroup** strategy (scale path, catalog >> memory): points are projected
  narrow ``(row id, lat, lon, tile key, salt)`` and shuffled by
  ``(tile_lat, tile_lon, salt)``; the catalog side is exploded x n_salts so
  each hot tile's points spread over ``n_salts`` tasks while each tile blob
  crosses the shuffle at most ``n_salts`` times; a grouped ``applyInArrow``
  cogroup applies the kernel per (tile, salt) bucket; the multi-MB image
  payload NEVER rides the tile shuffle — it is joined back by row id at the
  end (plan-shape decision per SURVEY.md §4).

Semantics (exact parity with the reference; FIXTURES.md §6):
- out-of-coverage (|lat|>60, |lon|>180, inclusive bounds valid):
  skipped -> NULL/default (service.rs:456-459)
- missing tile: NULL/default (service.rs:466-469)
- void sample / any-void bilinear corner: NULL/default
  (service.rs:344-347, tile.rs:271-273)
- nearest = Rust f64::round (half away from zero); floor = srtm.py variant
- order/identity preserved by keying every row with ``id_col``

kNN nearest-tile fallback (new, north rule): in-coverage points whose tile
is absent are assigned the catalog tile with the nearest center (squared
euclidean in degrees, ties by (tile_lat, tile_lon)), coordinates clamped
into that tile's [0,1] frac range — half-open boundary semantics preserved
via the explicit frac-based kernels. Both strategies run it inside
``kernel_batch``. On the cogroup path a group holds one tile, so pass 1's
kernel assigns each miss its nearest tile but finds no grid for it; pass 2
re-keys only those rows by the assigned tile and runs the same kernel
against the semi-join-pruned catalog (results row-identical by test).

NULL coordinates: every strategy keeps the input lat/lon, returns a NULL
tile key, in_coverage / tile_found / knn_used false and a NULL (or default)
elevation; strict=True raises on them.

The two plan methods (``_join_broadcast``, ``_join_cogroup``) are the only
tile-join plans: they take the batch kernel and its appended fields, so the
terrain stencil (``operators.terrain``) runs through them too.
"""

from __future__ import annotations

from collections import OrderedDict
from functools import partial

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cells, hgt

# kernel-computed output columns every tile join appends after (lat, lon)
TILE_FIELDS = [
    ("tile_lat", T.IntegerType()),
    ("tile_lon", T.IntegerType()),
    ("in_coverage", T.BooleanType()),
    ("tile_found", T.BooleanType()),
]


def _elevation_fields(mode: str):
    elev = T.DoubleType() if mode == "bilinear" else T.IntegerType()
    return TILE_FIELDS + [("knn_used", T.BooleanType()), ("elevation", elev)]


def _read_blob_from_path(path: str) -> bytes:
    """Executor-side tile fetch from shared storage (blob_source='path'):
    the real-cluster pattern where rasters live in an object store and
    only their PATHS ride the shuffle. Handles the .hgt.zip wrapping the
    directory scan accepts (service.rs:546-576).

    The binaryFile `path` column is a URI: percent-decoded here, and
    non-local schemes (hdfs://, s3a://, ...) raise a clear error rather
    than failing inside open() — on a real cluster plug an fsspec/Hadoop
    filesystem in at this single seam. file://host paths (non-local host)
    are rejected for the same reason."""
    from urllib.parse import unquote, urlparse

    u = urlparse(path)
    if u.scheme in ("", "file"):
        if u.scheme == "file" and u.netloc not in ("", "localhost"):
            raise NotImplementedError(
                f"non-local file URI {path!r}: blob_source='path' reads via "
                "the local filesystem in this build (mount the store or swap "
                "_read_blob_from_path for an fsspec-backed reader)"
            )
        p = unquote(u.path) if u.scheme == "file" else path
    else:
        raise NotImplementedError(
            f"unsupported filesystem scheme {u.scheme!r} in {path!r}: this "
            "build reads tiles from a locally-mounted filesystem; swap "
            "_read_blob_from_path for an fsspec/Hadoop FS reader for "
            "hdfs:// or s3a:// catalogs"
        )
    with open(p, "rb") as f:
        raw = f.read()
    if p.endswith(".hgt.zip"):
        raw = hgt.extract_hgt_from_zip(raw)
    return raw


class _GridCache:
    """Executor-local decoded-grid LRU — the distributed analog of the
    reference's moka tile cache (service.rs:168, capacity in tiles)."""

    def __init__(self, capacity: int = 64):
        self.capacity = capacity
        self.data: OrderedDict = OrderedDict()
        self.hits = 0
        self.misses = 0

    def get(self, key, blob_getter):
        if key in self.data:
            self.hits += 1
            self.data.move_to_end(key)
            return self.data[key]
        self.misses += 1
        blob = blob_getter(key)
        if blob is None:
            return None
        grid = hgt.decode_tile(bytes(blob))
        self.data[key] = grid
        if len(self.data) > self.capacity:
            self.data.popitem(last=False)
        return grid


# Per-worker cache registry, LRU over engine tokens: long-lived Python
# workers outlive driver-side engines, and clear_cache() rotates the token,
# so stale tokens must be EVICTED (not just orphaned) or every rotation
# strands up to cache_size decoded grids per worker forever. The cap bounds
# how many engines can share a worker before an ACTIVE engine's grids get
# evicted mid-job (correct results, silent re-decode churn) — 16 engines x
# 64-grid default is comfortably past any realistic concurrent-engine count
# while still reclaiming rotated tokens promptly.
_MAX_CACHE_TOKENS = 16
_EXECUTOR_CACHE: "OrderedDict[str, _GridCache]" = OrderedDict()


def _executor_cache(token: str, capacity: int) -> _GridCache:
    c = _EXECUTOR_CACHE.get(token)
    if c is None:
        c = _EXECUTOR_CACHE[token] = _GridCache(capacity)
        while len(_EXECUTOR_CACHE) > _MAX_CACHE_TOKENS:
            _EXECUTOR_CACHE.popitem(last=False)
    else:
        _EXECUTOR_CACHE.move_to_end(token)
    return c


def assign_nearest_center(
    lat: np.ndarray, lon: np.ndarray, centers: np.ndarray, chunk: int = 4096,
    point_chunk: int = 8192,
) -> np.ndarray:
    """Nearest catalog tile per point: squared euclidean distance to tile
    centers, ties broken by lowest (tile_lat, tile_lon). Returns (n, 2)
    int64 tile keys.

    BOTH axes are chunked so the transient distance matrix is bounded at
    point_chunk x chunk doubles (~256 MB) regardless of Arrow batch size
    and catalog size — a full 14k-tile SRTM catalog against a 64k-row
    batch would otherwise materialize a 7 GB matrix. First-minimum
    semantics are preserved across center chunks by the strict `<` update
    (within a chunk np.argmin already returns the first = lowest sorted
    key)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    order = np.lexsort((centers[:, 1], centers[:, 0]))
    sc = centers[order].astype(np.float64)
    n = len(lat)
    best_i = np.zeros(n, dtype=np.int64)
    for ps in range(0, n, point_chunk):
        pe = min(ps + point_chunk, n)
        plat = lat[ps:pe, None]
        plon = lon[ps:pe, None]
        best_d = np.full(pe - ps, np.inf)
        rows = np.arange(pe - ps)
        for s in range(0, len(sc), chunk):
            blk = sc[s : s + chunk]
            d = (plat - (blk[:, 0] + 0.5)) ** 2 + (plon - (blk[:, 1] + 0.5)) ** 2
            bi = np.argmin(d, axis=1)
            bd = d[rows, bi]
            upd = bd < best_d
            best_d[upd] = bd[upd]
            best_i[ps:pe][upd] = bi[upd] + s
    return sc[best_i].astype(np.int64)


def cell_code(tile_lat, tile_lon):
    """Packed 1-degree cell code, collision-free over the whole tile-key
    range (tile_lon + 180 <= 360 < 361). Works on int64 NumPy arrays and on
    long Spark Columns alike; ``cell_of`` unpacks one code."""
    return (tile_lat + 90) * 361 + (tile_lon + 180)


def cell_of(code: int) -> tuple[int, int]:
    return code // 361 - 90, code % 361 - 180


def tile_groups(klat: np.ndarray, klon: np.ndarray, idx: np.ndarray):
    """Yield ((tile_lat, tile_lon), rows) for the points `idx`, grouped by
    tile key. One int64 argsort on the cell code beats np.unique(axis=0)'s
    structured-dtype sort by ~50x on 64k batches."""
    if not len(idx):
        return
    code = cell_code(klat[idx].astype(np.int64), klon[idx].astype(np.int64))
    order = np.argsort(code, kind="stable")
    sc = code[order]
    starts = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
    for s, e in zip(starts, np.r_[starts[1:], len(sc)]):
        yield cell_of(int(sc[s])), idx[order[s:e]]


def kernel_batch(
    lat: np.ndarray,
    lon: np.ndarray,
    get_grid,
    mode: str,
    knn_centers: np.ndarray | None = None,
):
    """Vectorized batch kernel over arbitrary points (NumPy only).

    get_grid((tile_lat, tile_lon)) -> int16 grid or None.
    Returns dict of column arrays: elevation (float64; NaN == NULL),
    tile_lat/tile_lon (assigned tile after any kNN fallback), in_coverage,
    tile_found, knn_used.
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    n = len(lat)
    elev = np.full(n, np.nan, dtype=np.float64)
    in_cov = np.asarray(hgt.is_valid_srtm_coord(lat, lon))
    klat, klon = hgt.tile_key(lat, lon)
    found = np.zeros(n, dtype=bool)
    knn_used = np.zeros(n, dtype=bool)

    def lookup(key, gi) -> bool:
        grid = get_grid(key)
        if grid is None:
            return False
        found[gi] = True
        # position within the tile (hgt.grid_position's exact ops); the
        # clamp to frac [0, 1] binds only for kNN-assigned points
        nm1 = grid.shape[0] - 1.0
        row_pos = (1.0 - np.clip(lat[gi] - key[0], 0.0, 1.0)) * nm1
        col_pos = np.clip(lon[gi] - key[1], 0.0, 1.0) * nm1
        if mode == "bilinear":
            elev[gi], _void = hgt.lookup_bilinear_pos(grid, row_pos, col_pos)  # NaN where void
        else:
            vals = hgt.lookup_nearest_pos(grid, row_pos, col_pos, rounding=mode)
            elev[gi] = np.where(vals == hgt.VOID_VALUE, np.nan, vals.astype(np.float64))
        return True

    missing = []
    for key, gi in tile_groups(klat, klon, np.nonzero(in_cov)[0]):
        if not lookup(key, gi):
            missing.append(gi)
    # kNN nearest-tile fallback for in-coverage points with no tile (J6)
    if missing and knn_centers is not None and len(knn_centers):
        mi = np.concatenate(missing)
        tsel = assign_nearest_center(lat[mi], lon[mi], knn_centers)
        klat[mi] = tsel[:, 0]
        klon[mi] = tsel[:, 1]
        knn_used[mi] = True
        # a miss here is a cogroup pass-1 group: the assigned tile lives in
        # another group, and pass 2 re-keys the row there
        for key, gi in tile_groups(klat, klon, mi):
            lookup(key, gi)

    return {
        "lat": lat,
        "lon": lon,
        "tile_lat": klat.astype(np.int32),
        "tile_lon": klon.astype(np.int32),
        "in_coverage": in_cov,
        "tile_found": found,
        "knn_used": knn_used,
        "elevation": elev,
    }


def _kernel_arrays(res: dict, fields, arrow_types) -> list:
    """Arrow columns for the kernel-computed `fields` (the plans forward
    lat/lon as the input Arrow columns). NaN marks NULL in float results
    and NumPy masked arrays carry their own mask; the tile key is NULL
    where a coordinate is (NaN once off Arrow)."""
    import pyarrow as pa

    no_tile = np.isnan(res["lat"]) | np.isnan(res["lon"])
    no_tile = no_tile if no_tile.any() else None  # a mask costs 15x the copy
    return [
        pa.array(res[name], type=t, from_pandas=True,
                 mask=no_tile if name in ("tile_lat", "tile_lon") else None)
        for (name, _), t in zip(fields, arrow_types)
    ]


def _out_schema(head: list, fields) -> T.StructType:
    coords = [("lat", T.DoubleType()), ("lon", T.DoubleType())]
    return T.StructType(head + [T.StructField(n, t) for n, t in coords + fields])


def _double_coords(pts: DataFrame) -> DataFrame:
    # the plans forward lat/lon untouched, so they must already be doubles
    # (a no-op cast is optimized away)
    return pts.withColumns({c: F.col(c).cast("double") for c in ("lat", "lon")})


def _group_grid(rtbl, blob_source: str):
    """Decode the (single) tile blob of a cogroup's catalog side, or None."""
    if rtbl.num_rows == 0:
        return None
    if blob_source == "inline":
        return hgt.decode_tile(rtbl.column("data")[0].as_py())
    return hgt.decode_tile(_read_blob_from_path(str(rtbl.column("path")[0].as_py())))


def _read_only_centers(rows) -> np.ndarray:
    centers = np.array([[r.tile_lat, r.tile_lon] for r in rows], dtype=np.int64).reshape(-1, 2)
    centers.setflags(write=False)
    return centers


class ElevationEngine:
    """DataFrame-level elevation service — the `SrtmService` analog
    (API parity table: SURVEY.md §2.8; htg-python/src/lib.rs:110-316)."""

    # raw blobs broadcast only while the catalog fits comfortably in memory.
    # BOTH gates apply: tile count alone is not a size (256 SRTM1 tiles are
    # ~6.6 GB — enough to OOM a stock driver — while 256 SRTM3 tiles are
    # ~740 MB), so the byte gate measures sum(length(data)) once.
    BROADCAST_MAX_TILES = 256
    BROADCAST_MAX_BYTES = 512 << 20  # 512 MB of raw tile blobs

    def __init__(
        self,
        spark: SparkSession,
        catalog: DataFrame | None = None,
        grids: dict | None = None,
        tile_dir: str | None = None,
        cache_size: int = 64,
    ):
        from . import catalog as cat_mod

        import uuid

        self.spark = spark
        self.cache_size = cache_size
        # histogram-estimated input rows of the latest _salted_inputs call;
        # sizes the cogroup kernel stage's explicit partition count
        self._last_hist_rows = 0
        # executor-cache namespace: a per-engine UUID, NOT id(self) — Python
        # recycles ids after GC and executor workers outlive driver objects,
        # so an id-keyed cache could serve another catalog's grids
        self._cache_token = uuid.uuid4().hex
        if catalog is not None:
            self.catalog = catalog
        elif grids is not None:
            self.catalog = cat_mod.catalog_from_grids(spark, grids)
        elif tile_dir is not None:
            self.catalog = cat_mod.catalog_from_dir(spark, tile_dir)
        else:
            raise ValueError("one of catalog / grids / tile_dir is required")
        self._bcast = None
        # tiles warmed by previous preload() calls — the driver-side ledger
        # behind PreloadStats.tiles_already_cached (service.rs:705-708).
        # The reference consults the LIVE moka cache, whose capacity
        # eviction means already_cached reflects actual residency; a plain
        # unbounded set would keep reporting tiles long since LRU-evicted.
        # Approximate the moka behavior by bounding the ledger to the
        # decoded-grid cache capacity with the same LRU order (dict keeps
        # insertion order; preload() refreshes touched keys to the back and
        # evicts from the front past cache_size). Evicted keys are simply
        # re-checked/re-warmed by the next preload — exactly what the
        # reference does after a capacity eviction.
        self._preloaded_keys: dict[tuple[int, int], None] = {}
        # lazily measured ONCE (catalog is immutable): (n_tiles, total_bytes);
        # total_bytes is None while unmeasured (see _measure_catalog)
        self._catalog_stats: tuple[int, int | None] | None = None
        # likewise collected ONCE: the (n_tiles, 2) centers kNN joins use
        self._centers: np.ndarray | None = None
        # serializes the lazy one-time catalog work (blob collect+broadcast,
        # stats agg) against preload(blocking=False)'s background thread —
        # without it two threads can each collect the full raw-blob catalog
        # to the driver (2x transient memory) and leak one broadcast
        import threading

        self._prep_lock = threading.Lock()

    # -- srtm_rs-parity point API (SURVEY.md §2.8; htg-python/src/lib.rs) ----
    #
    # Single-point and small-batch lookups run driver-side on the collected
    # catalog (launching a cluster job per point would be absurd); they share
    # the exact same NumPy kernels as the distributed path, so semantics are
    # identical by construction.

    def _local_cache(self) -> "_GridCache":
        if not hasattr(self, "_driver_cache"):
            self._driver_cache = _GridCache(self.cache_size)
        return self._driver_cache

    def _local_get_grid(self, key):
        blobs = self._broadcast_blobs().value
        return self._local_cache().get(key, blobs.get)

    def get_elevation(self, lat: float, lon: float, rounding: str = "nearest"):
        """Optional[int] — void/missing -> None; out-of-coverage raises
        (single-point strict contract, service.rs:485-490; lib.rs:132-159)."""
        if not bool(hgt.is_valid_srtm_coord(lat, lon)):
            raise ValueError(f"coordinates out of SRTM coverage: ({lat}, {lon})")
        res = kernel_batch(
            np.array([lat]), np.array([lon]), self._local_get_grid, rounding
        )
        e = res["elevation"][0]
        return None if np.isnan(e) else int(e)

    def get_elevation_floor(self, lat: float, lon: float):
        return self.get_elevation(lat, lon, rounding="floor")

    def get_elevation_interpolated(self, lat: float, lon: float):
        """Optional[float] (lib.rs:237-246)."""
        if not bool(hgt.is_valid_srtm_coord(lat, lon)):
            raise ValueError(f"coordinates out of SRTM coverage: ({lat}, {lon})")
        res = kernel_batch(
            np.array([lat]), np.array([lon]), self._local_get_grid, "bilinear"
        )
        e = res["elevation"][0]
        return None if np.isnan(e) else float(e)

    def get_elevations_batch(self, coords, default: int = 0, rounding: str = "nearest"):
        """Order-preserving list[int]; ooc/missing/void -> default
        (lib.rs:175-201, service.rs:409-480)."""
        if not coords:
            return []
        arr = np.asarray(coords, dtype=np.float64)
        res = kernel_batch(arr[:, 0], arr[:, 1], self._local_get_grid, rounding)
        e = res["elevation"]
        return [int(default) if np.isnan(v) else int(v) for v in e]

    def get_elevations_batch_interpolated(self, coords, default: float = 0.0):
        if not coords:
            return []
        arr = np.asarray(coords, dtype=np.float64)
        res = kernel_batch(arr[:, 0], arr[:, 1], self._local_get_grid, "bilinear")
        return [float(default) if np.isnan(v) else float(v) for v in res["elevation"]]

    def preload(self, bounds=None, blocking: bool = True):
        """Warm the catalog (service.rs:685-722): persist + per-tile decode
        check, optional bbox pruning. Returns the full PreloadStats dict
        (service.rs:114-126): tiles_matched / tiles_loaded /
        tiles_already_cached / tiles_failed / elapsed_ms. A repeat preload
        reports already_cached=matched, loaded=0 (service.rs preload tests:
        test_preload_already_cached); a tile whose blob fails to decode
        counts in tiles_failed and will be retried by the next preload.

        blocking=False reproduces the reference's background-thread variant
        (htg-python/src/lib.rs:297-300): the warm-up runs on a daemon
        thread and this call returns None immediately; wait_preload()
        joins the thread and returns the stats. Only one background preload
        may be in flight at a time — a second call while one is running
        raises (two unguarded threads would race each other's stats)."""
        import time as _time

        from . import catalog as cat_mod

        if not blocking:
            # InheritableThread propagates the py4j auth/session context
            # (plain threading.Thread can race SparkContext shutdown)
            from pyspark import InheritableThread

            def _bg():
                try:
                    self._preload_stats = self.preload(bounds, blocking=True)
                except BaseException as e:  # surfaced by wait_preload
                    self._preload_error = e

            # check-and-start under the lock: two concurrent non-blocking
            # callers must not both pass the is_alive() check and spawn
            # racing threads (the exact race the guard exists to prevent)
            with self._prep_lock:
                prev = getattr(self, "_preload_thread", None)
                if prev is not None and prev.is_alive():
                    raise RuntimeError(
                        "a background preload is already in flight; call "
                        "wait_preload() before starting another"
                    )
                self._preload_stats = None
                self._preload_error = None
                t = InheritableThread(target=_bg, daemon=True)
                self._preload_thread = t
                t.start()
            return None

        t0 = _time.perf_counter()
        boxes = None
        if bounds is not None:
            boxes = bounds if isinstance(bounds, list) else [bounds]
        # warm only: tiles outside the boxes stay queryable (the reference's
        # preload fills the cache, it never narrows coverage). Tiles the
        # ledger already holds skip the decode re-check entirely.
        with self._prep_lock:
            known_warm = set(self._preloaded_keys)
        warmed, tile_checks = cat_mod.preload(self.catalog, boxes, skip_keys=known_warm)
        loaded = already = failed = 0
        with self._prep_lock:
            warmed_keys = self._preloaded_keys
            for tl, tn, ok in tile_checks:
                if (tl, tn) in warmed_keys:
                    already += 1
                    # touch refreshes LRU position, like a moka cache hit
                    warmed_keys[(tl, tn)] = warmed_keys.pop((tl, tn))
                elif ok:
                    loaded += 1
                    warmed_keys[(tl, tn)] = None
                else:
                    failed += 1
            # bound the ledger to the decoded-grid cache capacity so
            # already_cached approximates actual residency (see __init__)
            while len(warmed_keys) > self.cache_size:
                warmed_keys.pop(next(iter(warmed_keys)))
            # bound the persisted preload frames: each distinct bbox persists
            # a distinct filtered plan, and nothing downstream holds the
            # handle — keep the 4 most recent warm sets, LRU-unpersist the
            # rest (same policy as the executor cache-token LRU)
            frames = getattr(self, "_preload_frames", None)
            if frames is None:
                frames = self._preload_frames = []
            frames.append(warmed)
            while len(frames) > 4:
                frames.pop(0).unpersist()
        # blob broadcast collects every tile to the driver — safe only for
        # broadcast-sized catalogs; past the threshold (exactly when preload
        # matters most) the warmed catalog persist above is the preload
        if self._fits_broadcast():
            self._broadcast_blobs()
        return {
            "tiles_matched": len(tile_checks),
            "tiles_loaded": loaded,
            "tiles_already_cached": already,
            "tiles_failed": failed,
            "elapsed_ms": round((_time.perf_counter() - t0) * 1000, 1),
        }

    def wait_preload(self, timeout: float | None = None):
        """Join a preload(blocking=False) thread; returns its stats dict
        (None if no background preload ran or it has not finished). An
        exception raised inside the background thread re-raises HERE — the
        non-blocking variant must not silently lose the error signal its
        blocking twin would have delivered."""
        t = getattr(self, "_preload_thread", None)
        if t is not None:
            t.join(timeout)
        err = getattr(self, "_preload_error", None)
        if err is not None and not (t is not None and t.is_alive()):
            self._preload_error = None
            raise err
        return getattr(self, "_preload_stats", None)

    def cache_stats(self):
        """Driver-side decoded-grid cache counters (CacheStats analog,
        service.rs:41-63)."""
        c = self._local_cache()
        total = c.hits + c.misses
        return {
            "entry_count": len(c.data),
            "hit_count": c.hits,
            "miss_count": c.misses,
            "hit_rate": (c.hits / total) if total else 0.0,
        }

    def clear_cache(self):
        """Invalidate cached decoded grids (service.rs:617; the reference
        KEEPS the cumulative hit/miss counters — test_clear_cache asserts
        miss_count continues at 2 after a clear). Executor-side caches are
        namespaced by the engine token, so rotating it makes every reused
        worker re-decode on the next job. The preload ledger resets too:
        after a clear, the next preload() re-loads every tile rather than
        reporting it already_cached (matching the reference, where preload
        consults the just-emptied moka cache)."""
        import uuid

        self._local_cache().data.clear()
        self._cache_token = uuid.uuid4().hex
        with self._prep_lock:
            self._preloaded_keys.clear()

    def cache_capacity(self) -> int:
        """service.rs:1174-1180."""
        return self.cache_size

    @classmethod
    def from_env(cls, spark: SparkSession) -> "ElevationEngine":
        """Construct from the reference's environment contract
        (service.rs:773-822): HTG_DATA_DIR (required — error if unset),
        HTG_CACHE_SIZE (default 100). HTG_PRELOAD bounds parsing lives in
        operators.geo_misc.parse_preload_bounds (htg-service main.rs)."""
        import os

        data_dir = os.environ.get("HTG_DATA_DIR")
        if not data_dir:
            raise ValueError(
                "HTG_DATA_DIR environment variable is not set (service.rs:817-822)"
            )
        cache_size = int(os.environ.get("HTG_CACHE_SIZE", "100"))
        return cls(spark, tile_dir=data_dir, cache_size=cache_size)

    # -- catalog helpers ---------------------------------------------------

    def _measure_catalog(self) -> tuple[int, int | None]:
        """(n_tiles, total_blob_bytes) — cached; a Spark action must not sit
        in the hot path of every repeated join. The tile COUNT is measured
        first; when it alone already exceeds BROADCAST_MAX_TILES the byte
        aggregation is skipped (total_bytes stays None) — the broadcast gate
        is decided either way, and summing length(data) over a huge
        tile_dir catalog would force a full read of every raster blob
        exactly when the catalog is too big for that to be cheap. Callers
        that genuinely need the byte total use catalog_bytes(), which
        measures on demand."""
        if self._catalog_stats is None:
            with self._prep_lock:
                if self._catalog_stats is None:
                    n = self.catalog.count()
                    if n > self.BROADCAST_MAX_TILES:
                        self._catalog_stats = (n, None)
                    else:
                        row = self.catalog.agg(
                            F.sum(F.length("data")).alias("nbytes")
                        ).collect()[0]
                        self._catalog_stats = (n, int(row["nbytes"] or 0))
        return self._catalog_stats

    def n_tiles(self) -> int:
        return self._measure_catalog()[0]

    def catalog_bytes(self) -> int:
        n, nbytes = self._measure_catalog()
        if nbytes is None:
            with self._prep_lock:
                n, nbytes = self._catalog_stats
                if nbytes is None:
                    row = self.catalog.agg(
                        F.sum(F.length("data")).alias("nbytes")
                    ).collect()[0]
                    nbytes = int(row["nbytes"] or 0)
                    self._catalog_stats = (n, nbytes)
        return nbytes

    def _fits_broadcast(self) -> bool:
        n, nbytes = self._measure_catalog()
        if n > self.BROADCAST_MAX_TILES:
            return False
        return nbytes <= self.BROADCAST_MAX_BYTES

    def _broadcast_blobs(self):
        if self._bcast is None:
            with self._prep_lock:
                if self._bcast is None:
                    rows = self.catalog.select("tile_lat", "tile_lon", "data").collect()
                    blobs = {(r.tile_lat, r.tile_lon): bytes(r.data) for r in rows}
                    if self._centers is None:
                        self._centers = _read_only_centers(rows)
                    self._bcast = self.spark.sparkContext.broadcast(blobs)
        return self._bcast

    def tile_centers(self) -> np.ndarray:
        """(n_tiles, 2) int64 tile (lat, lon), collected once (or taken from
        the blob broadcast's collect) and shared by every join."""
        if self._centers is None:
            with self._prep_lock:
                if self._centers is None:
                    rows = self.catalog.select("tile_lat", "tile_lon").collect()
                    self._centers = _read_only_centers(rows)
        return self._centers

    # -- the join ------------------------------------------------------------

    def elevation_join(
        self,
        points: DataFrame,
        mode: str = "nearest",
        strategy: str = "auto",
        id_col: str = "image_id",
        default=None,
        knn_fallback: bool = False,
        n_salts: int = 8,
        strict: bool = False,
        observe: bool = False,
        blob_source: str | None = None,
    ) -> DataFrame:
        """Append elevation columns to `points`.

        points must carry either (lat, lon) columns or a `phash` column (the
        geotag derivation is then done JVM-side from phash). Appended:
        lat, lon, tile_lat, tile_lon, in_coverage, tile_found, knn_used,
        elevation (Int32 for nearest/floor, Double for bilinear; NULL for
        void/missing/out-of-coverage unless `default` is given).

        strict=True replicates the single-point API contract: raise on any
        out-of-coverage row (service.rs:485-490) instead of defaulting.

        blob_source (cogroup strategy only): 'inline' ships each tile blob
        through the shuffle at most n_salts times; 'path' ships ONLY the
        source URI and each task reads its tile from shared storage at
        apply time — at 100 TB of rasters the blobs must never enter a
        shuffle, this is that plan. Requires a path-bearing catalog
        (catalog_from_dir / tile_dir engines). Default None = auto: a
        cogroup join over a path-bearing catalog picks 'path' (the only
        shape that survives when the raster corpus itself is the 100 TB);
        in-memory catalogs fall back to 'inline'.
        """
        if mode not in ("nearest", "floor", "bilinear"):
            raise ValueError(f"bad mode {mode!r}")
        pts = points
        if "lat" not in pts.columns or "lon" not in pts.columns:
            if "phash" not in pts.columns:
                raise ValueError("points need (lat, lon) or phash")
            pts = pts.withColumn("lat", cells.lat_from_phash(F.col("phash"))).withColumn(
                "lon", cells.lon_from_phash(F.col("phash"))
            )

        if strict:
            cov = F.coalesce(cells.in_coverage(F.col("lat"), F.col("lon")), F.lit(False))
            bad = pts.where(~cov).limit(1).count()
            if bad:
                raise ValueError("coordinates out of SRTM coverage (strict mode)")

        if strategy == "auto":
            # broadcast while the raw catalog fits comfortably in memory —
            # gated on tile count AND total blob bytes (both cached)
            strategy = "broadcast" if self._fits_broadcast() else "cogroup"

        if blob_source is None:
            blob_source = (
                "path"
                if strategy == "cogroup" and "path" in self.catalog.columns
                else "inline"
            )
        if blob_source not in ("inline", "path"):
            raise ValueError(f"bad blob_source {blob_source!r}")
        if blob_source == "path":
            if strategy != "cogroup":
                raise ValueError("blob_source='path' requires strategy='cogroup'")
            if "path" not in self.catalog.columns:
                raise ValueError("blob_source='path' needs a path-bearing catalog")

        kernel, fields = partial(kernel_batch, mode=mode), _elevation_fields(mode)
        if strategy == "broadcast":
            out = self._join_broadcast(pts, kernel, fields, knn_fallback)
        elif strategy == "cogroup":
            out = self._join_cogroup(
                pts, kernel, fields, id_col, n_salts, blob_source, knn_fallback
            )
        else:
            raise ValueError(f"bad strategy {strategy!r}")

        if default is not None:
            out = out.withColumn(
                "elevation", F.coalesce(F.col("elevation"), F.lit(default))
            )
        if observe:
            from pyspark.sql import Observation

            obs = Observation("elevation_join")
            out = out.observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.sum((~F.col("in_coverage")).cast("long")).alias("out_of_coverage"),
                F.sum(
                    (F.col("in_coverage") & ~F.col("tile_found")).cast("long")
                ).alias("missing_tile"),
                F.sum(F.col("knn_used").cast("long")).alias("knn_fallbacks"),
                F.sum(
                    (F.col("tile_found") & F.col("elevation").isNull()).cast("long")
                ).alias("void_hits") if default is None else F.lit(0).alias("void_hits"),
            )
            self.last_observation = obs
        return out

    # -- broadcast (map-only) strategy ----------------------------------------

    def _join_broadcast(
        self, pts: DataFrame, kernel, fields, knn: bool = False
    ) -> DataFrame:
        """Map-only Arrow stage: lat/lon come off the Arrow buffers as
        zero-copy NumPy views, `kernel(lat, lon, get_grid)` runs vectorized
        and appends `fields`; payload columns and lat/lon are forwarded as
        untouched Arrow arrays (the multi-MB image bytes never enter pandas
        or get copied)."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        pts = _double_coords(pts)
        bcast = self._broadcast_blobs()
        kw = {"knn_centers": self.tile_centers()} if knn else {}
        cache_cap = self.cache_size
        token = self._cache_token
        passthrough = [f for f in pts.schema.fields if f.name not in ("lat", "lon")]
        out_schema = _out_schema(passthrough, fields)
        names = [f.name for f in out_schema.fields]
        arrow_types = [to_arrow_type(t) for _, t in fields]

        def run(batches):
            cache = _executor_cache(token, cache_cap)
            blobs = bcast.value

            def get_grid(key):
                return cache.get(key, blobs.get)

            for batch in batches:
                lat = batch.column("lat")
                lon = batch.column("lon")
                res = kernel(
                    lat.to_numpy(zero_copy_only=False),
                    lon.to_numpy(zero_copy_only=False),
                    get_grid,
                    **kw,
                )
                arrays = [batch.column(f.name) for f in passthrough] + [lat, lon]
                arrays += _kernel_arrays(res, fields, arrow_types)
                yield pa.RecordBatch.from_arrays(arrays, names=names)

        return pts.mapInArrow(run, schema=out_schema)

    # -- cogroup (shuffle, salted) strategy -------------------------------------

    # histogram pre-pass sample rate: k_salt needs only order-of-magnitude
    # per-cell counts (it is clamped to [1, n_salts] and the target is a
    # RATIO of sampled counts, so the 1/f scale factors cancel) — a 2%
    # sample makes the pre-pass ~free instead of a second full scan of the
    # points table per join call. Cells the sample misses default to
    # k_salt=1 via the coalesce in both join legs, which is exactly right:
    # a cell too cold to appear in a 2% sample is not a skew cell.
    HIST_SAMPLE_FRACTION = 0.02

    def _salted_inputs(
        self, pts: DataFrame, id_col: str, n_salts: int, blob_source: str = "inline"
    ):
        """Adaptive-salt shuffle inputs for the cogroup join: returns
        (narrow, cat) where `narrow` is (_rid, lat, lon, tile_lat, tile_lon,
        salt) and `cat` is the catalog replicated k_salt(cell) times per
        cell. The histogram pre-pass counts a HIST_SAMPLE_FRACTION sample
        of points per 1-degree cell (output bounded by 64,800 cells — safe
        to collect) and gives each cell
        k(cell) = clamp(ceil(count / target_rows_per_salt), 1, n_salts)
        salt buckets, so only hot cells replicate their tile blob and cold
        cells cross the shuffle once. Exposed separately from _join_cogroup
        so the skew-stress test can assert the group-size distribution the
        shuffle actually partitions on."""
        narrow = pts.select(
            F.col(id_col).alias("_rid"),
            F.col("lat"),
            F.col("lon"),
            cells.tile_lat(F.col("lat")).alias("tile_lat"),
            cells.tile_lon(F.col("lon")).alias("tile_lon"),
        )
        hist = (
            narrow.sample(fraction=self.HIST_SAMPLE_FRACTION, seed=42)
            .groupBy("tile_lat", "tile_lon")
            .count()
            .collect()
        )
        # scale sampled counts to FULL-scale estimates before any absolute
        # threshold: the 1.0-row floor on `target` must bind on estimated
        # real counts, not on 2% sampled counts (a uniform 300-row input
        # would otherwise read target=1 sampled row and salt everything)
        f = self.HIST_SAMPLE_FRACTION
        est = [(r["tile_lat"], r["tile_lon"], r["count"] / f) for r in hist]
        total_rows = sum(c for _, _, c in est) or 1
        slots = pts.sparkSession.sparkContext.defaultParallelism
        target = max(total_rows / max(slots * 2, 1), 1.0)
        import math

        # salt only cells ABOVE 2x the per-slot target: a cell under 2x is
        # ordinary partition imbalance, not skew, and the 2x guard band also
        # absorbs the sampling noise of borderline-cold cells (a cell whose
        # sampled count is within noise of the target must not flap into
        # k_salt=2 and needlessly replicate its blob)
        salt_rows = [
            (
                tl,
                tn,
                1 if c <= 2 * target else int(min(math.ceil(c / target), n_salts)),
            )
            for tl, tn, c in est
        ]
        salt_df = F.broadcast(
            pts.sparkSession.createDataFrame(
                salt_rows, "tile_lat int, tile_lon int, k_salt int"
            )
        )
        self._last_hist_rows = total_rows  # kernel-stage sizing, see _join_cogroup
        narrow = narrow.join(salt_df, ["tile_lat", "tile_lon"], "left").withColumn(
            "salt",
            F.pmod(F.xxhash64(F.col("_rid")), F.coalesce(F.col("k_salt"), F.lit(1)))
            .cast("int"),
        ).drop("k_salt")
        blob_col = "data" if blob_source == "inline" else "path"
        cat = (
            self.catalog.join(salt_df, ["tile_lat", "tile_lon"], "left")
            .withColumn("k_salt", F.coalesce(F.col("k_salt"), F.lit(1)))
            .select(
                "tile_lat",
                "tile_lon",
                blob_col,
                F.explode(F.sequence(F.lit(0), F.col("k_salt") - 1)).alias("salt"),
            )
        )
        return narrow, cat

    def _join_cogroup(
        self,
        pts: DataFrame,
        kernel,
        fields,
        id_col: str,
        n_salts: int,
        blob_source: str = "inline",
        knn: bool = False,
    ) -> DataFrame:
        """Salted cogroup join with ADAPTIVE skew salting: a histogram
        pre-pass counts points per tile cell, and each cell gets
        k(cell) = clamp(ceil(count / target_rows_per_salt), 1, n_salts)
        salt buckets. Cold tiles cross the shuffle once; only hot-cluster
        tiles fan out — at 10^12 rows this is the difference between
        replicating the whole catalog n_salts times and replicating just the
        skewed cells (SURVEY.md §4 'Skew handling').

        kNN fallback (J6 at scale): the fallback tile is data-dependent, so
        the first shuffle cannot route to it. Pass 1's kernel assigns each
        in-coverage miss its nearest catalog tile (centers are 2 ints per
        tile, NOT blobs, so they ship with the closure at any catalog size);
        its group holds no grid for that tile, so the row leaves pass 1 with
        the assigned key and tile_found false. Pass 2 re-keys only those
        rows by the assigned tile and runs the same kernel against the
        catalog semi-join-pruned to the assigned tiles (its kNN step
        re-derives the same nearest tile, now present). Misses are typically
        a small fraction of rows, so the extra shuffle is proportional to
        the miss rate."""
        if id_col not in pts.columns:
            raise ValueError(f"cogroup strategy needs a unique id column {id_col!r}")
        pts = _double_coords(pts)
        narrow, cat = self._salted_inputs(pts, id_col, n_salts, blob_source)
        out_schema = _out_schema([T.StructField("_rid", pts.schema[id_col].dataType)], fields)
        centers = self.tile_centers() if knn else None
        apply = _cogroup_kernel(kernel, fields, n_salts, blob_source, centers)

        # The shuffle + Python crossing carries ONE packed int key instead
        # of (tile_lat int, tile_lon int, salt int): mixed-radix
        # gk = cell_code(tile_lat, tile_lon) * n_salts + salt —
        # collision-free (salt < n_salts), exact in int32 for n_salts up to
        # ~3.3e4, and 8 fewer bytes on every narrow row through the
        # exchange AND through Arrow into the worker (~380 MB less at 48M
        # rows). The apply decodes the cell back from the key.
        def gk(salt):
            code = cell_code(F.col("tile_lat").cast("long"), F.col("tile_lon").cast("long"))
            return (code * n_salts + salt).cast("int").alias("gk")

        blob_col = "data" if blob_source == "inline" else "path"
        narrow = narrow.select("_rid", "lat", "lon", gk(F.col("salt")))
        cat = cat.select(gk(F.col("salt")), blob_col)

        # explicit-count repartition on the grouping key for BOTH cogroup
        # sides, sized from the histogram pre-pass's row estimate: AQE's
        # byte-based coalescing merges the kernel stage below core count
        # (measured 23 tasks on 32 cores at 48M rows) and straggler groups
        # serialize; conversely a count pinned high wastes per-task Arrow
        # setup at small volume. ~400k narrow rows (~11 MB) per task
        # measured best across both bench volumes (48M rows: 32 parts
        # 8.0s / 64 parts 6.1s / 128 parts 4.7s; 4.8M rows: 32 parts 2.2s
        # / 64 parts 2.6s, interleaved minima), floored at the configured
        # shuffle parallelism and capped against task explosion. The
        # groupBys reuse these exchanges — no extra shuffle.
        n_parts = min(
            4096,
            max(
                int(pts.sparkSession.conf.get("spark.sql.shuffle.partitions")),
                int(self._last_hist_rows // 400_000),
            ),
        )
        joined = (
            narrow.repartition(n_parts, "gk").groupBy("gk")
            .cogroup(cat.repartition(n_parts, "gk").groupBy("gk"))
            .applyInArrow(apply, schema=out_schema)
        )
        if knn and len(centers):
            # Materialize pass 1 ONCE before splitting it into rest/miss:
            # the union branches and the key set would otherwise each embed
            # the full pass-1 subtree and the cogroup kernel stage would
            # execute once per branch (Spark SQL has no cross-branch
            # common-subtree reuse). A lazy localCheckpoint swaps the
            # subtree for one shared RDD — no driver-side job at plan-build
            # time, and the checkpoint writes only the narrow pass-1 output.
            joined = joined.localCheckpoint(eager=False)
            is_miss = F.col("in_coverage") & ~F.col("tile_found")
            miss = joined.where(is_miss)
            # prune the catalog to assigned tiles before the blob shuffle
            keys = F.broadcast(miss.select("tile_lat", "tile_lon").distinct())
            cat = self.catalog.join(keys, ["tile_lat", "tile_lon"], "left_semi")
            second = (
                miss.select("_rid", "lat", "lon", gk(F.lit(0))).groupBy("gk")
                .cogroup(cat.select(gk(F.lit(0)), blob_col).groupBy("gk"))
                .applyInArrow(apply, schema=out_schema)
            )
            joined = joined.where(~is_miss).unionByName(second)
        extra_cols = [c for c in pts.columns if c not in (id_col, "lat", "lon")]
        if not extra_cols:
            # no payload to re-attach: skip the rejoin shuffle entirely
            return joined.withColumnRenamed("_rid", id_col)
        return pts.drop("lat", "lon").join(
            joined.withColumnRenamed("_rid", id_col), on=id_col, how="inner"
        )


def _cogroup_kernel(kernel, fields, n_salts: int, blob_source: str, knn_centers=None):
    """The cogroup plan's grouped apply: one (cell, salt) group's points
    against its catalog side (one tile or none). Arrow-native — to_numpy on
    the float64 columns is zero-copy and the result goes straight back into
    Arrow arrays, no per-group pandas DataFrame in either direction (the
    per-group constant cost dominates this stage once salting makes groups
    small)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    arrow_types = [to_arrow_type(t) for _, t in fields]
    names = ["_rid", "lat", "lon"] + [name for name, _ in fields]
    kw = {} if knn_centers is None else {"knn_centers": knn_centers}

    def apply(key, ltbl, rtbl):
        gk = key[0].as_py()  # NULL for points with a NULL coordinate
        cell = None if gk is None else cell_of(gk // n_salts)
        grid = None if ltbl.num_rows == 0 else _group_grid(rtbl, blob_source)
        lat, lon = ltbl.column("lat"), ltbl.column("lon")
        res = kernel(
            lat.to_numpy(zero_copy_only=False),
            lon.to_numpy(zero_copy_only=False),
            lambda k: grid if k == cell else None,
            **kw,
        )
        arrays = [ltbl.column("_rid"), lat, lon] + _kernel_arrays(res, fields, arrow_types)
        return pa.Table.from_arrays(arrays, names=names)

    return apply
