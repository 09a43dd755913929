"""End-to-end Spark engine tests — every result checked row-for-row against
the pure-NumPy oracle (htg_spark.hgt), which itself carries the reference's
unit-test expectations (tests/test_hgt_kernels.py)."""

import numpy as np
import pandas as pd
import pytest

from htg_spark import cells, fixtures, hgt
from htg_spark.engine import ElevationEngine


@pytest.fixture(scope="module")
def grids():
    return fixtures.default_catalog_grids()


@pytest.fixture(scope="module")
def engine(spark, grids):
    return ElevationEngine(spark, grids=grids)


@pytest.fixture(scope="module")
def points_pdf():
    """2000 deterministic points: in-tile, hot cluster, boundary, void,
    missing-tile, out-of-coverage."""
    rng = np.random.default_rng(123)
    n = 2000
    lat = 35.0 + rng.random(n) * 2.0
    lon = 138.0 + rng.random(n) * 2.0
    # missing tile rows
    lat[::17] = 50.0 + rng.random(len(lat[::17])) * 0.9
    lon[::17] = 50.0 + rng.random(len(lon[::17])) * 0.9
    # out of coverage rows
    lat[3::29] = 75.0 + rng.random(len(lat[3::29]))
    # the rounding-discriminator tile
    lat[5::31] = 33.0 + rng.random(len(lat[5::31]))
    lon[5::31] = -97.0 + rng.random(len(lon[5::31]))
    # exact boundaries (half-open PIP semantics)
    lat[7], lon[7] = 36.0, 138.5
    lat[11], lon[11] = 35.5, 139.0
    lat[13], lon[13] = 33.3448, -96.1592
    return pd.DataFrame(
        {"image_id": [f"p{i:05d}" for i in range(n)], "lat": lat, "lon": lon}
    )


def _oracle(points_pdf, grids, mode):
    coords = list(zip(points_pdf["lat"], points_pdf["lon"]))
    default = np.nan if mode == "bilinear" else None
    # oracle with NULL semantics: use get_elevations_batch with sentinel
    if mode == "bilinear":
        out = hgt.get_elevations_batch(coords, grids, default=np.nan, mode=mode)
        return out
    out = hgt.get_elevations_batch(coords, grids, default=-(10**6), mode=mode)
    return np.where(out == -(10**6), np.nan, out.astype(np.float64))


@pytest.mark.parametrize("mode", ["nearest", "floor", "bilinear"])
def test_broadcast_join_matches_oracle(spark, engine, grids, points_pdf, mode):
    df = spark.createDataFrame(points_pdf)
    res = (
        engine.elevation_join(df, mode=mode, strategy="broadcast")
        .orderBy("image_id")
        .toPandas()
    )
    expect = _oracle(points_pdf, grids, mode)
    got = res["elevation"].to_numpy(dtype="float64", na_value=np.nan)
    if mode == "bilinear":
        # bitwise-equal floats expected (same IEEE op order)
        both = np.isnan(expect) == np.isnan(got)
        assert both.all()
        m = ~np.isnan(expect)
        assert np.array_equal(expect[m], got[m])
    else:
        assert np.array_equal(np.isnan(expect), np.isnan(got))
        m = ~np.isnan(expect)
        assert np.array_equal(expect[m], got[m])


def test_reference_expectations_through_spark(spark, engine):
    pts = pd.DataFrame(
        {
            "image_id": ["a", "b", "c", "d", "e"],
            "lat": [35.5, 50.0, 35.1, 70.0, 33.3448],
            "lon": [138.5, 50.0, 138.1, 0.0, -96.1592],
        }
    )
    df = spark.createDataFrame(pts)
    out = (
        engine.elevation_join(df, mode="nearest", default=-1)
        .orderBy("image_id")
        .toPandas()
    )
    # [500 center, -1 missing, 0 zeros, -1 out-of-coverage, 190 round-tile]
    assert list(out["elevation"]) == [500, -1, 0, -1, 190]
    assert list(out["in_coverage"]) == [True, True, True, False, True]
    assert list(out["tile_found"]) == [True, False, True, False, True]

    out_f = (
        engine.elevation_join(df, mode="floor", default=-1).orderBy("image_id").toPandas()
    )
    assert list(out_f["elevation"]) == [500, -1, 0, -1, 191]


def test_cogroup_equals_broadcast(spark, engine, points_pdf):
    df = spark.createDataFrame(points_pdf)
    for mode in ("nearest", "bilinear"):
        a = (
            engine.elevation_join(df, mode=mode, strategy="broadcast")
            .orderBy("image_id")
            .toPandas()
        )
        b = (
            engine.elevation_join(df, mode=mode, strategy="cogroup", n_salts=4)
            .orderBy("image_id")
            .toPandas()
        )
        assert len(a) == len(b) == len(points_pdf)
        av = a["elevation"].to_numpy(dtype="float64", na_value=np.nan)
        bv = b["elevation"].to_numpy(dtype="float64", na_value=np.nan)
        assert np.array_equal(np.isnan(av), np.isnan(bv))
        m = ~np.isnan(av)
        assert np.array_equal(av[m], bv[m])
        for c in ("tile_lat", "tile_lon", "in_coverage", "tile_found"):
            assert a[c].tolist() == b[c].tolist(), c


def test_strict_mode_raises_on_ooc(spark, engine):
    df = spark.createDataFrame(pd.DataFrame({"image_id": ["x"], "lat": [70.0], "lon": [0.0]}))
    with pytest.raises(ValueError, match="out of SRTM coverage"):
        engine.elevation_join(df, strict=True)


def test_knn_fallback(spark, grids):
    # catalog has tiles around (35..36, 138..139); a point at (40.2, 138.4)
    # is in coverage but tile (40,138) is missing -> nearest center is
    # (36.5, 138.5) -> tile (36,138); clamped frac -> lat frac 1.0 (north
    # edge, row 0), lon frac 0.4
    eng = ElevationEngine(spark, grids=grids)
    df = spark.createDataFrame(
        pd.DataFrame({"image_id": ["k1", "k2"], "lat": [40.2, 35.5], "lon": [138.4, 138.5]})
    )
    out = eng.elevation_join(df, mode="nearest", knn_fallback=True).orderBy("image_id").toPandas()
    k1 = out.iloc[0]
    assert bool(k1["knn_used"]) and bool(k1["tile_found"])
    assert (k1["tile_lat"], k1["tile_lon"]) == (36, 138)
    # row 0, col = round(0.4*1200) = 480 -> grid value 0 on tile_center(1000)
    assert k1["elevation"] == 0
    k2 = out.iloc[1]
    assert not bool(k2["knn_used"]) and k2["elevation"] == 500


def test_cogroup_knn_equals_broadcast_knn(spark, engine, points_pdf):
    """J6 via the scale path: the two-pass cogroup kNN fallback must return
    row-identical results to the broadcast-path kNN for every mode."""
    df = spark.createDataFrame(points_pdf)
    for mode in ("nearest", "bilinear"):
        a = (
            engine.elevation_join(df, mode=mode, strategy="broadcast", knn_fallback=True)
            .orderBy("image_id")
            .toPandas()
        )
        b = (
            engine.elevation_join(df, mode=mode, strategy="cogroup", knn_fallback=True, n_salts=4)
            .orderBy("image_id")
            .toPandas()
        )
        assert len(a) == len(b) == len(points_pdf)
        av = a["elevation"].to_numpy(dtype="float64", na_value=np.nan)
        bv = b["elevation"].to_numpy(dtype="float64", na_value=np.nan)
        assert np.array_equal(np.isnan(av), np.isnan(bv))
        m = ~np.isnan(av)
        assert np.array_equal(av[m], bv[m])
        for c in ("tile_lat", "tile_lon", "in_coverage", "tile_found", "knn_used"):
            assert a[c].tolist() == b[c].tolist(), c
        assert a["knn_used"].any()  # the fixture corpus must exercise the fallback


def test_assign_nearest_center_chunked_large_catalog():
    """Chunked center assignment: identical result to the unchunked argmin
    on a synthetic 14,000-tile catalog (the full-SRTM shape) — and bounded
    memory by construction (64k x 4096 doubles per block)."""
    from htg_spark.engine import assign_nearest_center

    rng = np.random.default_rng(5)
    lats = rng.integers(-60, 60, size=14000)
    lons = rng.integers(-180, 180, size=14000)
    centers = np.unique(np.stack([lats, lons], axis=1), axis=0)
    lat = rng.uniform(-60, 60, size=65536)
    lon = rng.uniform(-180, 180, size=65536)
    got = assign_nearest_center(lat, lon, centers, chunk=1000)
    # reference: one-shot argmin over lexsorted centers (first-min tie rule)
    order = np.lexsort((centers[:, 1], centers[:, 0]))
    sc = centers[order].astype(np.float64)
    # in point chunks: the full 65,536 x ~12k distance matrix is ~6 GB
    idx = np.concatenate([
        np.argmin(
            (lat[i : i + 1024, None] - (sc[:, 0] + 0.5)) ** 2
            + (lon[i : i + 1024, None] - (sc[:, 1] + 0.5)) ** 2,
            axis=1,
        )
        for i in range(0, len(lat), 1024)
    ])
    want = sc[idx].astype(np.int64)
    assert np.array_equal(got, want)
    # point-axis chunking (bounds peak memory independent of batch size)
    # must not change a single assignment
    got2 = assign_nearest_center(lat, lon, centers, chunk=1000, point_chunk=777)
    assert np.array_equal(got2, want)


def test_repeated_knn_join_plans_without_jobs(spark, grids, points_pdf):
    """Tile centers are collected once per engine, by the blob broadcast's
    own collect: after preload(), building broadcast kNN join plans, the
    first and a repeated one, launches no Spark job."""
    eng = ElevationEngine(spark, grids=grids)
    eng.preload()
    df = spark.createDataFrame(points_pdf.head(50))
    sc = spark.sparkContext
    sc.setJobGroup("knn-plan", "plan broadcast kNN joins")
    try:
        eng.elevation_join(df, strategy="broadcast", knn_fallback=True)
        out = eng.elevation_join(df, mode="bilinear", strategy="broadcast", knn_fallback=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("knn-plan")) == []
    assert out.where("knn_used").count() > 0


def test_cogroup_blob_source_path(spark, grids, points_pdf, tmp_path):
    """blob_source='path': the catalog side of the shuffle carries ONLY
    source URIs; each task reads its tile from shared storage. Results must
    be row-identical to the inline-blob cogroup and the broadcast path —
    including through a .hgt.zip tile and with kNN fallback."""
    from htg_spark import fixtures, hgt as hgt_mod

    tiles = tmp_path / "tiles"
    tiles.mkdir()
    for i, ((tl, tn), grid) in enumerate(sorted(grids.items())):
        name = hgt_mod.coords_to_filename(tl, tn)
        data = hgt_mod.encode_tile(grid)
        if i == 0:  # one zip-wrapped tile exercises the re-extract path
            (tiles / f"{name}.zip").write_bytes(fixtures.zip_tile_bytes(name, data))
        else:
            (tiles / name).write_bytes(data)
    eng = ElevationEngine(spark, tile_dir=str(tiles))
    df = spark.createDataFrame(points_pdf)
    a = (
        eng.elevation_join(df, mode="nearest", strategy="broadcast", knn_fallback=True)
        .orderBy("image_id")
        .toPandas()
    )
    b = (
        eng.elevation_join(
            df, mode="nearest", strategy="cogroup", knn_fallback=True,
            n_salts=4, blob_source="path",
        )
        .orderBy("image_id")
        .toPandas()
    )
    av = a["elevation"].to_numpy(dtype="float64", na_value=np.nan)
    bv = b["elevation"].to_numpy(dtype="float64", na_value=np.nan)
    assert np.array_equal(np.isnan(av), np.isnan(bv))
    assert np.array_equal(av[~np.isnan(av)], bv[~np.isnan(bv)])
    for c in ("tile_lat", "tile_lon", "in_coverage", "tile_found", "knn_used"):
        assert a[c].tolist() == b[c].tolist(), c

    # contract errors: in-memory catalog has no paths; broadcast never fetches
    mem_eng = ElevationEngine(spark, grids=grids)
    with pytest.raises(ValueError, match="path-bearing"):
        mem_eng.elevation_join(df, strategy="cogroup", blob_source="path")
    with pytest.raises(ValueError, match="cogroup"):
        eng.elevation_join(df, strategy="broadcast", blob_source="path")


def test_auto_strategy_counts_catalog_once(spark, grids, points_pdf):
    """The auto-strategy catalog count must be cached — a Spark action in
    the hot path of every repeated join is a driver-side stall at scale."""
    eng = ElevationEngine(spark, grids=grids)
    calls = {"n": 0}
    orig = eng.catalog.agg

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    eng.catalog.agg = counting
    df = spark.createDataFrame(points_pdf.head(50))
    eng.elevation_join(df, strategy="auto").count()
    eng.elevation_join(df, strategy="auto").count()
    eng.elevation_join(df, strategy="auto").count()
    assert calls["n"] == 1


def test_catalog_measure_is_thread_safe(spark, grids):
    """preload(blocking=False) runs catalog prep on a background thread;
    the lazy one-time stats aggregation must run EXACTLY once even under
    concurrent first calls (the pre-lock race collected the catalog twice)."""
    import threading

    eng = ElevationEngine(spark, grids=grids)
    calls = {"n": 0}
    orig = eng.catalog.agg

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    eng.catalog.agg = counting
    threads = [threading.Thread(target=eng.n_tiles) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert calls["n"] == 1
    assert eng.n_tiles() == len(fixtures.default_catalog_grids())


def test_broadcast_byte_gate(spark, grids, points_pdf):
    """Auto strategy gates on catalog BYTES, not just tile count: a
    few-but-huge-tiles catalog must route to cogroup (collecting it to the
    driver is the OOM the gate exists to prevent), while the fixture-sized
    catalog still picks broadcast."""
    df = spark.createDataFrame(points_pdf.head(50))

    eng = ElevationEngine(spark, grids=grids)
    assert eng.catalog_bytes() == len(grids) * 2 * 1201 * 1201
    plan = eng.elevation_join(df, strategy="auto")._jdf.queryExecution().toString()
    assert "MapInArrow" in plan and "FlatMapCoGroupsIn" not in plan

    big = ElevationEngine(spark, grids=grids)
    big.BROADCAST_MAX_BYTES = 1000  # few tiles, "huge" relative to the gate
    plan = big.elevation_join(df, strategy="auto")._jdf.queryExecution().toString()
    assert "FlatMapCoGroupsInArrow" in plan
    assert big._bcast is None  # blobs never collected to the driver


def test_auto_blob_source_picks_path(spark, grids, points_pdf, tmp_path):
    """strategy='auto' past the broadcast gate over a PATH-BEARING catalog
    must choose the no-blob-shuffle transport on its own — at 100 TB of
    rasters the blobs must never ride a shuffle, and the user should not
    have to know the flag. In-memory catalogs keep the inline transport."""
    from htg_spark import hgt as hgt_mod

    tiles = tmp_path / "tiles"
    tiles.mkdir()
    for (tl, tn), grid in sorted(grids.items()):
        (tiles / hgt_mod.coords_to_filename(tl, tn)).write_bytes(hgt_mod.encode_tile(grid))
    df = spark.createDataFrame(points_pdf.head(50))

    import io
    import re
    from contextlib import redirect_stdout

    eng = ElevationEngine(spark, tile_dir=str(tiles))
    eng.BROADCAST_MAX_BYTES = 1000  # force the cogroup branch
    buf = io.StringIO()
    with redirect_stdout(buf):
        eng.elevation_join(df, strategy="auto").explain("formatted")
    plan = buf.getvalue()
    assert "FlatMapCoGroupsInArrow" in plan
    # same invariant the plan audit hard-gates for the explicit path query:
    # no Exchange block may carry the binary data column
    ex_blocks = re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[[^\]]*\]", plan)
    assert ex_blocks and not any(re.search(r"\bdata#", b) for b in ex_blocks)

    mem = ElevationEngine(spark, grids=grids)
    mem.BROADCAST_MAX_BYTES = 1000
    plan = mem.elevation_join(df, strategy="auto")._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in plan  # inline fallback still plans


def test_knn_second_pass_runs_pass1_once(spark, engine, points_pdf):
    """The cogroup+kNN plan must materialize pass 1 before the rest/miss
    split: exactly ONE FlatMapCoGroupsInArrow in the final plan (pass 2) —
    pass 1 is a shared checkpointed RDD, not two copies of the subtree."""
    df = spark.createDataFrame(points_pdf)
    out = engine.elevation_join(
        df, mode="nearest", strategy="cogroup", knn_fallback=True, n_salts=4
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapCoGroupsInArrow") == 1


def test_cogroup_adaptive_salting_spreads_hot_tile(spark, engine, grids):
    """Skew stress (SURVEY.md §4): 90% of points land in ONE 1-degree cell.
    The adaptive salt pre-pass must fan that cell out across n_salts shuffle
    groups of near-equal size (max/median <= 2 at n_salts=8), keep cold
    cells at one un-replicated group each, and replicate the hot tile's
    catalog blob exactly n_salts times — and the salted result must still
    equal the broadcast join row-for-row."""
    rng = np.random.default_rng(7)
    n_hot, n_cold = 9000, 1000
    lat = np.concatenate(
        [35.0 + rng.random(n_hot), 33.0 + rng.random(n_cold)]
    )
    lon = np.concatenate(
        [138.0 + rng.random(n_hot), -97.0 + rng.random(n_cold)]
    )
    pdf = pd.DataFrame(
        {"image_id": [f"s{i:05d}" for i in range(n_hot + n_cold)], "lat": lat, "lon": lon}
    )
    df = spark.createDataFrame(pdf)

    narrow, cat = engine._salted_inputs(df, "image_id", n_salts=8)
    groups = (
        narrow.groupBy("tile_lat", "tile_lon", "salt").count().toPandas()
    )
    hot = groups[(groups.tile_lat == 35) & (groups.tile_lon == 138)]
    cold = groups[(groups.tile_lat == 33) & (groups.tile_lon == -97)]
    # hot cell fans out to all 8 salts; cold cell crosses the shuffle once
    assert sorted(hot["salt"]) == list(range(8))
    assert cold["salt"].tolist() == [0]
    # xxhash64 spreads the hot cell evenly: max/median rows per group <= 2
    assert hot["count"].max() / hot["count"].median() <= 2.0
    # no group exceeds 2x the per-slot target the pre-pass aimed for
    slots = spark.sparkContext.defaultParallelism
    target = (n_hot + n_cold) / (slots * 2)
    assert groups["count"].max() <= 2 * target
    # catalog replication is hot-cell-only: 8 copies of the hot blob, 1 of
    # every other tile (cold cells never pay the replication)
    cat_counts = cat.groupBy("tile_lat", "tile_lon").count().toPandas()
    hot_cat = cat_counts[(cat_counts.tile_lat == 35) & (cat_counts.tile_lon == 138)]
    assert hot_cat["count"].tolist() == [8]
    assert (cat_counts[~((cat_counts.tile_lat == 35) & (cat_counts.tile_lon == 138))]["count"] == 1).all()

    a = (
        engine.elevation_join(df, mode="nearest", strategy="broadcast")
        .orderBy("image_id")
        .toPandas()
    )
    b = (
        engine.elevation_join(df, mode="nearest", strategy="cogroup", n_salts=8)
        .orderBy("image_id")
        .toPandas()
    )
    av = a["elevation"].to_numpy(dtype="float64", na_value=np.nan)
    bv = b["elevation"].to_numpy(dtype="float64", na_value=np.nan)
    assert np.array_equal(np.isnan(av), np.isnan(bv))
    m = ~np.isnan(av)
    assert np.array_equal(av[m], bv[m])


def test_executor_cache_token_lru():
    """clear_cache() rotates the engine token; long-lived Python workers
    must EVICT stale tokens' decoded grids, not orphan them forever."""
    from htg_spark import engine as eng_mod

    eng_mod._EXECUTOR_CACHE.clear()
    for i in range(eng_mod._MAX_CACHE_TOKENS + 3):
        eng_mod._executor_cache(f"tok{i}", capacity=4)
    assert len(eng_mod._EXECUTOR_CACHE) == eng_mod._MAX_CACHE_TOKENS
    assert "tok0" not in eng_mod._EXECUTOR_CACHE  # oldest evicted
    # touching an existing token refreshes it (LRU, not FIFO)
    eng_mod._executor_cache("tok3", capacity=4)
    eng_mod._executor_cache("tokX", capacity=4)
    assert "tok3" in eng_mod._EXECUTOR_CACHE
    eng_mod._EXECUTOR_CACHE.clear()


def test_read_blob_from_path_uri_handling(tmp_path):
    """The binaryFile path column is a URI: percent-encoded characters must
    decode, and non-local schemes must fail with a clear contract error
    (not a bogus FileNotFoundError deep inside a task)."""
    from htg_spark.engine import _read_blob_from_path

    p = tmp_path / "tile dir" / "N35E138.hgt"
    p.parent.mkdir()
    p.write_bytes(b"\x01\x02\x03")
    uri = "file://" + str(p.parent).replace(" ", "%20") + "/N35E138.hgt"
    assert _read_blob_from_path(uri) == b"\x01\x02\x03"
    assert _read_blob_from_path(str(p)) == b"\x01\x02\x03"
    with pytest.raises(NotImplementedError, match="s3a"):
        _read_blob_from_path("s3a://bucket/N35E138.hgt")


def test_preload_gates_blob_broadcast(spark):
    """preload on a past-threshold catalog must NOT collect every blob to
    the driver (that is a driver OOM exactly when preload matters most)."""
    from htg_spark.catalog import CATALOG_SCHEMA

    rows = [
        (i // 40, i % 40, 1201, f"T{i:05d}.hgt", bytearray(b"xx"))
        for i in range(300)
    ]
    cat = spark.createDataFrame(rows, CATALOG_SCHEMA)
    eng = ElevationEngine(spark, catalog=cat)
    stats = eng.preload()
    assert stats["tiles_matched"] == 300
    assert eng._bcast is None  # blobs never collected
    cat.unpersist()


def test_phash_derivation_matches_numpy(spark, engine):
    rng = np.random.default_rng(5)
    lat = 35.0 + rng.random(500) * 2
    lon = 138.0 + rng.random(500) * 2
    ph = fixtures.lat_lon_to_phash(lat, lon)
    pdf = pd.DataFrame({"image_id": [f"i{k}" for k in range(500)], "phash": ph})
    df = spark.createDataFrame(pdf)
    got = (
        df.select(
            "image_id",
            cells.lat_from_phash(df.phash).alias("lat"),
            cells.lon_from_phash(df.phash).alias("lon"),
        )
        .orderBy("image_id")
        .toPandas()
    )
    exp_lat, exp_lon = fixtures.phash_to_lat_lon(pdf.sort_values("image_id")["phash"].to_numpy())
    assert np.array_equal(got["lat"].to_numpy(), exp_lat)  # bitwise
    assert np.array_equal(got["lon"].to_numpy(), exp_lon)


def test_payload_passthrough(spark, engine):
    imgs = fixtures.make_images_pdf(60)
    df = spark.createDataFrame(imgs)
    out = engine.elevation_join(df, mode="nearest").orderBy("image_id").toPandas()
    assert len(out) == 60
    src = imgs.sort_values("image_id").reset_index(drop=True)
    assert (out["caption"] == src["caption"]).all()
    for i in range(len(out)):
        px_out = fixtures.decode_image(
            bytes(out["bytes"][i]), int(out["w"][i]), int(out["h"][i]), out["fmt"][i]
        )
        px_src = fixtures.decode_image(
            bytes(src["bytes"][i]), int(src["w"][i]), int(src["h"][i]), src["fmt"][i]
        )
        assert np.array_equal(px_out, px_src)  # lossless: PSNR = inf >= 40dB
    # derived coordinates match the shared formula
    exp_lat, exp_lon = fixtures.phash_to_lat_lon(src["phash"].to_numpy())
    assert np.array_equal(out["lat"].to_numpy(), exp_lat)


def test_filename_expressions_match_python(spark):
    pdf = pd.DataFrame(
        {
            "t_lat": [35, -13, 0, -1, 59],
            "t_lon": [138, -78, -1, 0, 179],
        }
    )
    df = spark.createDataFrame(pdf)
    got = df.select(
        cells.tile_filename(df.t_lat, df.t_lon).alias("fn")
    ).toPandas()["fn"]
    exp = [hgt.coords_to_filename(a, b) for a, b in zip(pdf.t_lat, pdf.t_lon)]
    assert list(got) == exp
    # parse back
    extra = ["invalid", "n35e138", "/p/N00E000.hgt", r"C:\tiles\N35E138.hgt"]
    df2 = spark.createDataFrame(pd.DataFrame({"fn": exp + extra}))
    tl, tn = cells.filename_to_key(df2.fn)
    back = df2.select(tl.alias("a"), tn.alias("b")).toPandas()
    exp_back = [hgt.filename_to_lat_lon(x) for x in list(exp) + extra]
    for i, e in enumerate(exp_back):
        if e is None:
            assert pd.isna(back["a"][i]) and pd.isna(back["b"][i])
        else:
            assert (back["a"][i], back["b"][i]) == e
