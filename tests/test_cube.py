"""Cube subsystem tests: ingest → LOD pyramid → time series → tiles →
computed resample → places → metadata. Golden-style semantics checks per
SURVEY.md §5 (reference test strategy)."""

from __future__ import annotations

import datetime as dt
import json
import math
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from xcube_server_spark.cube.catalog import CubeCatalog, StyleMeta
from xcube_server_spark.cube.grid import GridMeta, TileGridMeta, level_sizes
from xcube_server_spark.cube.metadata import get_coordinates, get_datasets, get_tile_grid
from xcube_server_spark.cube.places import find_places, load_place_group, union_place_groups
from xcube_server_spark.cube.rasterize import rasterize_mask
from xcube_server_spark.cube.tiles import TileService, render_tiles
from xcube_server_spark.cube import timeseries
from xcube_server_spark.cube.timeseries import (
    local_time_series,
    mask_runs,
    time_series_for_geometry,
    time_series_for_geometry_collection,
    time_series_for_point,
)
from xcube_server_spark.plans.explain import executed_plan, pushed_filters
from xcube_server_spark.sources.cube_ingest import (
    DEMO_EXTENT,
    DEMO_TIMES,
    synth_demo_cube,
    write_cube,
)
from xcube_server_spark.sources.png import decode_rgba_png

W, H = 200, 100  # scaled-down demo grid (reference: 2000x1000)


@pytest.fixture(scope="session")
def demo_catalog(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("cube") / "demo")
    cube, grid = synth_demo_cube(spark, width=W, height=H)
    tables, tg = write_cube(cube, grid, base, tile_size=64)
    cat = CubeCatalog(spark)
    meta = cat.register_written_cube(
        "demo",
        base,
        grid,
        tg,
        ["conc_chl", "conc_tsm", "kd489"],
        styles={
            "conc_chl": StyleMeta("viridis", (0.0, 24.0)),
            "conc_tsm": StyleMeta("plasma", (0.0, 100.0)),
            "kd489": StyleMeta("jet", (0.0, 6.0)),
        },
    )
    cat.save_meta(meta)
    return cat


# -- grid math ---------------------------------------------------------------


def test_level_sizes_reference_law():
    # (s+1)//2 halving — xcube_server/mldataset.py:20-22; FIXTURES F-3:
    # 1440x720 -> 720x360 -> 360x180
    assert level_sizes(1440, 720, 3) == [(1440, 720), (720, 360), (360, 180)]
    assert level_sizes(5, 5, 3) == [(5, 5), (3, 3), (2, 2)]


def test_tile_grid_create():
    tg = TileGridMeta.create(W, H, 64, DEMO_EXTENT)
    # 200x100 -> 100x50 -> 50x25: three levels until both dims fit one tile
    assert tg.num_levels == 3
    assert level_sizes(W, H, tg.num_levels)[-1][0] <= 64


def test_grid_index_math():
    g = GridMeta(width=W, height=H, extent=DEMO_EXTENT, times=DEMO_TIMES)
    # lat row 0 is northernmost
    assert g.lat_of(0) > g.lat_of(H - 1)
    assert g.lat_idx_of(g.lat_of(7)) == 7
    assert g.lon_idx_of(g.lon_of(13)) == 13
    assert g.contains(2.0, 51.0) and not g.contains(-10.0, 51.0)


# -- ingest / LOD ------------------------------------------------------------


def test_cube_rows_and_levels(demo_catalog):
    l0 = demo_catalog.cube("demo", 0)
    assert l0.count() == len(DEMO_TIMES) * W * H
    tg = demo_catalog.datasets["demo"].tile_grid
    sizes = level_sizes(W, H, tg.num_levels)
    for k in range(1, tg.num_levels):
        lk = demo_catalog.cube("demo", k)
        w_k, h_k = sizes[k]
        # stride decimation keeps ceil(s/2) cells per axis
        assert lk.select("lon_idx").distinct().count() == math.ceil(W / 2**k)
        assert lk.agg(F.max("lon_idx")).first()[0] == math.ceil(W / 2**k) - 1


def test_lod_stride_parity(demo_catalog):
    """Level-1 value at (i, j) must equal level-0 value at (2i, 2j) —
    var[..., ::2, ::2] parity (xcube_server/mldataset.py:296-304)."""
    l0 = demo_catalog.cube("demo", 0).filter(
        (F.col("time_idx") == 0)
        & (F.col("lat_idx") % 2 == 0)
        & (F.col("lon_idx") % 2 == 0)
        & (F.col("lat_idx") <= 10)
        & (F.col("lon_idx") <= 10)
    )
    l1 = demo_catalog.cube("demo", 1).filter(
        (F.col("time_idx") == 0) & (F.col("lat_idx") <= 5) & (F.col("lon_idx") <= 5)
    )
    v0 = {
        (r["lat_idx"] // 2, r["lon_idx"] // 2): r["kd489"] for r in l0.collect()
    }
    v1 = {(r["lat_idx"], r["lon_idx"]): r["kd489"] for r in l1.collect()}
    assert v0 == v1


# -- time series -------------------------------------------------------------


def test_point_timeseries_shape_and_nan_semantics(demo_catalog):
    df = time_series_for_point(demo_catalog, "demo", "conc_tsm", 2.1, 51.4)
    rows = df.collect()
    assert [r["date"] for r in rows] == [
        t.replace(" ", "T") + "Z" for t in DEMO_TIMES
    ]
    # all-NaN timesteps 2 and 3 → validCount 0, average NULL
    # (test/controllers/test_time_series.py:29-32 semantics)
    for r in rows:
        assert r["total_count"] == 1
    assert rows[2]["valid_count"] == 0 and rows[2]["average"] is None
    assert rows[3]["valid_count"] == 0 and rows[3]["average"] is None
    assert rows[0]["valid_count"] == 1 and rows[0]["average"] is not None


def test_point_outside_returns_none(demo_catalog):
    # P7 containment short-circuit (time_series.py:126-128);
    # fixture point (-150, -30) is outside-cube (FIXTURES F-5)
    assert time_series_for_point(demo_catalog, "demo", "conc_chl", -150.0, -30.0) is None


def test_point_timeseries_value_matches_generator(demo_catalog):
    g = demo_catalog.datasets["demo"].grid
    lon, lat = 2.1, 51.4
    i, j = g.lat_idx_of(lat), g.lon_idx_of(lon)
    clat, clon = g.lat_of(i), g.lon_of(j)
    expected = np.float32(30.0 * (math.sin(clon * 2.0) + math.cos(clat * 3.0)) + 0.0 * 5.0 + 40.0)
    df = time_series_for_point(demo_catalog, "demo", "conc_tsm", lon, lat)
    got = df.collect()[0]["average"]
    assert got == pytest.approx(float(expected), abs=1e-6)


def _box(w, s, e, n):
    return [[w, s], [e, s], [e, n], [w, n], [w, s]]


DIAMOND = {
    "type": "Polygon",
    "coordinates": [[[2.5, 50.85], [3.1, 51.25], [2.5, 51.65], [1.9, 51.25], [2.5, 50.85]]],
}


def _cellwise_counts(cat, var, cells):
    """(total, valid) per step over the cube rows of ``cells``, joined cell
    by cell — the run-length plan must give the same counts."""
    cells_df = cat.spark.createDataFrame(
        [(int(a), int(b)) for a, b in cells], "lat_idx int, lon_idx int"
    )
    rows = (
        cat.cube("demo").join(cells_df, ["lat_idx", "lon_idx"], "left_semi")
        .groupBy("time").agg(F.count(F.lit(1)).alias("n"), F.count(var).alias("v"))
        .orderBy("time").collect()
    )
    return [(r["n"], r["v"]) for r in rows]


def test_geometry_timeseries_bbox_mask_count(demo_catalog):
    """1°x1° box → all_touched mask = (1/res + 1)^2 cells, the analog of the
    reference's 401x401 = 160801 golden totalCount
    (test/controllers/test_time_series.py:59-75). For it and for a diamond,
    a MultiPolygon with a hole and a single-cell polygon, the mask's runs
    expand back to exactly its cells, and the run-length plan's totalCount
    and validCount equal a cell-by-cell join's."""
    g = demo_catalog.datasets["demo"].grid
    poly = {"type": "Polygon", "coordinates": [_box(1.0, 51.0, 2.0, 52.0)]}
    cells_per_deg = round(1.0 / g.res_lon)
    expected_total = (cells_per_deg + 1) ** 2
    mask = rasterize_mask(poly, g)
    assert len(mask) == expected_total
    df = time_series_for_geometry(demo_catalog, "demo", "conc_tsm", poly)
    rows = df.collect()
    assert all(r["total_count"] == expected_total for r in rows)
    assert rows[2]["valid_count"] == 0 and rows[2]["average"] is None
    assert rows[0]["valid_count"] == expected_total

    holed = {
        "type": "MultiPolygon",
        "coordinates": [
            [_box(0.5, 50.5, 1.5, 51.5), _box(0.8, 50.8, 1.2, 51.2)],
            [_box(3.0, 51.5, 3.5, 52.0)],
        ],
    }
    ci, cj = 40, 90
    clon, clat = g.lon_of(cj), g.lat_of(ci)
    one_cell = {
        "type": "Polygon",
        "coordinates": [_box(clon - 0.005, clat - 0.005, clon + 0.005, clat + 0.005)],
    }
    for geom in (poly, DIAMOND, holed, one_cell):
        mask = rasterize_mask(geom, g)
        runs = mask_runs(mask)
        expanded = [(i, j) for i, lo, hi in runs.tolist() for j in range(lo, hi + 1)]
        assert sorted(expanded) == sorted(map(tuple, mask.tolist()))
        rows = time_series_for_geometry(demo_catalog, "demo", "conc_tsm", geom).collect()
        assert [(r["total_count"], r["valid_count"]) for r in rows] == _cellwise_counts(
            demo_catalog, "conc_tsm", mask
        )
        assert all(r["total_count"] == len(mask) for r in rows)
    # the hole splits rows of the first polygon into two runs each
    assert len(mask_runs(rasterize_mask(holed, g))) > len(
        {i for i in rasterize_mask(holed, g)[:, 0].tolist()}
    )
    assert mask_runs(rasterize_mask(one_cell, g)).tolist() == [[ci, cj, cj]]


def test_geometry_timeseries_plan_prunes_scan_and_broadcasts_runs(demo_catalog):
    """The geometry and fan-out plans: the cube scan carries the mask's
    lat_idx/lon_idx bounds as pushed parquet filters, the broadcast side is
    the runs' LocalTableScan (no RDD built from Python rows), and the
    result is sorted without a range-partition exchange."""
    rect = {"type": "Polygon", "coordinates": [_box(1.0, 51.0, 1.5, 51.5)]}
    for df in (
        time_series_for_geometry(demo_catalog, "demo", "kd489", DIAMOND),
        time_series_for_geometry_collection(demo_catalog, "demo", "kd489", [DIAMOND, rect]),
    ):
        df.collect()
        pf = pushed_filters(df)
        for col in ("lat_idx", "lon_idx"):
            for op in ("GreaterThanOrEqual", "LessThanOrEqual"):
                assert f"{op}({col}" in pf, pf
        plan = executed_plan(df)
        assert re.search(r"BroadcastExchange [^\n]*\n\s*\+- LocalTableScan ", plan), plan
        assert "ExistingRDD" not in plan, plan
        assert "rangepartitioning" not in plan, plan


def test_geometry_collection_fanout(demo_catalog):
    """Two overlapping rectangles and a Point in one job: each
    geometry_id's rows equal that geometry's own query, and the cells the
    rectangles share count in both. A collection with no cell in the grid
    is None, like the single-geometry queries (P7)."""
    g = demo_catalog.datasets["demo"].grid
    geoms = [
        {"type": "Polygon", "coordinates": [_box(1.0, 51.0, 1.5, 51.5)]},
        {"type": "Polygon", "coordinates": [_box(1.25, 51.25, 2.0, 51.75)]},
        {"type": "Point", "coordinates": [2.1, 51.4]},
    ]
    a, b = ({tuple(c) for c in rasterize_mask(geom, g).tolist()} for geom in geoms[:2])
    assert a & b
    df = time_series_for_geometry_collection(demo_catalog, "demo", "kd489", geoms)
    rows = df.collect()
    assert {r["geometry_id"] for r in rows} == {0, 1, 2}
    assert len(rows) == 3 * len(DEMO_TIMES)
    for gid, geom in enumerate(geoms):
        single = time_series_for_geometry(demo_catalog, "demo", "kd489", geom).collect()
        mine = [r for r in rows if r["geometry_id"] == gid]
        assert [(r["date"], r["total_count"], r["valid_count"]) for r in mine] == [
            (r["date"], r["total_count"], r["valid_count"]) for r in single
        ]
        assert [r["average"] for r in mine] == pytest.approx(
            [r["average"] for r in single], rel=1e-12
        )
    assert rows[0]["total_count"] == len(a) and rows[len(DEMO_TIMES)]["total_count"] == len(b)

    outside = {"type": "Polygon", "coordinates": [_box(-150.0, -30.0, -149.0, -29.0)]}
    far_point = {"type": "Point", "coordinates": [-150.0, -30.0]}
    for empty in ([], [outside], [outside, far_point]):
        assert time_series_for_geometry_collection(demo_catalog, "demo", "kd489", empty) is None


def test_time_range_filter(demo_catalog):
    df = time_series_for_point(
        demo_catalog, "demo", "conc_tsm", 2.1, 51.4,
        start="2017-01-15", end="2017-01-29",
    )
    # inclusive label slice (P3): 4 of 5 timesteps
    assert df.count() == 4


def _spark_rows(df) -> list[dict]:
    return [] if df is None else [r.asDict() for r in df.collect()]


def _assert_same_rows(local: list[dict], spark: list[dict]) -> None:
    """Dates and counts exactly, averages to rel 1e-12, None where None."""
    def without_avg(rows):
        return [{k: v for k, v in r.items() if k != "average"} for r in rows]

    assert without_avg(local) == without_avg(spark)
    for a, b in zip(local, spark):
        if b["average"] is None:
            assert a["average"] is None
        else:
            assert a["average"] == pytest.approx(b["average"], rel=1e-12)


HOLED = {
    "type": "MultiPolygon",
    "coordinates": [
        [_box(0.5, 50.5, 1.5, 51.5), _box(0.8, 50.8, 1.2, 51.2)],
        [_box(3.0, 51.5, 3.5, 52.0)],
    ],
}

# startDate/endDate pairs: open, the date form, exact step times in both
# forms (t1 = 2017-01-25 09:35:51, t3 = 2017-01-28 09:58:11), a bound a
# second before a step (inside the label slack, dropped by the exact
# filter), a fraction, bounds outside the int64-nanosecond range of the
# stored times (all steps; no step), and a window with no step
WINDOWS = [
    (None, None),
    ("2017-01-15", "2017-01-29"),
    ("2017-01-25 09:35:51", "2017-01-28 09:58:11"),
    ("2017-01-25T09:35:51Z", "2017-01-28T09:58:10Z"),
    ("2017-01-25 09:35:51.5", None),
    (None, "2017-01-26"),
    ("1000-01-01", "9999-12-31"),
    ("9999-12-31", None),
    ("2018-01-01", "2018-02-01"),
]


@pytest.mark.parametrize("start,end", WINDOWS)
def test_local_point_timeseries_matches_spark(demo_catalog, start, end):
    """The driver path answers a point exactly like the Spark plan, for
    every variable (conc_tsm's all-NULL steps: validCount 0, average
    None) and every window form."""
    for var in ("conc_chl", "conc_tsm", "kd489"):
        for lon, lat in ((2.1, 51.4), (0.01, 52.49), (-150.0, -30.0)):
            local = local_time_series(
                demo_catalog, "demo", var,
                [{"type": "Point", "coordinates": [lon, lat]}], start, end,
            )
            _assert_same_rows(local, _spark_rows(time_series_for_point(
                demo_catalog, "demo", var, lon, lat, start, end,
            )))
    rows = local_time_series(
        demo_catalog, "demo", "conc_tsm",
        [{"type": "Point", "coordinates": [2.1, 51.4]}], start, end,
    )
    null_steps = [r for r in rows if r["date"].startswith(("2017-01-26", "2017-01-28"))]
    assert all(r["valid_count"] == 0 and r["average"] is None for r in null_steps)


@pytest.mark.parametrize("start,end", WINDOWS[:4] + WINDOWS[-1:])
def test_local_geometry_timeseries_matches_spark(demo_catalog, start, end):
    """Diamond, MultiPolygon with a hole, a one-cell polygon and a
    rectangle: the single-geometry Spark plan's rows (totalCount is the
    mask's cell count, A6), on every variable."""
    g = demo_catalog.datasets["demo"].grid
    clon, clat = g.lon_of(90), g.lat_of(40)
    one_cell = {
        "type": "Polygon",
        "coordinates": [_box(clon - 0.005, clat - 0.005, clon + 0.005, clat + 0.005)],
    }
    rect = {"type": "Polygon", "coordinates": [_box(1.0, 51.0, 2.0, 52.0)]}
    for var in ("conc_chl", "conc_tsm", "kd489"):
        for geom in (DIAMOND, HOLED, one_cell, rect):
            local = local_time_series(demo_catalog, "demo", var, [geom], start, end)
            spark = _spark_rows(time_series_for_geometry(
                demo_catalog, "demo", var, geom, start, end,
            ))
            _assert_same_rows(local, spark)
            if start is None:
                assert local and all(
                    r["total_count"] == len(rasterize_mask(geom, g)) for r in local
                )


@pytest.mark.parametrize("start,end", [(None, None), ("2017-01-25", "2017-01-28T12:00:00Z")])
def test_local_fanout_timeseries_matches_spark(demo_catalog, start, end):
    """Overlapping rectangles, a Point and an out-of-grid polygon: the
    fan-out plan's rows, shared cells counted in both rectangles."""
    geoms = [
        {"type": "Polygon", "coordinates": [_box(1.0, 51.0, 1.5, 51.5)]},
        {"type": "Polygon", "coordinates": [_box(1.25, 51.25, 2.0, 51.75)]},
        {"type": "Point", "coordinates": [2.1, 51.4]},
        {"type": "Polygon", "coordinates": [_box(-150.0, -30.0, -149.0, -29.0)]},
        DIAMOND,
    ]
    for var in ("conc_chl", "conc_tsm", "kd489"):
        local = local_time_series(
            demo_catalog, "demo", var, geoms, start, end, collection=True
        )
        spark = _spark_rows(time_series_for_geometry_collection(
            demo_catalog, "demo", var, geoms, start, end,
        ))
        _assert_same_rows(local, spark)
        assert {r["geometry_id"] for r in local} == {0, 1, 2, 4}
    # many scattered points, two of them on one cell: one read of their
    # joint bbox, each point's rows picked by the join
    g = demo_catalog.datasets["demo"].grid
    points = [
        {"type": "Point", "coordinates": [g.lon_of(j * 37 % W), g.lat_of(j * 11 % H)]}
        for j in range(60)
    ] + [{"type": "Point", "coordinates": [g.lon_of(0), g.lat_of(0)]}]
    local = local_time_series(
        demo_catalog, "demo", "conc_tsm", points, start, end, collection=True
    )
    _assert_same_rows(local, _spark_rows(time_series_for_geometry_collection(
        demo_catalog, "demo", "conc_tsm", points, start, end,
    )))
    assert {r["geometry_id"] for r in local} == set(range(61))
    far = [{"type": "Polygon", "coordinates": [_box(-150.0, -30.0, -149.0, -29.0)]}]
    for empty in ([], far):
        assert local_time_series(
            demo_catalog, "demo", "kd489", empty, collection=True
        ) == []


def test_local_timeseries_declines_to_spark(demo_catalog, monkeypatch, register_weekly):
    """The driver path returns None, and the routes take the Spark plan,
    for a computed dataset, a request over DRIVER_MAX_ROWS (at the constant
    itself it still answers), a date bound it does not parse and a column
    that is not a variable."""
    register_weekly(demo_catalog, "demo-1w-ts")
    point = {"type": "Point", "coordinates": [2.1, 51.4]}
    assert local_time_series(demo_catalog, "demo-1w-ts", "kd489", [point]) is None
    assert demo_catalog.local_parts("demo-1w-ts", 0, [0]) is None

    # the whole fixture grid, all steps: W*H*5 rows
    whole = {"type": "Polygon", "coordinates": [_box(0.0, 50.0, 5.0, 52.5)]}
    assert timeseries.DRIVER_MAX_ROWS == 2000 * 1000 * 5
    monkeypatch.setattr(timeseries, "DRIVER_MAX_ROWS", W * H * len(DEMO_TIMES))
    assert local_time_series(demo_catalog, "demo", "kd489", [whole]) is not None
    monkeypatch.setattr(timeseries, "DRIVER_MAX_ROWS", W * H * len(DEMO_TIMES) - 1)
    assert local_time_series(demo_catalog, "demo", "kd489", [whole]) is None
    # three steps in the window fit where five do not
    three = local_time_series(
        demo_catalog, "demo", "kd489", [whole], "2017-01-25", "2017-01-29"
    )
    assert [r["date"][:10] for r in three] == ["2017-01-25", "2017-01-26", "2017-01-28"]
    for start in ("2017-1-25", "2017-01-25T10:00", "20170125", " 2017-01-25"):
        assert local_time_series(demo_catalog, "demo", "kd489", [point], start) is None
    # a column that is not one of the dataset's variables
    assert local_time_series(demo_catalog, "demo", "lat_idx", [point]) is None


def test_local_parts_lists_time_partitions(demo_catalog):
    """One helper decides whether a level is a local table: the files of
    the asked time_idx partitions, none for a partition that is absent."""
    files = demo_catalog.local_parts("demo", 0, [0, 4])
    assert files and all(
        "/time_idx=0/" in f or "/time_idx=4/" in f for f in files
    )
    assert {f.split("/time_idx=")[1][0] for f in files} == {"0", "4"}
    assert demo_catalog.local_parts("demo", 0, [99]) == []
    assert demo_catalog.local_parts("demo", 0, []) == []


# -- tiles -------------------------------------------------------------------


def test_render_tiles_full_level(demo_catalog):
    tg = demo_catalog.datasets["demo"].tile_grid
    z = tg.num_levels - 1  # native resolution
    df = render_tiles(demo_catalog, "demo", "conc_chl", z, time=DEMO_TIMES[0])
    rows = df.collect()
    n_tx = math.ceil(W / tg.tile_width)
    n_ty = math.ceil(H / tg.tile_height)
    assert len(rows) == n_tx * n_ty
    png = bytes(rows[0]["png"])
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    rgba = decode_rgba_png(png)
    assert rgba.shape == (tg.tile_height, tg.tile_width, 4)


def test_tile_service_cache_and_transparency(demo_catalog):
    svc = TileService(demo_catalog)
    png1 = svc.get_tile("demo", "conc_tsm", 0, 0, 0, time="current")
    png2 = svc.get_tile("demo", "conc_tsm", 0, 0, 0, time="current")
    assert png1 == png2 and len(svc._cache) == 1
    # 'current' → last timestep; conc_tsm has valid data there (idx 4)
    rgba = decode_rgba_png(png1)
    assert rgba[..., 3].max() == 255
    # timestep 2 is all-NULL for conc_tsm → fully transparent tile
    png_nan = svc.get_tile("demo", "conc_tsm", 0, 0, 0, time="2017-01-26T10:50:17")
    rgba_nan = decode_rgba_png(png_nan)
    assert rgba_nan[..., 3].max() == 0


def test_file_cache_spill_and_reload(demo_catalog, tmp_path, monkeypatch):
    """Disk tier: tiles rendered by one TileService instance are served from
    the file cache by a fresh instance (process-restart analog) without
    touching the render path at all."""
    from xcube_server_spark.cube import tiles as tiles_mod

    cache_dir = str(tmp_path / "image-cache")
    svc_a = TileService(demo_catalog, file_cache_path=cache_dir)
    png = svc_a.get_tile("demo", "conc_tsm", 0, 0, 0, time="current")
    assert len(svc_a._file_cache) == 1

    svc_b = TileService(demo_catalog, file_cache_path=cache_dir)

    def boom(*a, **k):
        raise AssertionError("render path must not run on a file-cache hit")

    monkeypatch.setattr(svc_b, "_read_tile_fast", boom)
    monkeypatch.setattr(tiles_mod, "render_tiles", boom)
    again = svc_b.get_tile("demo", "conc_tsm", 0, 0, 0, time="current")
    assert again == png
    # promoted to the memory tier on hit
    assert len(svc_b._cache) == 1
    # default-off parity (xcube_server/defaults.py:43): no path → no tier
    assert TileService(demo_catalog)._file_cache is None


def test_file_cache_eviction_oldest_first(tmp_path):
    import time

    from xcube_server_spark.cube.cache import FileByteCache

    fc = FileByteCache(str(tmp_path / "fc"), capacity=1000)
    fc.put("a", b"x" * 300)
    time.sleep(0.02)
    fc.put("b", b"y" * 300)
    time.sleep(0.02)
    assert fc.get("a") == b"x" * 300  # refresh a's mtime: b becomes oldest
    time.sleep(0.02)
    fc.put("c", b"z" * 300)  # 900 bytes > 0.75*1000 → evict oldest (b)
    assert fc.get("b") is None
    assert fc.get("a") is not None and fc.get("c") is not None


def test_tile_window_filter_prunes(demo_catalog):
    """The per-tile scan must filter on the tile window (index range), so
    parquet row-group stats can prune — assert the filter reaches the scan."""
    tg = demo_catalog.datasets["demo"].tile_grid
    z = tg.num_levels - 1
    df = render_tiles(demo_catalog, "demo", "conc_chl", z, tiles=[(0, 0)])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "Filter" in plan


# -- computed cube (weekly resample) ----------------------------------------


def test_computed_weekly_resample(spark, demo_catalog):
    from xcube_server_spark.cube.catalog import DatasetMeta
    from xcube_server_spark.cube.computed import resample_in_time

    base = demo_catalog.datasets["demo"]
    weekly = resample_in_time(demo_catalog.cube("demo", 0))
    weeks = sorted(
        r["time"].date().isoformat()
        for r in weekly.select("time").distinct().collect()
    )
    # golden labels: pandas 1W Sunday anchors for the demo timestamps
    # (test/controllers/test_time_series.py:138 — first three; our synth cube
    # spans Jan 16-30 → weeks ending Jan 22, Jan 29, Feb 5)
    assert weeks == ["2017-01-22", "2017-01-29", "2017-02-05"]
    # registered as a computed dataset through the catalog
    meta = DatasetMeta(
        identifier="demo-1w",
        title="weekly",
        base_path="",
        grid=base.grid,
        tile_grid=base.tile_grid,
        variables=base.variables,
        computed=True,
        function="resample_in_time",
        input_datasets=["demo"],
        input_params={"period": "1W"},
    )
    demo_catalog.register(meta)
    df = demo_catalog.cube("demo-1w", 0)
    assert df.select("time").distinct().count() == 3
    # mean of timesteps within one week: week of Jan 22 contains t0 only
    one = df.filter(
        (F.col("lat_idx") == 10) & (F.col("lon_idx") == 10)
    ).orderBy("time").collect()
    l0 = demo_catalog.cube("demo", 0).filter(
        (F.col("lat_idx") == 10) & (F.col("lon_idx") == 10)
    ).orderBy("time_idx").collect()
    assert one[0]["kd489"] == pytest.approx(l0[0]["kd489"], abs=1e-6)
    week2 = np.mean([l0[1]["kd489"], l0[2]["kd489"], l0[3]["kd489"]])
    assert one[1]["kd489"] == pytest.approx(float(week2), abs=1e-5)


# -- places ------------------------------------------------------------------


@pytest.fixture(scope="session")
def places_df(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("places")
    inside = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"Name": f"p{i}", "ID": i},
             "geometry": {"type": "Point", "coordinates": c}}
            for i, c in enumerate([[1.5, 52.1], [2.5, 51.5], [4.5, 51.0]])
        ],
    }
    outside = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"Name": f"q{i}", "ID": i},
             "geometry": {"type": "Point", "coordinates": c}}
            for i, c in enumerate([[-150.0, -30.0], [120.0, 10.0], [30.0, 60.0]])
        ],
    }
    json.dump(inside, open(d / "inside-cube.geojson", "w"))
    json.dump(outside, open(d / "outside-cube.geojson", "w"))
    g1 = load_place_group(spark, "inside-cube", str(d / "inside-cube.geojson"))
    g2 = load_place_group(spark, "outside-cube", str(d / "outside-cube.geojson"))
    return union_place_groups([g1, g2])


def test_places_load_reassigns_ids_and_strips_id(places_df):
    rows = places_df.filter(F.col("collection") == "inside-cube").collect()
    assert [r["feature_id"] for r in rows] == ["0", "1", "2"]
    for r in rows:
        assert "ID" not in r["properties"] and "Name" in r["properties"]


def test_places_bbox_filter_returns_inside(places_df):
    # F-8 golden: bbox covering the demo extent returns exactly inside-cube
    out = find_places(places_df, bbox=DEMO_EXTENT).collect()
    assert sorted(r["properties"]["Name"] for r in out) == ["p0", "p1", "p2"]


def test_places_polygon_and_query_expr(places_df):
    # quad covering p0 (1.5, 52.1) and p1 (2.5, 51.5) but not p2 (4.5, 51.0)
    quad = {
        "type": "Polygon",
        "coordinates": [[[1.0, 51.0], [3.0, 51.0], [3.0, 52.4], [1.0, 52.4], [1.0, 51.0]]],
    }
    out = find_places(places_df, geometry=quad).collect()
    assert sorted(r["properties"]["Name"] for r in out) == ["p0", "p1"]
    # P11 query_expr — implemented (reference raises NotImplementedError,
    # xcube_server/controllers/places.py:84)
    out2 = find_places(
        places_df, bbox=DEMO_EXTENT, query_expr="properties['Name'] = 'p1'"
    ).collect()
    assert len(out2) == 1 and out2[0]["properties"]["Name"] == "p1"


# -- metadata ----------------------------------------------------------------


def test_metadata_endpoints(demo_catalog):
    ds = get_datasets(demo_catalog, details=True)
    entry = [d for d in ds["datasets"] if d["id"] == "demo"][0]
    assert entry["bbox"] == list(DEMO_EXTENT)
    assert {v["id"] for v in entry["variables"]} >= {"conc_chl", "conc_tsm"}
    chl = [v for v in entry["variables"] if v["id"] == "conc_chl"][0]
    assert chl["colorBarMax"] == 24.0 and chl["shape"] == [5, H, W]
    coords = get_coordinates(demo_catalog, "demo", "time")
    assert coords["size"] == 5 and coords["coordinates"][0] == "2017-01-16T10:09:22Z"
    lat = get_coordinates(demo_catalog, "demo", "lat")
    assert lat["size"] == H and lat["coordinates"][0] > lat["coordinates"][-1]
    tg = get_tile_grid(demo_catalog, "demo")
    assert tg["tileSize"] == [64, 64]


def test_catalog_roundtrip(spark, demo_catalog):
    base = demo_catalog.datasets["demo"].base_path
    cat2 = CubeCatalog(spark)
    meta = cat2.load_meta("demo", base)
    assert meta.grid.extent == DEMO_EXTENT
    assert meta.styles["conc_chl"].value_range == (0.0, 24.0)
    assert cat2.cube("demo", 0).count() == len(DEMO_TIMES) * W * H


def test_tile_fast_path_matches_spark_path(demo_catalog):
    """Driver-side pyarrow fast path must produce byte-identical PNGs to the
    distributed render plan (same pruning, same fused render fn)."""
    import time as _time

    fast = TileService(demo_catalog, fast_path=True)
    slow = TileService(demo_catalog, fast_path=False)
    for (z, x, y) in [(2, 0, 0), (2, 1, 1), (2, 3, 1), (1, 0, 0)]:
        assert fast.get_tile("demo", "kd489", z, x, y, time="current") == \
            slow.get_tile("demo", "kd489", z, x, y, time="current")
    # out-of-range tile: fully transparent via the fast path too
    png = fast.get_tile("demo", "kd489", 2, 50, 50)
    assert decode_rgba_png(png)[..., 3].max() == 0
    # latency: an uncached fast-path tile must be far below Spark-job cost
    t0 = _time.perf_counter()
    fast.get_tile("demo", "conc_chl", 2, 1, 0, time="current")
    dt = _time.perf_counter() - t0
    assert dt < 1.0, f"fast path took {dt:.3f}s"


def test_render_tiles_prunes_scan_by_tile_window(demo_catalog, register_weekly):
    """render_tiles(tiles=[...]) filters on each tile's lat_idx/lon_idx
    window, so the bounds are parquet PushedFilters for a native dataset
    and, through its grouping keys, for a computed one; the PNGs are the
    fast path's and the full-level render's."""
    register_weekly(demo_catalog, "demo-1w-tiles")
    z = demo_catalog.datasets["demo"].tile_grid.num_levels - 1  # level 0, 64-px tiles
    fast = TileService(demo_catalog, fast_path=True)
    for ds in ("demo", "demo-1w-tiles"):
        one = render_tiles(demo_catalog, ds, "kd489", z, tiles=[(1, 0)])
        rows = one.collect()
        pf = ",".join(pushed_filters(one))
        for bound in ("GreaterThanOrEqual(lat_idx,0)", "LessThanOrEqual(lat_idx,63)",
                      "GreaterThanOrEqual(lon_idx,64)", "LessThanOrEqual(lon_idx,127)"):
            assert bound in pf, pf
        two = render_tiles(demo_catalog, ds, "kd489", z, tiles=[(1, 0), (2, 1)])
        assert "lat_idx" in ",".join(pushed_filters(two))
        full = {
            (r["tile_x"], r["tile_y"]): bytes(r["png"])
            for r in render_tiles(demo_catalog, ds, "kd489", z).collect()
        }
        assert [(r["tile_x"], r["tile_y"]) for r in rows] == [(1, 0)]
        assert bytes(rows[0]["png"]) == full[(1, 0)]
        assert {
            (r["tile_x"], r["tile_y"]): bytes(r["png"]) for r in two.collect()
        } == {k: full[k] for k in ((1, 0), (2, 1))}
        if ds == "demo":
            assert full[(1, 0)] == fast.get_tile(ds, "kd489", z, 1, 0)


def test_batched_point_timeseries_matches_single(demo_catalog):
    """N Point geometries in ONE fan-out job must equal N single-point
    queries; an out-of-grid point yields no rows."""
    pts = [(2.1, 51.4), (1.2, 50.6), (-150.0, -30.0)]  # last one outside
    batched = time_series_for_geometry_collection(
        demo_catalog, "demo", "conc_tsm",
        [{"type": "Point", "coordinates": [lon, lat]} for lon, lat in pts],
    )
    rows = batched.collect()
    assert {r["geometry_id"] for r in rows} == {0, 1}  # outside point dropped
    for gid, (lon, lat) in [(0, pts[0]), (1, pts[1])]:
        single = time_series_for_point(
            demo_catalog, "demo", "conc_tsm", lon, lat
        ).collect()
        mine = [r for r in rows if r["geometry_id"] == gid]
        assert [
            (r["date"], r["total_count"], r["valid_count"], r["average"])
            for r in mine
        ] == [
            (r["date"], r["total_count"], r["valid_count"], r["average"])
            for r in single
        ]


def test_morton_zorder_expression(spark):
    """SQL Morton expression must match the driver-side reference impl, and
    Z-ordering must cluster 2-D neighbors better than row-major order."""
    from xcube_server_spark.cube.grid import morton_code, morton_interleave_expr

    df = spark.createDataFrame(
        [(i, j) for i in range(16) for j in range(16)], "lat_idx int, lon_idx int"
    ).withColumn("z", F.expr(morton_interleave_expr()))
    rows = {(r["lat_idx"], r["lon_idx"]): r["z"] for r in df.collect()}
    for (i, j), z in rows.items():
        assert z == morton_code(i, j), (i, j)
    # locality: a 4x4 query box spans a bounded z-range in z-order, but the
    # full row-major span in row-major order
    box = [rows[(i, j)] for i in range(4, 8) for j in range(4, 8)]
    z_span = max(box) - min(box)
    rowmajor_span = (7 * 16 + 7) - (4 * 16 + 4)  # same box, row-major keys
    assert z_span < 2 * rowmajor_span  # tight, interleaved range
    assert sorted(box) == list(range(min(box), max(box) + 1)) or z_span < 256


def test_zorder_layout_roundtrip(spark, tmp_path):
    """Z-order layout must not change any query result — only the file
    clustering."""
    base = str(tmp_path / "zcube")
    cube, grid = synth_demo_cube(spark, width=40, height=20)
    _, tg = write_cube(cube, grid, base, tile_size=16, layout="zorder")
    cat = CubeCatalog(spark)
    cat.register_written_cube("zdemo", base, grid, tg, ["conc_chl", "conc_tsm", "kd489"])
    df = time_series_for_point(cat, "zdemo", "conc_tsm", 2.1, 51.4)
    rows = df.collect()
    assert len(rows) == 5 and rows[0]["total_count"] == 1
    assert cat.cube("zdemo", 0).count() == 5 * 40 * 20


def test_inv_y_cube_orientation(spark, tmp_path):
    """F-3-style ascending-lat cube: index math must invert, and the
    rendered PNG must still put NORTH at the top (flip_y path)."""
    from xcube_server_spark.sources.cube_ingest import synth_noise_cube

    base = str(tmp_path / "noise")
    cube, grid = synth_noise_cube(spark, width=32, height=16)
    assert grid.inv_y
    # index math: higher lat -> higher lat_idx when inv_y
    assert grid.lat_idx_of(80.0) > grid.lat_idx_of(-80.0)
    assert grid.lat_of(0) < grid.lat_of(15)
    _, tg = write_cube(cube, grid, base, tile_size=32)
    cat = CubeCatalog(spark)
    cat.register_written_cube(
        "noise", base, grid, tg, ["noise"],
        styles={"noise": StyleMeta("gray", (0.0, 1.0))},
    )
    svc = TileService(cat, fast_path=False)
    png = svc.get_tile("noise", "noise", tg.num_levels - 1, 0, 0)
    rgba = decode_rgba_png(png)
    # gray cmap: pixel brightness ~ value; north (top row) has value ~1,
    # south (bottom row) ~0 -> top must be brighter
    top = rgba[0, :, 0].astype(int).mean()
    bottom = rgba[15, :, 0].astype(int).mean()
    assert top > bottom + 100, (top, bottom)
    # fast path agrees with the Spark path on flipped grids too
    fast = TileService(cat, fast_path=True)
    assert fast.get_tile("noise", "noise", tg.num_levels - 1, 0, 0) == png


def test_computed_cube_time_axis_and_tiles(spark, demo_catalog):
    """A computed cube's time axis must be the COMPUTED frame's axis (weekly
    labels), not the input's timestamps — and tile queries must resolve
    `time=` against it (nearest + 'current')."""
    from xcube_server_spark.cube.catalog import DatasetMeta

    if "demo-1w-axis" not in demo_catalog.datasets:
        base = demo_catalog.datasets["demo"]
        demo_catalog.register(
            DatasetMeta(
                identifier="demo-1w-axis",
                title="weekly",
                base_path="",
                grid=base.grid,
                tile_grid=base.tile_grid,
                variables=base.variables,
                computed=True,
                function="resample_in_time",
                input_datasets=["demo"],
                input_params={"period": "1W"},
            )
        )
    times = demo_catalog.times("demo-1w-axis")
    assert times == [
        "2017-01-22 00:00:00", "2017-01-29 00:00:00", "2017-02-05 00:00:00",
    ]
    # base axis unchanged
    assert demo_catalog.times("demo")[0].startswith("2017-01-16")
    # tile render against the weekly axis: 'current' = last week
    rows = render_tiles(
        demo_catalog, "demo-1w-axis", "kd489", z=0, time="current"
    ).collect()
    assert rows and all(r["png"][:8] == b"\x89PNG\r\n\x1a\n" for r in rows)


def test_linked_level_indirection(spark, demo_catalog, tmp_path):
    """`l{i}.link` pointer files graft an externally-stored level into the
    pyramid (parity: FileStorageMultiLevelDataset's `{i}.link`,
    xcube_server/mldataset.py:136-198): the catalog resolves the link for
    both the Spark read and the driver tile fast path, and a relative
    target resolves against the dataset dir."""
    import shutil

    src_meta = demo_catalog.datasets["demo"]
    top = src_meta.tile_grid.num_levels - 1
    base = str(tmp_path / "linked_demo")
    shutil.copytree(src_meta.base_path, base)
    # move the coarsest level out of the dataset dir, leave a pointer
    external = str(tmp_path / "external_store" / "coarse")
    shutil.move(f"{base}/l{top}", external)
    with open(f"{base}/l{top}.link", "w") as f:
        f.write(external + "\n")

    cat = CubeCatalog(spark)
    meta = cat.load_meta("linked", base)
    meta.styles = dict(src_meta.styles)
    assert cat.level_path("linked", top) == external
    assert cat.level_path("linked", 0).endswith("/l0")  # no link -> direct
    # the linked level serves identically to the original
    orig = demo_catalog.cube("demo", top).count()
    assert cat.cube("linked", top).count() == orig > 0
    # tile service renders from the linked level (zoom 0 = coarsest)
    png = TileService(cat).get_tile("linked", "conc_tsm", 0, 0, 0, time="current")
    ref = TileService(demo_catalog).get_tile(
        "demo", "conc_tsm", 0, 0, 0, time="current"
    )
    assert png == ref
    # relative link target also resolves
    with open(f"{base}/l{top}.link", "w") as f:
        f.write("l0\n")
    cat2 = CubeCatalog(spark)
    cat2.load_meta("linked2", base)
    assert cat2.level_path("linked2", top).endswith("/l0")
