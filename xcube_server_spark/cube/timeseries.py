"""Cube time-series queries (SURVEY.md §3.2; M1/M2 of the build plan).

Reference entry points:
- point TS: ``get_time_series_for_point`` —
  ``xcube_server/controllers/time_series.py:121-145``
- geometry TS: ``_get_time_series_for_geometry`` — ``:148-205``
- collection fan-out: ``:208-219``

Spark plans:
- point: nearest grid index computed on the driver from grid metadata (P5 as
  index arithmetic — no window function, no shuffle), equality filter pushed
  into the parquet scan, groupBy('time') over ≤|timesteps| rows.
- geometry: the driver rasterizes the mask over the clipped window (J1) and
  run-length encodes it: one (lat_idx, lon_lo, lon_hi) row per run of
  adjacent cells along a grid row. The runs ship as a pandas frame (Arrow,
  a ``LocalTableScan``: building the broadcast costs no job). The cube scan
  is cut to the runs' index bbox by ``lat_idx``/``lon_idx`` range filters
  pushed into parquet. A broadcast hash join on ``lat_idx`` with ``lon_idx
  BETWEEN lon_lo AND lon_hi`` keeps the masked cells: ``left_semi`` for one
  geometry, ``inner`` with a geometry_id per run for the fan-out. The only
  shuffle, groupBy('time'), has |timesteps| cardinality regardless of cube
  size.
- every aggregate is at most geometries × timesteps rows, so it is sorted in
  one partition (``coalesce(1).sortWithinPartitions``) instead of by a
  global sort, whose range partitioning costs a sampling job.

Known reference inconsistency (SURVEY.md §7.3-2): the reference's polygon
``average`` is computed over the *bbox* subset while ``validCount`` counts
the *masked* subset (``time_series.py:191-193``). We implement the
consistent masked semantics for both and document the divergence here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.scalars import iso_ts
from .catalog import CubeCatalog
from .grid import GridMeta
from .rasterize import Geometry, geometry_bbox, rasterize_mask


def _time_window(df: DataFrame, start: str | None, end: str | None) -> DataFrame:
    """P3 time slice: keep steps in [start, end]; either bound may be open."""
    if start is not None:
        df = df.filter(F.col("time") >= F.to_timestamp(F.lit(start)))
    if end is not None:
        df = df.filter(F.col("time") <= F.to_timestamp(F.lit(end)))
    return df


def _ts_agg(
    df: DataFrame, var: str, keys: tuple[str, ...] = (), total_count=None
) -> DataFrame:
    """A1/A2 shape: {time, totalCount, validCount, average} per step, and
    per value of ``keys`` when given."""
    total = total_count if total_count is not None else F.count(F.lit(1))
    return (
        df.groupBy(*keys, "time")
        .agg(
            total.alias("total_count"),
            F.count(var).alias("valid_count"),
            F.avg(var).alias("average"),
        )
        .coalesce(1)
        .sortWithinPartitions(*keys, "time")
        .select(
            *keys,
            iso_ts(F.col("time")).alias("date"),
            "total_count",
            "valid_count",
            "average",
        )
    )


def time_series_for_point(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    lon: float,
    lat: float,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame | None:
    """Point TS: P5 nearest-index select + P3 time slice + A2 aggregate.

    Returns None when the point is outside the dataset (P7 short-circuit,
    ``time_series.py:126-128``) — the API layer maps that to
    ``{'results': []}``.
    """
    meta = catalog.datasets[ds_id]
    if not meta.grid.contains(lon, lat):
        return None
    i, j = meta.grid.lat_idx_of(lat), meta.grid.lon_idx_of(lon)
    df = catalog.cube(ds_id).filter(
        (F.col("lat_idx") == i) & (F.col("lon_idx") == j)
    )
    return _ts_agg(_time_window(df, start, end).select("time", var), var)


def mask_runs(cells: np.ndarray) -> np.ndarray:
    """Run-length form of a non-empty ``rasterize_mask`` cell array, shape
    (k, 3): one (lat_idx, lon_lo, lon_hi) row per maximal run of adjacent
    cells along a grid row, both lon bounds inclusive."""
    order = np.lexsort((cells[:, 1], cells[:, 0]))
    lat, lon = cells[order, 0], cells[order, 1]
    brk = np.flatnonzero((np.diff(lat) != 0) | (np.diff(lon) != 1)) + 1
    first = np.concatenate(([0], brk))
    last = np.concatenate((brk, [len(lat)])) - 1
    return np.stack([lat[first], lon[first], lon[last]], axis=1)


def _cells(geom: Geometry, grid: GridMeta) -> np.ndarray:
    """One geometry's (lat_idx, lon_idx) cells: the nearest cell of an
    in-grid Point, ``rasterize_mask`` for the rest, and none, without
    rasterizing, when the geometry's bbox misses the grid (P7)."""
    if geom["type"] == "Point":
        x, y = geom["coordinates"][:2]
        if not grid.contains(x, y):
            return np.empty((0, 2), dtype=np.int64)
        return np.array([[grid.lat_idx_of(y), grid.lon_idx_of(x)]])
    west, south, east, north = geometry_bbox(geom)
    gw, gs, ge, gn = grid.extent
    if east < gw or west > ge or north < gs or south > gn:
        return np.empty((0, 2), dtype=np.int64)
    return rasterize_mask(geom, grid)


def _runs_join(
    catalog: CubeCatalog, ds_id: str, runs: np.ndarray, cols: list[str], how: str
) -> DataFrame:
    """Cube rows inside ``runs`` (columns ``cols``, ending in lat_idx,
    lon_lo, lon_hi): the scan is cut to the runs' index bbox, then broadcast
    hash joined on lat_idx with ``lon_idx BETWEEN lon_lo AND lon_hi``."""
    pdf = pd.DataFrame(runs.astype(np.int32), columns=cols)
    mask_df = catalog.spark.createDataFrame(
        pdf, ", ".join(f"{c} int" for c in cols)
    )
    cube = catalog.cube(ds_id).filter(
        F.col("lat_idx").between(int(pdf.lat_idx.min()), int(pdf.lat_idx.max()))
        & F.col("lon_idx").between(int(pdf.lon_lo.min()), int(pdf.lon_hi.max()))
    )
    on = (cube["lat_idx"] == mask_df["lat_idx"]) & cube["lon_idx"].between(
        mask_df["lon_lo"], mask_df["lon_hi"]
    )
    return cube.join(broadcast(mask_df), on, how)


def time_series_for_geometry(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    geometry: Geometry,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame | None:
    """Geometry TS: run-length mask semi-join (J1) + A1.

    A Point is the point query. A geometry that misses the grid, or whose
    mask is empty, returns None without a job. The mask's cells become
    per-row longitude runs, broadcast into a ``left_semi`` join on
    ``lat_idx`` with ``lon_idx`` inside the run, so the cube side never
    shuffles. For the polygons of the serving benchmark on the 2000×1000
    demo grid that is about 100 to 1,000 runs for 20k to 600k cells. The cube
    scan is cut to the mask's index bbox by range filters pushed into
    parquet. ``total_count`` is the mask's cell count (A6).
    """
    meta = catalog.datasets[ds_id]
    if geometry["type"] == "Point":
        x, y = geometry["coordinates"][:2]
        return time_series_for_point(catalog, ds_id, var, x, y, start, end)
    cells = _cells(geometry, meta.grid)
    if len(cells) == 0:
        return None
    df = _runs_join(
        catalog, ds_id, mask_runs(cells), ["lat_idx", "lon_lo", "lon_hi"],
        "left_semi",
    )
    return _ts_agg(
        _time_window(df, start, end).select("time", var),
        var,
        total_count=F.lit(len(cells)),
    )


def time_series_for_geometry_collection(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    geometries: list[Geometry],
    start: str | None = None,
    end: str | None = None,
) -> DataFrame | None:
    """U2 fan-out as ONE Spark query, instead of the reference's sequential
    per-geometry loop (``time_series.py:208-219``). The run-length masks of
    all geometries, each run tagged with its geometry_id, are the broadcast
    side of one ``inner`` join, grouped by (geometry_id, time). A geometry's
    runs are disjoint, so a cell counts once per geometry covering it. A
    Point is a one-cell run, so N point probes are one broadcast join (J3's
    "many points × cube", SURVEY.md §2.3). The cube scan is cut to the bbox
    of all runs together. A geometry that misses the grid gets no rows (P7
    per probe); when no geometry has a cell, the result is None without a
    job."""
    meta = catalog.datasets[ds_id]
    parts = []
    for gi, geom in enumerate(geometries):
        cells = _cells(geom, meta.grid)
        if len(cells):
            runs = mask_runs(cells)
            parts.append(np.column_stack((np.full(len(runs), gi), runs)))
    if not parts:
        return None
    df = _runs_join(
        catalog, ds_id, np.concatenate(parts),
        ["geometry_id", "lat_idx", "lon_lo", "lon_hi"], "inner",
    )
    return _ts_agg(
        _time_window(df, start, end).select("geometry_id", "time", var),
        var,
        keys=("geometry_id",),
    )
