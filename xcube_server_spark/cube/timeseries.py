"""Cube time-series queries (SURVEY.md §3.2; M1/M2 of the build plan).

Reference entry points:
- point TS: ``get_time_series_for_point`` —
  ``xcube_server/controllers/time_series.py:121-145``
- geometry TS: ``_get_time_series_for_geometry`` — ``:148-205``
- collection fan-out: ``:208-219``

Two evaluators give the same rows.

Driver path (``local_time_series``), used by the HTTP routes when level 0
is a local parquet table: the reference answers time series in-process
from xarray/dask, in the latency class of its tile reads (SURVEY.md §7.3-7),
and so does this path, like the tile fast path. One pyarrow read takes the
``time_idx`` partitions whose step falls in the window and, within them,
the rows inside the index bbox of all the geometries' cells (a range
filter, whose cost does not grow with the number of geometries). A hash
join with every geometry's (geometry_id, lat_idx, lon_idx) cells keeps
each geometry's rows, a cell shared by two geometries once for each, and
one ``group_by`` on (geometry_id, time) counts and sums them. The
session time zone is UTC (``session.py``), so the ``startDate``/``endDate``
instants are read as UTC, as ``to_timestamp`` does there. A request takes
the Spark plan instead when the dataset is computed or on an object store,
when a date bound is not one of the forms parsed here, when ``var`` is not
one of the dataset's variables, or when it would touch more than
``DRIVER_MAX_ROWS`` rows (bbox cells × steps in the window).

Spark plans (the ``time_series_for_*`` functions; batch callers, the
registry oracles and every request the driver path declines):
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

Counts on both paths: a point's and a fan-out geometry's ``total_count`` is
the rows present per step (a cell shared by two fan-out geometries counts
in both); a single polygon's is its mask's cell count (A6). A step with no
row in the mask gives no output row.

Known reference inconsistency (SURVEY.md §7.3-2): the reference's polygon
``average`` is computed over the *bbox* subset while ``validCount`` counts
the *masked* subset (``time_series.py:191-193``). We implement the
consistent masked semantics for both and document the divergence here.
"""

from __future__ import annotations

import datetime as _dt
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.scalars import iso_ts
from .catalog import CubeCatalog
from .grid import GridMeta
from .rasterize import Geometry, geometry_bbox, rasterize_mask

# Rows a driver-side read may touch: the cells of the index bbox of all the
# geometries' cells times the steps in the window. The demo cube's whole
# level 0, 2000 × 1000 cells × 5 steps = 10M rows (about 200 MB of time,
# index and value columns in the driver), is the largest request the driver
# answers; a larger one takes the Spark plan, which scales to the 100 TB
# cube.
DRIVER_MAX_ROWS = 2000 * 1000 * 5

_NS = 1_000_000_000
# the startDate/endDate forms the driver parses the way Spark's
# to_timestamp does: a date, or a date and time with up to six fraction
# digits and an optional Z; any other string takes the Spark plan
_BOUND = re.compile(
    r"(\d{4})-(\d{2})-(\d{2})"
    r"(?:[T ](\d{2}):(\d{2}):(\d{2})(?:\.(\d{1,6}))?Z?)?"
)


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


def _bound_ns(text: str) -> int:
    """Nanoseconds since the epoch (UTC) of a ``startDate``/``endDate``
    value, clamped to the int64 range of the stored ``time`` values (a
    bound beyond it keeps or drops every step, as in the Spark plan);
    ValueError for a form the driver does not parse."""
    m = _BOUND.fullmatch(text)
    if m is None:
        raise ValueError(text)
    y, mo, d, hh, mi, ss, frac = m.groups()
    t = _dt.datetime(
        int(y), int(mo), int(d), int(hh or 0), int(mi or 0), int(ss or 0),
        tzinfo=_dt.timezone.utc,
    )
    us = int((frac or "0").ljust(6, "0"))
    ns = int(t.timestamp()) * _NS + us * 1000
    return min(max(ns, -(2**63)), 2**63 - 1)


def _steps_in(times: tuple[str, ...], lo: int | None, hi: int | None) -> list[int]:
    """``time_idx`` of the steps whose label falls in [lo, hi]. Labels carry
    whole seconds, so each bound gets a second of slack; the read applies
    the exact bounds to the stored ``time`` values. ValueError for a label
    numpy cannot parse."""
    # Python ints: a clamped bound with its slack is beyond int64
    ns = np.array(times, dtype="datetime64[ns]").astype(np.int64).tolist()
    return [
        i for i, t in enumerate(ns)
        if (lo is None or t >= lo - _NS) and (hi is None or t <= hi + _NS)
    ]


def local_time_series(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    geometries: list[Geometry],
    start: str | None = None,
    end: str | None = None,
    collection: bool = False,
) -> list[dict] | None:
    """Point, geometry or fan-out time series of a local cube, evaluated
    on the driver: the rows the ``time_series_for_*`` plans collect, as
    dicts. One geometry answers ``time_series_for_geometry`` (a Point is the
    point query); ``collection=True`` answers
    ``time_series_for_geometry_collection`` and adds ``geometry_id``.

    Returns None when the request must take the Spark plan (see the module
    docstring), and ``[]`` without a read when no geometry has a cell in
    the grid (P7) or no step is in the window.
    """
    meta = catalog.datasets[ds_id]
    if var not in meta.variables:
        return None  # the Spark plan reads or rejects any other column
    try:
        lo = None if start is None else _bound_ns(start)
        hi = None if end is None else _bound_ns(end)
        steps = _steps_in(meta.grid.times, lo, hi)
    except ValueError:
        return None
    files = catalog.local_parts(ds_id, 0, steps)
    if files is None:
        return None
    probes = [(gi, _cells(geom, meta.grid)) for gi, geom in enumerate(geometries)]
    probes = [(gi, cells) for gi, cells in probes if len(cells)]
    if not probes or not files:
        return []
    cells = np.concatenate([c for _, c in probes])
    (i0, j0), (i1, j1) = cells.min(axis=0).tolist(), cells.max(axis=0).tolist()
    area = (i1 - i0 + 1) * (j1 - j0 + 1)
    if area * len(steps) > DRIVER_MAX_ROWS:
        return None

    dataset = pads.dataset(files, format="parquet")
    lat, lon, time = pads.field("lat_idx"), pads.field("lon_idx"), pads.field("time")
    filt = (lat >= i0) & (lat <= i1) & (lon >= j0) & (lon <= j1)
    ns_type = pa.timestamp("ns", dataset.schema.field("time").type.tz)
    if lo is not None:
        filt &= time >= pa.scalar(lo, ns_type)
    if hi is not None:
        filt &= time <= pa.scalar(hi, ns_type)
    table = dataset.to_table(columns=["time", "lat_idx", "lon_idx", var], filter=filt)
    if len(probes) == 1 and len(cells) == area:
        # one geometry whose cells fill the bbox (a point, a rectangle) owns
        # every row read: no join (on the demo level 0 the join is ~100 ms
        # of a 30%-of-extent rectangle's ~300 ms)
        gid = np.full(table.num_rows, probes[0][0])
        kept = table.append_column("geometry_id", pa.array(gid))
    else:
        gids = np.repeat([gi for gi, _ in probes], [len(c) for _, c in probes])
        mask = pa.table({
            "geometry_id": gids,
            "lat_idx": pa.array(cells[:, 0], table.schema.field("lat_idx").type),
            "lon_idx": pa.array(cells[:, 1], table.schema.field("lon_idx").type),
        })
        kept = table.join(mask, ["lat_idx", "lon_idx"], join_type="inner")
    per_step = (
        kept.group_by(["geometry_id", "time"])
        .aggregate([([], "count_all"), (var, "count"), (var, "sum")])
        .sort_by([("geometry_id", "ascending"), ("time", "ascending")])
    )
    # A6: a single polygon's totalCount is its mask's cell count
    polygon = not collection and geometries[0]["type"] != "Point"
    # iso_ts: round to the second, half up
    ns = per_step.column("time").cast(ns_type).cast(pa.int64()).to_numpy()
    dates = np.datetime_as_string(((ns + _NS // 2) // _NS).astype("datetime64[s]"))
    out = []
    for gi, date, n_all, n_valid, var_sum in zip(
        per_step.column("geometry_id").to_pylist(),
        dates.tolist(),
        per_step.column("count_all").to_pylist(),
        per_step.column(f"{var}_count").to_pylist(),
        per_step.column(f"{var}_sum").to_pylist(),
    ):
        row = {"geometry_id": gi} if collection else {}
        row.update(
            date=f"{date}Z",
            total_count=len(cells) if polygon else n_all,
            valid_count=n_valid,
            average=var_sum / n_valid if n_valid else None,
        )
        out.append(row)
    return out
