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
- geometry: driver rasterizes the mask over the clipped window (J1), mask is
  broadcast, ``left_semi`` join + groupBy('time'). The only shuffle has
  |timesteps| cardinality regardless of cube size.

Known reference inconsistency (SURVEY.md §7.3-2): the reference's polygon
``average`` is computed over the *bbox* subset while ``validCount`` counts
the *masked* subset (``time_series.py:191-193``). We implement the
consistent masked semantics for both and document the divergence here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.scalars import iso_ts
from .catalog import CubeCatalog
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
        .orderBy(*keys, "time")
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


def time_series_for_geometry(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    geometry: Geometry,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame | None:
    """Geometry TS: rasterized mask semi-join (J1) + A1.

    A geometry whose bbox misses the grid returns None without a job. The
    mask DataFrame carries the (lat_idx, lon_idx) of every cell the
    geometry covers — about 31k to 600k rows for the polygons of the
    serving benchmark on the 2000×1000 demo grid — and is broadcast into a ``left_semi`` join, so
    the cube side never shuffles. The cube side gets no lat/lon filter:
    its scan reads every cell of level 0 and the join drops the rest.
    """
    meta = catalog.datasets[ds_id]
    if geometry["type"] == "Point":
        x, y = geometry["coordinates"][:2]
        return time_series_for_point(catalog, ds_id, var, x, y, start, end)

    west, south, east, north = geometry_bbox(geometry)
    gw, gs, ge, gn = meta.grid.extent
    if east < gw or west > ge or north < gs or south > gn:
        return None
    cells = rasterize_mask(geometry, meta.grid)
    if len(cells) == 0:
        return None
    total_count = int(len(cells))  # A6 mask cardinality (mask_df.count())
    mask_df = catalog.spark.createDataFrame(
        [(int(a), int(b)) for a, b in cells], "lat_idx int, lon_idx int"
    )
    df = catalog.cube(ds_id).join(
        broadcast(mask_df), ["lat_idx", "lon_idx"], "left_semi"
    )
    return _ts_agg(
        _time_window(df, start, end).select("time", var),
        var,
        total_count=F.lit(total_count),
    )


def time_series_for_geometry_collection(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    geometries: list[Geometry],
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """U2 fan-out as ONE job: union all masks tagged with geometry_id and
    group by (geometry_id, time) — instead of the reference's sequential
    per-geometry loop (``time_series.py:208-219``). Point geometries are
    one-cell masks, so N point probes are one broadcast equi-join (J3's
    "many points × cube", SURVEY.md §2.3); out-of-grid points are dropped
    (P7 per probe)."""
    meta = catalog.datasets[ds_id]
    rows = []
    for gi, geom in enumerate(geometries):
        if geom["type"] == "Point":
            x, y = geom["coordinates"][:2]
            if meta.grid.contains(x, y):
                rows.append(
                    (gi, meta.grid.lat_idx_of(y), meta.grid.lon_idx_of(x))
                )
            continue
        for a, b in rasterize_mask(geom, meta.grid):
            rows.append((gi, int(a), int(b)))
    mask_df = catalog.spark.createDataFrame(
        rows, "geometry_id int, lat_idx int, lon_idx int"
    )
    df = catalog.cube(ds_id).join(
        broadcast(mask_df), ["lat_idx", "lon_idx"], "inner"
    )
    return _ts_agg(_time_window(df, start, end), var, keys=("geometry_id",))
