"""Tile rendering (SURVEY.md §3.1; §2.9 T1-T9; M3 of the build plan).

Reference pipeline per tile: slice window → mask → clip/normalize → colormap
→ PNG (``xcube_server/controllers/tiles.py:23-142``; the fused mode-1 kernel
``xcube_server/im/tiledimage.py:514-635``). Spark plan:

1. driver: zoom → LOD level (P2), nearest time slice (P6) from catalog
   metadata, tile (x, y) → index window;
2. executors: window filter (pushed to parquet row-group pruning) →
   ``applyInPandas`` render — ONE fused Python stage per tile, the moral
   equivalent of the reference's fused numba kernel (T5), emitting PNG bytes
   (S9, pure-python encoder);
3. app layer: byte cache keyed (ds, var, z, x, y, t, style) (T9) — Spark
   caches frames, not encoded bytes.

``render_tiles`` is the scalable batch form: ALL tiles of a zoom level in
one job, grouped by (tile_y, tile_x) — this is how a pre-warm/export job
renders millions of tiles without per-tile job overhead.
"""

from __future__ import annotations

import datetime as _dt
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.colormap import DEFAULT_CMAP, apply_cmap
from ..sources.png import encode_rgba_png
from .cache import ByteCache, FileByteCache
from .catalog import CubeCatalog, DatasetMeta, StyleMeta
from .grid import level_sizes


def _nearest_time(times: list[str], probe: str | None) -> tuple[int, str]:
    """P6 extra-dim binding (``xcube_server/context.py:420-451``):
    None → first slice, 'current' → last, else nearest timestamp."""
    if probe is None:
        return 0, times[0]
    if probe == "current":
        return len(times) - 1, times[-1]
    try:
        p = _dt.datetime.fromisoformat(probe)
    except ValueError:
        # reference wording (controllers/tiles.py via context.py:420-451;
        # pinned by test_get_dataset_tile_with_time_dim): callers append
        # the variable/dataset context
        raise ValueError(
            f"{probe!r} is not a valid value for dimension 'time'"
        ) from None
    deltas = [
        abs((_dt.datetime.fromisoformat(t) - p).total_seconds()) for t in times
    ]
    i = int(np.argmin(deltas))  # ties → lower index, xarray 'nearest' parity
    return i, times[i]


def _render_pdf_factory(
    tile_w: int, tile_h: int, vmin: float, vmax: float, cmap: str, var: str,
):
    """Build the applyInPandas body: rows of one tile → one PNG row.

    Rows arrive with a ``disp_row`` column already in DISPLAY space (row 0 =
    north; for inv_y grids that is ``H_level - 1 - lat_idx`` — the T3 flip,
    ``xcube_server/im/tiledimage.py:329-415``, applied as index arithmetic
    so tile assignment and in-tile placement agree even on partially-filled
    edge tiles). Missing cells become NaN pixels (T8 trim_tile padding,
    ``xcube_server/im/tiledimage.py:1058-1084``) and render transparent.
    """

    def render(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ty, tx = int(key[0]), int(key[1])
        arr = np.full((tile_h, tile_w), np.nan, dtype=np.float64)
        ri = pdf["disp_row"].to_numpy() - ty * tile_h
        rj = pdf["lon_idx"].to_numpy() - tx * tile_w
        vals = pdf[var].astype("float64").to_numpy()
        ok = (ri >= 0) & (ri < tile_h) & (rj >= 0) & (rj < tile_w)
        arr[ri[ok], rj[ok]] = vals[ok]
        rgba = apply_cmap(arr, vmin, vmax, cmap)
        png = encode_rgba_png(rgba)
        # Pre-encode RGBA checksum: sum of packed r<<24|g<<16|b<<8|a over the
        # tile. NaN/missing pixels are (0,0,0,0) and contribute 0, so the sum
        # equals a SQL aggregate over only the valid cells — this is what lets
        # the driver value-check the whole T1-T5 render chain (clip, normalize,
        # LUT index, flip, tile assignment) without PNG bytes being
        # SQL-expressible (VERDICT r04 item 1).
        p = rgba.astype(np.int64)
        rgba_sum = int(
            (
                (p[..., 0] << 24) + (p[..., 1] << 16) + (p[..., 2] << 8) + p[..., 3]
            ).sum()
        )
        return pd.DataFrame(
            {"tile_y": [ty], "tile_x": [tx], "png": [png], "rgba_sum": [rgba_sum]}
        )

    return render


def _level_height(meta: DatasetMeta, level: int) -> int:
    tg = meta.tile_grid
    return level_sizes(meta.grid.width, meta.grid.height, tg.num_levels)[level][1]


def _disp_row(meta: DatasetMeta, level: int, lat_idx):
    """Display row (0 = north) of storage ``lat_idx``, a Column or an
    array: the T3 flip for inv_y grids."""
    if meta.grid.inv_y:
        return (_level_height(meta, level) - 1) - lat_idx
    return lat_idx


def tile_window(
    meta: DatasetMeta, level: int, x: int, y: int
) -> tuple[int, int, int, int]:
    """Inclusive storage index bounds ``(lat_lo, lat_hi, lon_lo, lon_hi)``
    of tile (x, y) at ``level``: display rows ``[y*th, (y+1)*th)``, flipped
    for inv_y grids."""
    tg = meta.tile_grid
    th, tw = tg.tile_height, tg.tile_width
    if meta.grid.inv_y:
        h_level = _level_height(meta, level)
        lat_lo, lat_hi = h_level - (y + 1) * th, h_level - y * th - 1
    else:
        lat_lo, lat_hi = y * th, (y + 1) * th - 1
    return lat_lo, lat_hi, x * tw, (x + 1) * tw - 1


def render_tiles(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    z: int,
    time: str | None = None,
    style: StyleMeta | None = None,
    tiles: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Render tiles of one zoom level/time slice as a DataFrame
    (tile_y, tile_x, png binary). ``tiles=None`` renders the full level."""
    meta = catalog.datasets[ds_id]
    tg = meta.tile_grid
    level = tg.level_for_zoom(z)
    cube = catalog.cube(ds_id, level)
    t_idx, _ = _nearest_time(catalog.times(ds_id), time)
    st = style or meta.styles.get(var) or StyleMeta()
    vmin, vmax = st.value_range

    df = cube.filter(F.col("time_idx") == t_idx).select(
        "lat_idx", "lon_idx", var
    )
    if tiles is not None:
        # index windows, not the derived tile_x/tile_y: parquet can prune
        # on them, and a computed cube passes them through its grouping
        pred = None
        for tx, ty in tiles:
            lat_lo, lat_hi, lon_lo, lon_hi = tile_window(meta, level, tx, ty)
            this = F.col("lat_idx").between(lat_lo, lat_hi) & F.col(
                "lon_idx"
            ).between(lon_lo, lon_hi)
            pred = this if pred is None else (pred | this)
        df = df.filter(pred)
    tw, th = tg.tile_width, tg.tile_height
    df = df.withColumn("disp_row", _disp_row(meta, level, F.col("lat_idx")))
    df = df.withColumn("tile_y", (F.col("disp_row") / th).cast("int")).withColumn(
        "tile_x", (F.col("lon_idx") / tw).cast("int")
    )
    return df.groupBy("tile_y", "tile_x").applyInPandas(
        _render_pdf_factory(tw, th, vmin, vmax, st.color_bar, var),
        "tile_y int, tile_x int, png binary, rgba_sum long",
    )


class TileService:
    """Single-tile serving path with a byte cache (T9) and a driver-side
    fast path (SURVEY.md §7.3-7).

    The cache is the app-layer analog of the reference's memory tile cache
    (``xcube_server/cache.py:202-410``, ``xcube_server/context.py:80-93``):
    one thread-safe LRU with the 0.75 eviction threshold, the reference's
    default policy. Spark jobs have ~100 ms overhead, so repeated tile hits
    must not touch Spark at all.

    Fast path: a single tile touches one time_idx partition and a handful of
    row groups; reading them with pyarrow on the driver (same pruning
    predicates) costs milliseconds — the latency class of the reference's
    in-process dask reads — while batch/export rendering still goes through
    the distributed ``render_tiles`` plan. Falls back to Spark automatically
    for computed datasets (no parquet path to read).
    """

    def __init__(
        self,
        catalog: CubeCatalog,
        capacity: int = 512 * 1024 * 1024,
        fast_path: bool = True,
        trace_perf: bool = False,
        file_cache_path: str | None = None,
        file_cache_capacity: int = 20 * 1000**3,
    ):
        self.catalog = catalog
        self.capacity = capacity
        self.fast_path = fast_path
        # --traceperf parity (xcube_server/cli.py:58-59, perf.py:33-52)
        self.trace_perf = trace_perf
        self._cache = ByteCache(capacity)
        # optional second-level disk tier, default OFF with a 20 GB cap —
        # parity with xcube_server/defaults.py:42-46
        self._file_cache = (
            FileByteCache(file_cache_path, file_cache_capacity)
            if file_cache_path
            else None
        )

    def _read_tile_fast(
        self, ds_id: str, var: str, z: int, x: int, y: int, t_idx: int
    ) -> "pd.DataFrame | None":
        """pyarrow read of one tile window: partition-dir pruning on
        time_idx + row-group predicate pruning on (lat_idx, lon_idx); None
        when the level is not a local table."""
        import pyarrow.dataset as pads

        meta = self.catalog.datasets[ds_id]
        level = meta.tile_grid.level_for_zoom(z)
        files = self.catalog.local_parts(ds_id, level, [t_idx])
        if not files:
            return None
        lat_lo, lat_hi, lon_lo, lon_hi = tile_window(meta, level, x, y)
        f = pads.field
        filt = (
            (f("lat_idx") >= lat_lo)
            & (f("lat_idx") <= lat_hi)
            & (f("lon_idx") >= lon_lo)
            & (f("lon_idx") <= lon_hi)
        )
        table = pads.dataset(files, format="parquet").to_table(
            columns=["lat_idx", "lon_idx", var], filter=filt
        )
        pdf = table.to_pandas()
        pdf["disp_row"] = _disp_row(meta, level, pdf["lat_idx"])
        return pdf

    def get_tile(
        self,
        ds_id: str,
        var: str,
        z: int,
        x: int,
        y: int,
        time: str | None = None,
        cmap: str | None = None,
        vmin: float | None = None,
        vmax: float | None = None,
    ) -> bytes:
        from ..perf import measure_time

        with measure_time(
            f"tile {ds_id}/{var}/{z}/{x}/{y}", trace=self.trace_perf
        ):
            meta = self.catalog.datasets[ds_id]
            if not 0 <= z < meta.tile_grid.num_levels:
                raise ValueError(
                    f"zoom {z} out of range [0, {meta.tile_grid.num_levels - 1}]"
                )
            st = meta.styles.get(var) or StyleMeta(color_bar=DEFAULT_CMAP)
            st = StyleMeta(
                color_bar=cmap or st.color_bar,
                value_range=(
                    st.value_range[0] if vmin is None else vmin,
                    st.value_range[1] if vmax is None else vmax,
                ),
            )
            key = (ds_id, var, z, x, y, time, st.color_bar, st.value_range)
            cached = self._cache.get(key)
            if cached is not None:
                return cached
            if self._file_cache is not None:
                spilled = self._file_cache.get(key)
                if spilled is not None:
                    self._cache.put(key, spilled)  # promote to memory tier
                    return spilled
            png = None
            if self.fast_path:
                t_idx, _ = _nearest_time(self.catalog.times(ds_id), time)
                pdf = self._read_tile_fast(ds_id, var, z, x, y, t_idx)
                if pdf is not None:
                    tg = meta.tile_grid
                    render = _render_pdf_factory(
                        tg.tile_width, tg.tile_height, *st.value_range,
                        st.color_bar, var,
                    )
                    png = bytes(render((y, x), pdf)["png"][0])
            if png is None:
                rows = (
                    render_tiles(
                        self.catalog, ds_id, var, z, time=time, style=st,
                        tiles=[(x, y)],
                    )
                    .collect()
                )
                if rows:
                    png = bytes(rows[0]["png"])
                else:
                    # Out-of-range tile: all-NaN → fully transparent (the
                    # reference still renders padded tiles,
                    # test/controllers/test_tiles.py:18).
                    tg = meta.tile_grid
                    blank = np.full((tg.tile_height, tg.tile_width), np.nan)
                    png = encode_rgba_png(
                        apply_cmap(blank, *st.value_range, st.color_bar)
                    )
            self._cache.put(key, png)
            if self._file_cache is not None:
                self._file_cache.put(key, png)
            return png

    def get_feature_info(
        self,
        ds_id: str,
        var: str,
        z: int,
        x: int,
        y: int,
        i: int,
        j: int,
        time: str | None = None,
    ) -> dict:
        """WMTS ``GetFeatureInfo``: the variable value under pixel (i, j)
        of tile (z, x, y) — IMPLEMENTED where the reference raises
        ``'Request type "GetFeatureInfo" not yet implemented'``
        (``xcube_server/handlers.py:103-104``), the same finish-the-stub
        policy as ``query_expr`` (P11).

        Pixel → cell is pure index arithmetic on the level grid (display
        row flips for ``inv_y`` grids exactly as the tile render does);
        the value read is the tile fast path narrowed to ONE cell
        (partition-dir pruning on ``time_idx``, row-group predicate on the
        cell indices), with the same Spark fallback for computed or
        object-store datasets. NaN/absent cells report ``value: None``
        (the reference's masked-pixel contract).
        """
        import math

        meta = self.catalog.datasets[ds_id]
        tg = meta.tile_grid
        if not 0 <= z < tg.num_levels:
            raise ValueError(
                f"zoom {z} out of range [0, {tg.num_levels - 1}]"
            )
        if not (0 <= i < tg.tile_width and 0 <= j < tg.tile_height):
            raise ValueError(f"pixel ({i}, {j}) outside the tile")
        level = tg.level_for_zoom(z)
        w_level, h_level = level_sizes(
            meta.grid.width, meta.grid.height, tg.num_levels
        )[level]
        col = x * tg.tile_width + i
        disp_row = y * tg.tile_height + j
        lat_idx = (h_level - 1) - disp_row if meta.grid.inv_y else disp_row
        t_idx, t_label = _nearest_time(self.catalog.times(ds_id), time)
        value = None
        in_grid = 0 <= col < w_level and 0 <= lat_idx < h_level
        if in_grid:
            value = self._read_cell(ds_id, var, level, lat_idx, col, t_idx)
        west, south, east, north = meta.grid.extent
        res_lon = (east - west) / w_level
        res_lat = (north - south) / h_level
        lon = west + (col + 0.5) * res_lon
        lat = (
            south + (lat_idx + 0.5) * res_lat
            if meta.grid.inv_y
            else north - (lat_idx + 0.5) * res_lat
        )
        if value is not None and isinstance(value, float) and math.isnan(value):
            value = None
        return {
            "layer": f"{ds_id}.{var}",
            "time": t_label,
            "lon": lon,
            "lat": lat,
            "value": value,
        }

    def _read_cell(
        self, ds_id: str, var: str, level: int, lat_idx: int, col: int,
        t_idx: int,
    ) -> float | None:
        """One-cell read: pyarrow fast path, Spark fallback."""
        files = (
            self.catalog.local_parts(ds_id, level, [t_idx])
            if self.fast_path else None
        )
        if files:
            import pyarrow.dataset as pads

            f = pads.field
            table = pads.dataset(files, format="parquet").to_table(
                columns=[var],
                filter=(f("lat_idx") == lat_idx) & (f("lon_idx") == col),
            )
            if table.num_rows == 0:
                return None
            v = table.column(var)[0].as_py()
            return float(v) if v is not None else None
        rows = (
            self.catalog.cube(ds_id, level)
            .filter(
                (F.col("time_idx") == t_idx)
                & (F.col("lat_idx") == lat_idx)
                & (F.col("lon_idx") == col)
            )
            .select(var)
            .collect()
        )
        if not rows or rows[0][0] is None:
            return None
        return float(rows[0][0])
