"""Response oracle: checks every response's shape, and a seeded sample of
each request class against an independent DuckDB read of the cube's
parquet tables.

- Tiles: the tile window's values, read by DuckDB (averaged over the input
  time steps of a ``demo-1w`` week), go through ``apply_cmap`` and must
  equal the decoded PNG pixels.
- Time series: ``count``/``count(v)``/``avg`` per time step over the index
  ranges of the cell-snapped rectangles the request sent.
"""

from __future__ import annotations

import json
import math
import struct
import zlib

import numpy as np

import workloads as wl

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8-bit RGBA, non-interlaced PNG to an (h, w, 4) array;
    raises ValueError on anything else."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat, hdr = 8, [], None
    while pos < len(data):
        (n,) = struct.unpack(">I", data[pos:pos + 4])
        tag, payload = data[pos + 4:pos + 8], data[pos + 8:pos + 8 + n]
        if zlib.crc32(tag + payload) != struct.unpack(">I", data[pos + 8 + n:pos + 12 + n])[0]:
            raise ValueError(f"bad CRC in {tag!r}")
        pos += 12 + n
        if tag == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", payload)
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    if hdr is None or hdr[2:] != (8, 6, 0, 0, 0):
        raise ValueError(f"not 8-bit RGBA non-interlaced: {hdr}")
    w, h = hdr[0], hdr[1]
    stride = w * 4
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("truncated image data")
    rows = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    for r in range(h):
        f, line = rows[r, 0], rows[r, 1:].astype(np.int32)
        if f == 0:
            cur = line
        elif f == 2:
            cur = (line + prev) & 0xFF
        elif f in (1, 3, 4):
            cur = np.zeros(stride, np.int32)
            for i in range(stride):
                a = cur[i - 4] if i >= 4 else 0
                b = prev[i]
                c = prev[i - 4] if i >= 4 else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad filter type {f}")
        out[r] = cur
        prev = cur
    return out.reshape(h, w, 4)


def check_shape(req: dict, status: int, ctype: str, body: bytes) -> str | None:
    """None when the response has the right status, content type and body
    shape for its class, else what is wrong."""
    if status != 200:
        return f"status {status}"
    if req["cls"] in ("tile", "ctile"):
        if ctype != "image/png":
            return f"content type {ctype}"
        try:
            img = decode_png(body)
        except (ValueError, zlib.error, struct.error) as e:
            return f"bad PNG: {e}"
        if img.shape != (wl.TILE, wl.TILE, 4):
            return f"tile shape {img.shape}"
        return None
    if ctype != "application/json":
        return f"content type {ctype}"
    try:
        doc = json.loads(body)
    except ValueError as e:
        return f"bad JSON: {e}"
    results = doc.get("results")
    if not isinstance(results, list):
        return "no results list"
    if req["cls"] == "fanout":
        if len(results) != len(req["rects"]):
            return f"{len(results)} results for {len(req['rects'])} geometries"
        results = [r for sub in results for r in sub["results"]]
    for r in results:
        res = r.get("result", {})
        if not 0 <= res.get("validCount", -1) <= res.get("totalCount", -1):
            return f"bad counts {res}"
    return None


class Oracle:
    def __init__(self, cube_dir: str):
        import duckdb

        self.cube_dir = cube_dir
        self.con = duckdb.connect()

    def _files(self, level: int, t_idx: tuple[int, ...]) -> list[str]:
        return [f"{self.cube_dir}/l{level}/time_idx={t}/*.parquet" for t in t_idx]

    def tile_values(self, req: dict) -> np.ndarray:
        """Window values of one tile (NaN where no cell or NULL)."""
        level = wl.NUM_LEVELS - 1 - req["z"]
        if req["ds"] == "demo-1w":
            t_idx = wl.WEEK_INPUTS[wl.WEEKS.index(req["time"])]
        else:
            t_idx = (wl.TIMES.index(req["time"]),)
        y0, x0 = req["y"] * wl.TILE, req["x"] * wl.TILE
        var = req["var"]
        rows = self.con.execute(
            f"SELECT lat_idx, lon_idx, avg({var}) FROM read_parquet(?) "
            "WHERE lat_idx >= ? AND lat_idx < ? AND lon_idx >= ? AND lon_idx < ? "
            "GROUP BY lat_idx, lon_idx",
            [self._files(level, t_idx), y0, y0 + wl.TILE, x0, x0 + wl.TILE],
        ).fetchall()
        arr = np.full((wl.TILE, wl.TILE), np.nan)
        for i, j, v in rows:
            if v is not None:
                arr[i - y0, j - x0] = v
        # the cube stores float32; a weekly mean is cast back to float32
        return arr.astype(np.float32).astype(np.float64)

    def check_tile(self, req: dict, body: bytes) -> str | None:
        from xcube_server_spark.functions.colormap import apply_cmap

        got = decode_png(body)
        vals = self.tile_values(req)
        cmap, vmin, vmax = req["style"]
        ok = np.all(got == apply_cmap(vals, vmin, vmax, cmap), axis=2)
        if req["ds"] == "demo-1w":
            # a weekly mean may differ in the last float32 bit with the
            # summation order; accept the neighbouring float32 values
            for d in (-np.inf, np.inf):
                nb = np.nextafter(vals.astype(np.float32), np.float32(d))
                ok |= np.all(got == apply_cmap(nb.astype(np.float64), vmin, vmax, cmap), axis=2)
        bad = int((~ok).sum())
        return None if bad == 0 else f"{bad} pixels differ"

    def ts_expected(self, var: str, rect, t_idx: list[int]) -> dict[int, tuple]:
        i0, i1, j0, j1 = rect
        rows = self.con.execute(
            f"SELECT time_idx, count(*), count({var}), avg({var}) "
            "FROM read_parquet(?, hive_partitioning = true) "
            "WHERE lat_idx BETWEEN ? AND ? AND lon_idx BETWEEN ? AND ? "
            "GROUP BY time_idx",
            [self._files(0, tuple(t_idx)), i0, i1, j0, j1],
        ).fetchall()
        return {int(t): (n, nv, avg) for t, n, nv, avg in rows}

    def check_ts(self, req: dict, body: bytes) -> str | None:
        doc = json.loads(body)
        t_idx = wl.times_in(req["start"], req["end"])
        results = doc["results"]
        groups = ([g["results"] for g in results] if req["cls"] == "fanout"
                  else [results])
        for rect, got in zip(req["rects"], groups):
            exp = self.ts_expected(req["var"], rect, t_idx)
            if len(got) != len(t_idx):
                return f"{len(got)} time steps, expected {len(t_idx)}"
            for t, r in zip(t_idx, got):
                want_date = wl.TIMES[t].replace(" ", "T") + "Z"
                n, nv, avg = exp[t]
                res = r["result"]
                if r["date"] != want_date:
                    return f"date {r['date']} != {want_date}"
                if (res["totalCount"], res["validCount"]) != (n, nv):
                    return f"counts {res} != {(n, nv)}"
                a = res["average"]
                if (a is None) != (avg is None) or (
                    a is not None and not math.isclose(a, avg, rel_tol=1e-9, abs_tol=1e-9)
                ):
                    return f"average {a} != {avg}"
        return None
