"""Seeded request generators for the benchmark's workloads.

Every request is a dict: ``cls`` (request class), ``method``, ``path``,
``body`` (bytes or None) and the parameters the oracle needs. The seed
drives only the traffic; the cube is the fixed demo-scale stand-in that
``server.py`` builds.
"""

from __future__ import annotations

import json
import math
import random
from urllib.parse import quote

# The demo cube (xcube_server_spark.sources.cube_ingest.synth_demo_cube at
# 2000x1000, write_cube with 250-px tiles): 4 LOD levels, 1x1 level-zero
# tiles, latitude descending with lat_idx.
WIDTH, HEIGHT, TILE = 2000, 1000, 250
WEST, SOUTH, EAST, NORTH = 0.0, 50.0, 5.0, 52.5
RES = (EAST - WEST) / WIDTH
NUM_LEVELS = 4
TIMES = (
    "2017-01-16 10:09:22",
    "2017-01-25 09:35:51",
    "2017-01-26 10:50:17",
    "2017-01-28 09:58:11",
    "2017-01-30 10:46:34",
)
# demo-1w: pandas-style Sunday-anchored weekly labels of TIMES, and the
# input time steps averaged into each
WEEKS = ("2017-01-22 00:00:00", "2017-01-29 00:00:00", "2017-02-05 00:00:00")
WEEK_INPUTS = ((0,), (1, 2, 3), (4,))
VARS = ("conc_chl", "conc_tsm", "kd489")
STYLES = {
    "conc_chl": ("plasma", 0.0, 24.0),
    "conc_tsm": ("PuBuGn", 0.0, 100.0),
    "kd489": ("viridis", 0.0, 6.0),
}
OVERRIDES = (("inferno", 0.0, 20.0), ("Greys", 5.0, 30.0), ("viridis", 1.0, 4.0))
DATE_RANGES = (
    ("2017-01-20", "2017-01-29"),
    ("2017-01-26", "2017-02-01"),
    ("2017-01-10", "2017-01-27"),
)


def level_size(level: int) -> tuple[int, int]:
    w, h = WIDTH, HEIGHT
    for _ in range(level):
        w, h = (w + 1) // 2, (h + 1) // 2
    return w, h


def data_tiles(z: int) -> list[tuple[int, int]]:
    """(x, y) of the tiles of zoom ``z`` that hold grid cells."""
    w, h = level_size(NUM_LEVELS - 1 - z)
    return [(x, y) for y in range(math.ceil(h / TILE))
            for x in range(math.ceil(w / TILE))]


def lon_of(j: int) -> float:
    return WEST + (j + 0.5) * RES


def lat_of(i: int) -> float:
    return NORTH - (i + 0.5) * RES


def times_in(start: str | None, end: str | None) -> list[int]:
    """Time steps a ``startDate``/``endDate`` pair keeps (dates at 00:00)."""
    lo = f"{start} 00:00:00" if start else ""
    hi = f"{end} 00:00:00" if end else "9999"
    return [k for k, t in enumerate(TIMES) if lo <= t <= hi]


def tile_request(ds: str, var: str, z: int, x: int, y: int, time: str,
                 style=None, wmts: bool = False) -> dict:
    cmap, vmin, vmax = style or STYLES[var]
    if wmts:
        path = f"/wmts/1.0.0/tile/{ds}/{var}/{z}/{y}/{x}.png?time={quote(time)}"
    else:
        path = f"/datasets/{ds}/vars/{var}/tiles/{z}/{x}/{y}.png?time={quote(time)}"
        if style is not None:
            path += f"&cbar={cmap}&vmin={vmin}&vmax={vmax}"
    return {
        "cls": "ctile" if ds == "demo-1w" else "tile",
        "method": "GET", "path": path, "body": None,
        "ds": ds, "var": var, "z": z, "x": x, "y": y, "time": time,
        "style": [cmap, vmin, vmax],
    }


class TileKeys:
    """Zipf-skewed tile keys: low zooms, recent times and a hot viewport
    are favoured. Shares of requests use the WMTS REST URL or carry
    ``cbar``/``vmin``/``vmax`` overrides. The seed draws the keys; the
    viewport is fixed, so every seed draws from the same distribution and
    the cache sees the same working set.

    The skew puts about three quarters of requests on keys a 4 MB cache
    can hold: the median tile is a hit and the tail a miss, rather than
    the median sitting on the boundary between the two."""

    WMTS_SHARE = 0.2
    OVERRIDE_SHARE = 0.15
    HOT = (0.45, 0.4)  # hot viewport centre, as a share of the extent

    def __init__(self, rng: random.Random):
        self.rng = rng
        hot_lon, hot_lat = self.HOT
        self.keys, weights = [], []
        for z in range(NUM_LEVELS):
            w, h = level_size(NUM_LEVELS - 1 - z)
            tiles = sorted(
                data_tiles(z),
                key=lambda t: math.hypot((t[0] + 0.5) * TILE / w - hot_lon,
                                         (t[1] + 0.5) * TILE / h - hot_lat),
            )
            for rank, (x, y) in enumerate(tiles):
                for t in range(len(TIMES)):
                    for v, var in enumerate(VARS):
                        self.keys.append((var, z, x, y, TIMES[t]))
                        weights.append(
                            (z + 1) ** -0.5
                            * (rank + 1) ** -2.5
                            * (len(TIMES) - t) ** -2.5
                            / (v + 1)
                        )
        total = sum(weights)
        self.cum = []
        acc = 0.0
        for w in weights:
            acc += w / total
            self.cum.append(acc)

    def batch(self, n: int) -> list[dict]:
        """``n`` requests in seeded order whose mix is the same for every
        seed: systematic sampling gives each key its expected count, give
        or take one, and the URL-form and override shares are exact."""
        import bisect

        r = self.rng
        u = r.random()
        picks = [min(bisect.bisect_left(self.cum, (u + i) / n), len(self.keys) - 1)
                 for i in range(n)]
        forms = ["wmts"] * round(n * self.WMTS_SHARE)
        forms += ["override"] * round(n * self.OVERRIDE_SHARE)
        forms += ["plain"] * (n - len(forms))
        r.shuffle(picks)
        r.shuffle(forms)
        out = []
        for k, form in zip(picks, forms):
            var, z, x, y, time = self.keys[k]
            if form == "wmts":
                out.append(tile_request("demo", var, z, x, y, time, wmts=True))
            elif form == "override":
                out.append(tile_request("demo", var, z, x, y, time,
                                        style=r.choice(OVERRIDES)))
            else:
                out.append(tile_request("demo", var, z, x, y, time))
        return out


def _rect(rng: random.Random, frac: float) -> tuple[int, int, int, int]:
    """Cell index range (i0, i1, j0, j1) of a rectangle covering about
    ``frac`` of the extent, aspect 1:2 to 2:1, seeded position."""
    aspect = 2 ** rng.uniform(-1, 1)
    cells = frac * WIDTH * HEIGHT
    w = max(1, min(WIDTH, int(round(math.sqrt(cells * aspect)))))
    h = max(1, min(HEIGHT, int(round(cells / w))))
    j0 = rng.randrange(0, WIDTH - w + 1)
    i0 = rng.randrange(0, HEIGHT - h + 1)
    return i0, i0 + h - 1, j0, j0 + w - 1


def rect_polygon(i0: int, i1: int, j0: int, j1: int) -> dict:
    """Polygon whose edges run through cell centres, so the all-touched
    mask is exactly the index range."""
    w, e = lon_of(j0), lon_of(j1)
    n, s = lat_of(i0), lat_of(i1)
    return {"type": "Polygon",
            "coordinates": [[[w, s], [e, s], [e, n], [w, n], [w, s]]]}


def _dates(rng: random.Random, dated: bool):
    """A seeded ``startDate``/``endDate`` pair (each keeps three of the five
    time steps), or none."""
    return rng.choice(DATE_RANGES) if dated else (None, None)


def _ts_path(var: str, kind: str, start, end, extra: str = "") -> str:
    q = [p for p in (extra,
                     f"startDate={start}" if start else "",
                     f"endDate={end}" if end else "") if p]
    return f"/ts/demo/{var}/{kind}" + ("?" + "&".join(q) if q else "")


def point_request(rng: random.Random, dated: bool = False) -> dict:
    i, j = rng.randrange(HEIGHT), rng.randrange(WIDTH)
    var = rng.choice(VARS)
    start, end = _dates(rng, dated)
    return {"cls": "point", "method": "GET", "body": None,
            "path": _ts_path(var, "point", start, end,
                             f"lon={lon_of(j)!r}&lat={lat_of(i)!r}"),
            "var": var, "rects": [(i, i, j, j)], "start": start, "end": end}


# The analytics session a time-series client walks: (class, rectangle
# share of the extent, with startDate/endDate). It holds every class and
# rectangles of 1% and (twice) 30% of the extent; two of its seven
# requests carry dates. It is the same for every seed (the seed draws
# positions, variables, date ranges and computed-tile keys), so runs differ
# in their inputs and not in their mix of costs. The two 30% rectangles
# (a ~600,000-cell mask each) are its slowest requests, so the session's
# p90 sits on them. One session takes 10-17 s on a 4-core host.
TS_CYCLE = (
    ("point", None, True), ("rect", 0.3, False), ("ctile", None, False),
    ("rect", 0.01, False), ("fanout", None, True), ("nonrect", None, False),
    ("rect", 0.3, False),
)


def rect_request(rng: random.Random, frac: float, dated: bool = False) -> dict:
    r = _rect(rng, frac)
    var = rng.choice(VARS)
    start, end = _dates(rng, dated)
    return {"cls": "rect", "method": "POST",
            "path": _ts_path(var, "geometry", start, end),
            "body": json.dumps(rect_polygon(*r)).encode(),
            "var": var, "rects": [r], "start": start, "end": end}


def nonrect_request(rng: random.Random, dated: bool = False) -> dict:
    """A seeded diamond of about 3% of the extent: slanted edges run the
    rasterizer's edge walk."""
    cx, cy = rng.uniform(1.0, 4.0), rng.uniform(50.6, 51.9)
    rx, ry = rng.uniform(0.5, 0.6), rng.uniform(0.3, 0.35)
    ring = [[cx, cy - ry], [cx + rx, cy], [cx, cy + ry], [cx - rx, cy],
            [cx, cy - ry]]
    var = rng.choice(VARS)
    start, end = _dates(rng, dated)
    return {"cls": "nonrect", "method": "POST",
            "path": _ts_path(var, "geometry", start, end),
            "body": json.dumps({"type": "Polygon", "coordinates": [ring]}).encode(),
            "var": var, "rects": [], "start": start, "end": end}


def fanout_request(rng: random.Random, dated: bool = False, n: int = 5) -> dict:
    rects = [_rect(rng, rng.uniform(0.002, 0.02)) for _ in range(n)]
    var = rng.choice(VARS)
    start, end = _dates(rng, dated)
    body = {"type": "GeometryCollection",
            "geometries": [rect_polygon(*r) for r in rects]}
    return {"cls": "fanout", "method": "POST",
            "path": _ts_path(var, "geometries", start, end),
            "body": json.dumps(body).encode(),
            "var": var, "rects": rects, "start": start, "end": end}


class ComputedTiles:
    """``demo-1w`` tiles, each key requested once, so every one misses the
    cache and renders on the Spark path. All are full-resolution tiles of
    the week that averages three input steps, so each costs the same work;
    the seed draws the variable and the tile."""

    def __init__(self, rng: random.Random):
        z = NUM_LEVELS - 1
        self.keys = [(var, z, x, y, WEEKS[1]) for var in VARS
                     for x, y in data_tiles(z)]
        rng.shuffle(self.keys)

    def next(self) -> dict:
        var, z, x, y, week = self.keys.pop()  # list.pop is atomic
        return tile_request("demo-1w", var, z, x, y, week)


def warmup_requests(classes: tuple[str, ...]) -> list[dict]:
    """One request of each of ``classes`` on keys the measured traffic
    never uses (a value range no workload sends), run during set-up: it
    pays the first-use costs a long-running server pays once. For
    ``ctile`` that includes the ``demo-1w`` time axis, and the request is
    the import preflight of Spark's Python workers, where it renders."""
    rng = random.Random(0)
    warm_style = ("viridis", -1.0, 99.0)
    make = {
        "ctile": lambda: [tile_request("demo-1w", "kd489", 3, 7, 3, WEEKS[2],
                                       style=warm_style)],
        "tile": lambda: [tile_request("demo", var, 3, 0, 0, TIMES[0], style=warm_style)
                         for var in VARS],
        "point": lambda: [point_request(rng)],
        "rect": lambda: [rect_request(rng, 0.01)],
        "nonrect": lambda: [nonrect_request(rng)],
        "fanout": lambda: [fanout_request(rng)],
    }
    return [req for cls in classes for req in make[cls]()]
