"""HTTP service layer: the reference's REST surface over the Spark engine
(SURVEY.md §3; route table parity with ``xcube_server/app.py:38-104``).

Routes (reference handler in parens):

- ``GET /``                                           (InfoHandler)
- ``GET /wmts/1.0.0/WMTSCapabilities.xml`` · ``GET /wmts/kvp?...``
- ``GET /wmts/1.0.0/tile/{ds}/{var}/{z}/{y}/{x}.png`` (REST GetTile, z/y/x order)
- ``GET /datasets[?details=1]``                       (GetDatasetsHandler)
- ``GET /datasets/{ds}[?tiles=client]``               (GetDatasetHandler)
- ``GET /datasets/{ds}/coords/{dim}``                 (GetDatasetCoordsHandler)
- ``GET /datasets/{ds}/vars/{var}/tiles/{z}/{x}/{y}.png``  (GetDatasetVarTileHandler)
- ``GET /datasets/{ds}/vars/{var}/tilegrid``          (tile-grid JSON)
- ``GET /datasets/{ds}/vars/{var}/legend.png``        (GetDatasetVarLegendHandler)
- ``GET /ne2/tilegrid`` · ``GET /ne2/tiles/{z}/{x}/{y}.jpg``  (S8 static tiles)
- ``GET /colorbars`` · ``GET /colorbars.html``
- ``GET /ts``                                         (GetTimeSeriesInfoHandler)
- ``GET /ts/{ds}/{var}/point?lon=&lat=[&startDate=&endDate=]``
- ``POST /ts/{ds}/{var}/geometry`` (GeoJSON geometry body)
- ``POST /ts/{ds}/{var}/geometries`` (GeometryCollection body, one-job fan-out)
- ``POST /ts/{ds}/{var}/places`` (FeatureCollection body, same fan-out)
- ``GET /places``                                     (place-group inventory)
- ``GET /places/{collection}[?bbox=w,s,e,n][&expr=...]``
- ``GET /places/{collection}/{ds}``                   (dataset-bounds filter)

Threading model: the reference moves work off the event loop into executor
threads (``xcube_server/handlers.py:165`` etc.); here ``ThreadingHTTPServer``
gives one thread per request and Spark's scheduler multiplexes jobs — set
``spark.scheduler.mode=FAIR`` for a production deployment so tile latency
isn't starved by long analytics queries.
"""

from __future__ import annotations

import json
import threading
from functools import partialmethod
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from ..cube.catalog import CubeCatalog
from ..cube.legend import render_legend
from ..cube.metadata import (
    colorbars_html,
    get_coordinates,
    get_dataset,
    get_datasets,
    get_tile_grid,
    get_time_series_info,
)
from ..cube.places import find_places
from ..cube.reqparams import parse_query_geometry, to_float, to_int
from ..cube.tiles import TileService
from ..cube.timeseries import (
    time_series_for_geometry,
    time_series_for_geometry_collection,
    time_series_for_point,
)
from ..functions.colormap import list_cmaps
from ..sources.static_tiles import StaticTileSource
from .wmts import get_wmts_capabilities_xml, parse_kvp


def _ts_rows(rows) -> dict:
    """Reference TS response shape (``controllers/time_series.py:135-145``)
    of collected (date, total_count, valid_count, average) rows."""
    return {
        "results": [
            {
                "date": r["date"],
                "result": {
                    "totalCount": r["total_count"],
                    "validCount": r["valid_count"],
                    "average": r["average"],
                },
            }
            for r in rows
        ]
    }


def _read_json(h, empty: bytes = b"{}"):
    """The request's JSON body; ``empty`` stands in for a missing one."""
    length = int(h.headers.get("Content-Length", 0))
    return json.loads(h.rfile.read(length) or empty)


class CubeServer:
    """Wraps a catalog + tile service in a threading HTTP server."""

    def __init__(
        self,
        catalog: CubeCatalog,
        places=None,
        host="127.0.0.1",
        port=0,
        static_tiles_dir: str | None = None,
    ):
        self.catalog = catalog
        self.places = places
        self.tiles = TileService(catalog)
        # NE2-style background pyramid (S8); missing tiles render transparent
        self.static_tiles = StaticTileSource(static_tiles_dir or "")
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, code: int, body: bytes, ctype: str) -> None:
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _json(self, obj, code: int = 200) -> None:
                self._send(code, json.dumps(obj).encode(), "application/json")

            def _error(self, code: int, msg: str) -> None:
                self._json({"error": {"status": code, "message": msg}}, code)

            def _dispatch(self, method: str) -> None:
                try:
                    outer._route(self, method)
                except KeyError as e:
                    self._error(404, f"not found: {e}")
                except ValueError as e:
                    self._error(400, str(e))
                except Exception as e:  # pragma: no cover
                    self._error(500, f"{type(e).__name__}: {e}")

            do_GET = partialmethod(_dispatch, "GET")
            do_POST = partialmethod(_dispatch, "POST")

        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def _live_places(self):
        """Places passed at construction, else the catalog's config-loaded
        (hot-reloadable) PlaceGroups union."""
        if self.places is not None:
            return self.places
        return getattr(self.catalog, "places", None)

    # -- routing -------------------------------------------------------------

    @staticmethod
    def _pool_for(parts: list[str]) -> str:
        """Scheduler pool per route: the latency-critical tile/legend paths
        share the 'tiles' pool; Spark-heavy endpoints go to 'analytics'.
        With spark.scheduler.mode=FAIR the two pools get equal task-slot
        shares, so a long analytics query cannot starve tile serving."""
        if not parts:
            return "tiles"
        if (
            parts[0] in ("wmts", "colorbars", "colorbars.html")
            or "tiles" in parts
            or parts[-1] == "legend.png"
        ):
            return "tiles"
        return "analytics"

    def _route(self, h, method: str) -> None:
        url = urlparse(h.path)
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        parts = [p for p in url.path.split("/") if p]
        # request threads are per-request, so the thread-local pool property
        # never leaks across requests
        self.catalog.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", self._pool_for(parts)
        )

        if method == "GET" and not parts:
            from .. import __version__

            h._json(
                {
                    "name": "xcube-server-spark",
                    "version": __version__,
                    "datasets": len(self.catalog.datasets),
                }
            )
        elif method == "GET" and parts[:1] == ["wmts"]:
            # /wmts/1.0.0/WMTSCapabilities.xml REST or /wmts/kvp?... KVP
            # (case-insensitive keys, xcube_server/handlers.py:57-117)
            base = f"http://{h.headers.get('Host', 'localhost')}"
            if parts == ["wmts", "kvp"]:
                kvp = parse_kvp(q)
                if kvp.get("service", "WMTS").upper() != "WMTS":
                    raise ValueError("Service must be WMTS")
                req = kvp.get("request", "").lower()
                if req == "getcapabilities":
                    xml = get_wmts_capabilities_xml(self.catalog, base)
                    h._send(200, xml.encode(), "application/xml")
                elif req == "gettile":
                    layer = kvp["layer"]
                    ds, var = layer.split(".", 1)
                    png = self.tiles.get_tile(
                        ds, var,
                        to_int("tilematrix", kvp["tilematrix"]),
                        to_int("tilecol", kvp["tilecol"]),
                        to_int("tilerow", kvp["tilerow"]),
                        time=kvp.get("time"),
                    )
                    h._send(200, png, "image/png")
                elif req == "getfeatureinfo":
                    # IMPLEMENTED where the reference raises 'not yet
                    # implemented' (xcube_server/handlers.py:103-104)
                    layer = kvp["layer"]
                    ds, var = layer.split(".", 1)
                    info = self.tiles.get_feature_info(
                        ds, var,
                        to_int("tilematrix", kvp["tilematrix"]),
                        to_int("tilecol", kvp["tilecol"]),
                        to_int("tilerow", kvp["tilerow"]),
                        to_int("i", kvp["i"]),
                        to_int("j", kvp["j"]),
                        time=kvp.get("time"),
                    )
                    h._json(info)
                else:
                    raise ValueError(f"unsupported WMTS request {req!r}")
            elif (
                len(parts) == 8
                and parts[1] == "1.0.0"
                and parts[2] == "tile"
            ):
                # /wmts/1.0.0/tile/{ds}/{var}/{z}/{y}/{x}.png — note the
                # REST order z/y/x (xcube_server/app.py:48)
                ds, var = parts[3], parts[4]
                z = to_int("z", parts[5])
                y = to_int("y", parts[6])
                x = to_int("x", parts[7].removesuffix(".png"))
                png = self.tiles.get_tile(ds, var, z, x, y, time=q.get("time"))
                h._send(200, png, "image/png")
            else:
                xml = get_wmts_capabilities_xml(self.catalog, base)
                h._send(200, xml.encode(), "application/xml")
        elif method == "GET" and parts == ["datasets"]:
            h._json(get_datasets(self.catalog, details=q.get("details") == "1"))
        elif method == "GET" and len(parts) == 2 and parts[0] == "datasets":
            h._json(
                get_dataset(
                    self.catalog,
                    parts[1],
                    client=q.get("tiles"),
                    base_url=f"http://{h.headers.get('Host', 'localhost')}",
                )
            )
        elif method == "GET" and parts == ["colorbars.html"]:
            h._send(200, colorbars_html().encode(), "text/html")
        elif method == "GET" and parts == ["ne2", "tilegrid"]:
            # reference: tiles=ol4 only; anything else is a 400
            # (controllers/tiles.py:213-219; handlers.py:214-220)
            client = q.get("tiles", "ol4")
            if client != "ol4":
                raise ValueError(f"Unknown tile client {client!r}")
            st = self.static_tiles
            nlev = st.num_levels
            res0 = 360.0 / (st.num_level_zero_tiles_x * st.tile_w)
            h._json(
                {
                    "url": f"http://{h.headers.get('Host', 'localhost')}"
                    "/ne2/tiles/{z}/{x}/{y}.jpg",
                    "projection": "EPSG:4326",
                    "minZoom": 0,
                    "maxZoom": nlev - 1,
                    "tileGrid": {
                        "extent": [-180.0, -90.0, 180.0, 90.0],
                        "origin": [-180.0, 90.0],
                        "resolutions": [
                            res0 / (1 << z) for z in range(nlev)
                        ],
                        "tileSize": [st.tile_w, st.tile_h],
                    },
                }
            )
        elif (
            method == "GET"
            and len(parts) == 5
            and parts[0] == "ne2"
            and parts[1] == "tiles"
        ):
            z = to_int("z", parts[2])
            x = to_int("x", parts[3])
            y = to_int("y", parts[4].split(".")[0])
            body, ctype = self.static_tiles.get_tile(z, x, y)
            h._send(200, body, ctype)
        elif method == "GET" and len(parts) == 4 and parts[0] == "datasets" and parts[2] == "coords":
            h._json(get_coordinates(self.catalog, parts[1], parts[3]))
        elif (
            method == "GET"
            and len(parts) == 8
            and parts[0] == "datasets"
            and parts[2] == "vars"
            and parts[4] == "tiles"
        ):
            ds, var = parts[1], parts[3]
            z = to_int("z", parts[5])
            x = to_int("x", parts[6])
            y = to_int("y", parts[7].removesuffix(".png"))
            png = self.tiles.get_tile(
                ds,
                var,
                z,
                x,
                y,
                time=q.get("time"),
                cmap=q.get("cbar"),
                vmin=to_float("vmin", q["vmin"]) if "vmin" in q else None,
                vmax=to_float("vmax", q["vmax"]) if "vmax" in q else None,
            )
            h._send(200, png, "image/png")
        elif (
            method == "GET"
            and len(parts) == 5
            and parts[0] == "datasets"
            and parts[2] == "vars"
            and parts[4] == "tilegrid"
        ):
            h._json(
                get_tile_grid(
                    self.catalog,
                    parts[1],
                    client=q.get("client"),
                    base_url=f"http://{h.headers.get('Host', 'localhost')}",
                    var=parts[3],
                )
            )
        elif (
            method == "GET"
            and len(parts) == 5
            and parts[0] == "datasets"
            and parts[2] == "vars"
            and parts[4] == "legend.png"
        ):
            ds, var = parts[1], parts[3]
            st = self.catalog.datasets[ds].styles.get(var)
            cmap = q.get("cbar") or (st.color_bar if st else "viridis")
            vmin = to_float("vmin", q["vmin"]) if "vmin" in q else (st.value_range[0] if st else 0.0)
            vmax = to_float("vmax", q["vmax"]) if "vmax" in q else (st.value_range[1] if st else 1.0)
            png, _ = render_legend(cmap, vmin, vmax)
            h._send(200, png, "image/png")
        elif method == "GET" and parts == ["colorbars"]:
            h._json(list_cmaps())
        elif method == "GET" and parts == ["ts"]:
            h._json(get_time_series_info(self.catalog))
        elif method == "POST" and len(parts) == 4 and parts[0] == "ts" and parts[3] in ("geometries", "places"):
            # geometry-collection / feature-collection fan-out (U2): one job
            body = _read_json(h)
            if parts[3] == "geometries":
                geoms = body.get("geometries", [])
            else:
                geoms = [
                    f["geometry"] for f in body.get("features", []) if f.get("geometry")
                ]
            df = time_series_for_geometry_collection(
                self.catalog,
                parts[1],
                parts[2],
                geometries=geoms,
                start=q.get("startDate"),
                end=q.get("endDate"),
            )
            by_geom = [[] for _ in geoms]
            for r in [] if df is None else df.collect():
                by_geom[r["geometry_id"]].append(r)
            h._json({"results": [_ts_rows(rows) for rows in by_geom]})
        elif method == "GET" and len(parts) == 4 and parts[0] == "ts" and parts[3] == "point":
            df = time_series_for_point(
                self.catalog,
                parts[1],
                parts[2],
                lon=to_float("lon", q["lon"]),
                lat=to_float("lat", q["lat"]),
                start=q.get("startDate"),
                end=q.get("endDate"),
            )
            h._json(_ts_rows([] if df is None else df.collect()))
        elif method == "POST" and len(parts) == 4 and parts[0] == "ts" and parts[3] == "geometry":
            geom = parse_query_geometry(body=_read_json(h))
            df = time_series_for_geometry(
                self.catalog,
                parts[1],
                parts[2],
                geometry=geom,
                start=q.get("startDate"),
                end=q.get("endDate"),
            )
            h._json(_ts_rows([] if df is None else df.collect()))
        elif method == "GET" and parts == ["places"]:
            # place-group inventory (xcube_server/context.py:297-303)
            if self._live_places() is None:
                h._json({"placeGroups": []})
                return
            from pyspark.sql import functions as F

            titles = getattr(self.catalog, "place_titles", {})
            groups = [
                {
                    "id": r["collection"],
                    "title": titles.get(r["collection"], r["collection"]),
                    "featureCount": r["n"],
                }
                for r in self._live_places().groupBy("collection")
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy("collection")
                .collect()
            ]
            h._json({"placeGroups": groups})
        elif method in ("GET", "POST") and len(parts) in (2, 3) and parts[0] == "places":
            if self._live_places() is None:
                raise KeyError("no place groups configured")
            pl = self._live_places()
            if parts[1] != "all":
                from pyspark.sql import functions as F

                pl = pl.filter(F.col("collection") == parts[1])
            if len(parts) == 3:
                # /places/{collection}/{ds_id}: restrict to the dataset's
                # bounds (FindDatasetPlacesHandler)
                meta = self.catalog.datasets[parts[2]]
                west, south, east, north = meta.grid.extent
                geom = {
                    "type": "Polygon",
                    "coordinates": [[
                        [west, south], [east, south], [east, north],
                        [west, north], [west, south],
                    ]],
                }
            elif method == "POST":
                # FindPlacesHandler.post: query geometry as a GeoJSON body
                # (geometry, Feature or FeatureCollection —
                # xcube_server/handlers.py:273-283)
                geom = parse_query_geometry(body=_read_json(h, b"null"))
            else:
                if q.get("geom") and q.get("bbox"):
                    raise ValueError(
                        'Only one of "geom" and "bbox" may be given'
                    )
                geom = parse_query_geometry(bbox=q.get("bbox"), geom=q.get("geom"))
            # 'query' is the reference's parameter name
            # (handlers.py:260); 'expr' kept for compatibility
            out = find_places(
                pl, geometry=geom,
                query_expr=q.get("query") or q.get("expr"),
            )
            feats = [
                {
                    "type": "Feature",
                    "id": r["feature_id"],
                    "geometry": json.loads(r["geometry"]),
                    "properties": dict(r["properties"]),
                }
                for r in out.collect()
            ]
            h._json({"type": "FeatureCollection", "features": feats})
        else:
            raise KeyError(url.path)

    # -- lifecycle -----------------------------------------------------------

    def start(self) -> int:
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self.port

    def stop(self) -> None:
        self.httpd.shutdown()
        if self._thread:
            self._thread.join(timeout=5)
