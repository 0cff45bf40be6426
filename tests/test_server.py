"""HTTP service-layer tests: drive the reference's REST surface end-to-end
against a live server (route parity with ``xcube_server/app.py:38-104``)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from xcube_server_spark.cube.catalog import CubeCatalog, StyleMeta
from xcube_server_spark.cube.places import load_place_group
from xcube_server_spark.server.app import CubeServer
from xcube_server_spark.sources.cube_ingest import synth_demo_cube, write_cube
from xcube_server_spark.sources.png import decode_rgba_png


@pytest.fixture(scope="module")
def live(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("srv") / "demo")
    cube, grid = synth_demo_cube(spark, width=64, height=32)
    _, tg = write_cube(cube, grid, base, tile_size=32)
    cat = CubeCatalog(spark)
    cat.register_written_cube(
        "demo", base, grid, tg, ["conc_chl", "conc_tsm", "kd489"],
        styles={"conc_tsm": StyleMeta("plasma", (0.0, 100.0))},
    )
    d = tmp_path_factory.mktemp("geo")
    (d / "pts.geojson").write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"Name": "inside"},
             "geometry": {"type": "Point", "coordinates": [2.0, 51.5]}},
            {"type": "Feature", "properties": {"Name": "outside"},
             "geometry": {"type": "Point", "coordinates": [-150.0, -30.0]}},
        ],
    }))
    places = load_place_group(spark, "pts", str(d / "pts.geojson"))
    srv = CubeServer(cat, places=places)
    srv.start()
    yield srv
    srv.stop()


@pytest.fixture(scope="module")
def server(live):
    return f"http://127.0.0.1:{live.port}"


def _get(url: str):
    try:
        with urllib.request.urlopen(url, timeout=60) as r:
            return r.status, r.headers.get("Content-Type"), r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.headers.get("Content-Type"), e.read()


def _get_json(url: str):
    status, _, body = _get(url)
    return status, json.loads(body)


def test_datasets_endpoint(server):
    status, doc = _get_json(f"{server}/datasets?details=1")
    assert status == 200
    ds = doc["datasets"][0]
    assert ds["id"] == "demo" and len(ds["variables"]) == 3
    # details carry full per-dimension coordinate dumps (reference
    # controllers/catalogue.py:87-88; pinned by test_dataset_with_details)
    dims = {d["name"]: d for d in ds["dimensions"]}
    assert set(dims) == {"time", "lat", "lon"}
    assert dims["time"]["size"] == 5
    assert dims["lat"]["size"] == len(dims["lat"]["coordinates"])


def test_coords_endpoint(server):
    status, doc = _get_json(f"{server}/datasets/demo/coords/time")
    assert status == 200 and doc["size"] == 5
    assert doc["coordinates"][0] == "2017-01-16T10:09:22Z"


def test_tile_endpoint_and_style_override(server):
    status, ctype, body = _get(
        f"{server}/datasets/demo/vars/conc_tsm/tiles/0/0/0.png?time=current"
    )
    assert status == 200 and ctype == "image/png"
    rgba = decode_rgba_png(body)
    assert rgba.shape[2] == 4
    # style override via cbar/vmin/vmax (controllers/tiles.py:28-55)
    s2, _, body2 = _get(
        f"{server}/datasets/demo/vars/conc_tsm/tiles/0/0/0.png"
        "?time=current&cbar=gray&vmin=0&vmax=50"
    )
    assert s2 == 200 and body2 != body


def test_legend_and_colorbars(server):
    status, ctype, body = _get(f"{server}/datasets/demo/vars/conc_tsm/legend.png")
    assert status == 200 and ctype == "image/png"
    status, doc = _get_json(f"{server}/colorbars")
    names = [n for _, _, entries in doc for n, _ in entries]
    assert "viridis" in names and "viridis_alpha" in names
    # round-2 broadened registry: matplotlib + ColorBrewer + cmocean names
    # the reference exposes (im/cmaps.py:46-92), each with an _alpha variant
    for wanted in ("magma", "inferno", "RdBu", "Spectral", "thermal",
                   "haline", "Set1", "Blues"):
        assert wanted in names, wanted
        assert f"{wanted}_alpha" in names, wanted
    cats = [c for c, _, _ in doc]
    assert "Ocean" in cats and "Qualitative" in cats


def test_point_timeseries_endpoint(server):
    status, doc = _get_json(
        f"{server}/ts/demo/conc_tsm/point?lon=2.1&lat=51.4"
        "&startDate=2017-01-15&endDate=2017-01-29"
    )
    assert status == 200
    rows = doc["results"]
    assert len(rows) == 4
    assert rows[0]["result"]["totalCount"] == 1
    # all-NaN steps inside range -> validCount 0, average None
    assert rows[2]["result"]["validCount"] == 0
    assert rows[2]["result"]["average"] is None


def test_point_outside_returns_empty(server):
    status, doc = _get_json(f"{server}/ts/demo/conc_tsm/point?lon=-150&lat=-30")
    assert status == 200 and doc == {"results": []}


def test_geometry_timeseries_endpoint(server):
    body = json.dumps({
        "type": "Polygon",
        "coordinates": [[[1.0, 51.0], [2.0, 51.0], [2.0, 52.0], [1.0, 52.0], [1.0, 51.0]]],
    }).encode()
    req = urllib.request.Request(
        f"{server}/ts/demo/conc_tsm/geometry", data=body, method="POST",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        doc = json.loads(r.read())
    assert len(doc["results"]) == 5
    assert doc["results"][0]["result"]["totalCount"] > 0


def test_places_endpoint_with_bbox_and_expr(server):
    status, doc = _get_json(f"{server}/places/pts?bbox=0,50,5,52.5")
    assert status == 200
    names = [f["properties"]["Name"] for f in doc["features"]]
    assert names == ["inside"]
    status, doc = _get_json(
        f"{server}/places/all?expr=properties%5B%27Name%27%5D%20%3D%20%27outside%27"
    )
    assert [f["properties"]["Name"] for f in doc["features"]] == ["outside"]


def test_errors(server):
    status, doc = _get_json(f"{server}/nope")
    assert status == 404
    # out-of-range zoom -> clean 400, not a scan of a nonexistent level
    status, _, body = _get(f"{server}/datasets/demo/vars/kd489/tiles/9/0/0.png")
    assert status == 400 and b"out of range" in body
    status, _, body = _get(f"{server}/datasets/demo/vars/conc_tsm/tiles/0/0/zzz.png")
    assert status == 400
    assert b"must be an integer" in body


def test_wmts_capabilities_and_kvp_tile(server):
    status, ctype, body = _get(f"{server}/wmts/1.0.0/WMTSCapabilities.xml")
    assert status == 200 and "xml" in ctype
    text = body.decode()
    assert "demo.conc_tsm" in text and "TileMatrixSet" in text
    assert "2017-01-16T10:09:22Z" in text  # time dimension values
    # structural parity with the reference golden capabilities
    # (test/res/test/WMTSCapabilities.xml): operations metadata with
    # KVP+REST DCPs, Themes tree, ServiceMetadataURL, identification
    # boilerplate
    for frag in (
        "OperationsMetadata", 'name="GetCapabilities"', 'name="GetTile"',
        'name="GetFeatureInfo"', ">KVP<", ">REST<",
        "Themes", "LayerRef", "ServiceMetadataURL",
        "AccessConstraints", "Keyword",
    ):
        assert frag in text, frag
    # KVP, case-insensitive keys (xcube_server/handlers.py:108-117)
    status, _, _ = _get(
        f"{server}/wmts/kvp?SERVICE=WMTS&ReQuEsT=GetCapabilities"
    )
    assert status == 200
    status, ctype, png = _get(
        f"{server}/wmts/kvp?Service=WMTS&Request=GetTile&Layer=demo.conc_tsm"
        "&TileMatrix=0&TileCol=0&TileRow=0&Time=current"
    )
    assert status == 200 and ctype == "image/png"
    assert png[:8] == b"\x89PNG\r\n\x1a\n"


def test_concurrent_tile_requests(server):
    """8 parallel tile fetches through the threading server: all succeed,
    byte-identical per coordinate (cache + Spark scheduler under concurrent
    load)."""
    import concurrent.futures

    coords = [(1, x, y) for x in range(2) for y in range(1)] * 4
    urls = [
        f"{server}/datasets/demo/vars/kd489/tiles/{z}/{x}/{y}.png?time=current"
        for z, x, y in coords
    ]
    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(_get, urls))
    assert all(s == 200 for s, _, _ in results)
    by_url = {}
    for url, (_, _, body) in zip(urls, results):
        by_url.setdefault(url, set()).add(body)
    assert all(len(v) == 1 for v in by_url.values())  # deterministic bytes


def test_cli_serve_end_to_end(spark, tmp_path):
    """The real user entrypoint: `python -m xcube_server_spark.cli serve -c
    config.yml` in a subprocess — config load, server up, endpoints answer."""
    import os
    import subprocess
    import sys
    import time

    from xcube_server_spark.cube.catalog import CubeCatalog
    from xcube_server_spark.sources.cube_ingest import synth_demo_cube, write_cube

    base = str(tmp_path / "cube")
    cube, grid = synth_demo_cube(spark, width=32, height=16)
    _, tg = write_cube(cube, grid, base, tile_size=16)
    cat = CubeCatalog(spark)
    meta = cat.register_written_cube("demo", base, grid, tg, ["conc_chl", "conc_tsm", "kd489"])
    cat.save_meta(meta)
    (tmp_path / "places").mkdir()
    (tmp_path / "places" / "towns.geojson").write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"Name": "t1"},
             "geometry": {"type": "Point", "coordinates": [1.0, 51.0]}},
        ],
    }))
    cfg = tmp_path / "config.yml"
    cfg.write_text(
        f"Datasets:\n  - Identifier: demo\n    Title: CLI Demo\n    Path: {base}\n"
        "PlaceGroups:\n  - Identifier: towns\n    Title: Towns\n"
        "    Path: places/towns.geojson\n"
    )

    port = 18765
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.Popen(
        [sys.executable, "-m", "xcube_server_spark.cli", "serve",
         "-c", str(cfg), "-p", str(port)],
        cwd="/root/repo", env=env,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    try:
        deadline = time.time() + 120
        doc = None
        while time.time() < deadline:
            try:
                status, doc = _get_json(f"http://127.0.0.1:{port}/datasets")
                break
            except OSError:
                time.sleep(2)
                if proc.poll() is not None:
                    raise AssertionError("server process exited early")
        assert doc is not None, "server did not come up in 120s"
        assert doc["datasets"][0]["title"] == "CLI Demo"
        s2, ctype, png = _get(
            f"http://127.0.0.1:{port}/datasets/demo/vars/kd489/tiles/0/0/0.png"
        )
        assert s2 == 200 and png[:8] == b"\x89PNG\r\n\x1a\n"
        # config-loaded PlaceGroups are served (xcube_server/context.py:343-399)
        s3, groups = _get_json(f"http://127.0.0.1:{port}/places")
        assert s3 == 200 and groups["placeGroups"] == [
            # title = configured Title, not the id echo (ADVICE r01)
            {"id": "towns", "title": "Towns", "featureCount": 1}
        ]
        s4, fc = _get_json(f"http://127.0.0.1:{port}/places/towns")
        assert s4 == 200 and fc["features"][0]["properties"]["Name"] == "t1"
    finally:
        proc.terminate()
        proc.wait(timeout=15)


def test_root_and_client_tilegrids(server):
    status, doc = _get_json(f"{server}/")
    assert status == 200 and doc["name"] == "xcube-server-spark"
    status, ol4 = _get_json(f"{server}/datasets/demo/vars/conc_tsm/tilegrid?client=ol4")
    assert status == 200
    assert ol4["projection"] == "EPSG:4326"
    assert len(ol4["tileGrid"]["resolutions"]) == 2
    assert ol4["tileGrid"]["origin"][1] == 52.5  # north
    assert "{z}" in ol4["url"] and "conc_tsm" in ol4["url"]
    status, ces = _get_json(f"{server}/datasets/demo/vars/conc_tsm/tilegrid?client=cesium")
    assert ces["tilingScheme"]["numberOfLevelZeroTilesX"] >= 1
    assert ces["rectangle"]["north"] == 52.5


def _post_json(url: str, obj):
    req = urllib.request.Request(
        url, data=json.dumps(obj).encode(), method="POST",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.status, json.loads(r.read())


def test_single_dataset_endpoint(server):
    status, doc = _get_json(f"{server}/datasets/demo")
    assert status == 200 and doc["id"] == "demo"
    assert {v["name"] for v in doc["variables"]} == {"conc_chl", "conc_tsm", "kd489"}
    assert all(v["dims"] == ["time", "lat", "lon"] for v in doc["variables"])
    status, doc = _get_json(f"{server}/datasets/demo?tiles=ol4")
    assert status == 200
    assert all("tileSourceOptions" in v for v in doc["variables"])
    assert "{z}" in doc["variables"][0]["tileSourceOptions"]["url"]


def test_colorbars_html(server):
    status, ctype, body = _get(f"{server}/colorbars.html")
    assert status == 200 and ctype.startswith("text/html")
    assert b"data:image/png;base64" in body


def test_ne2_static_tiles(server):
    status, doc = _get_json(f"{server}/ne2/tilegrid")
    # reference ol4 shape (test_tiles.py::test_get_ne2_tile_grid):
    # 3 levels, 2x1 256px level-zero tiles -> resolutions 0.703125...
    assert doc["minZoom"] == 0 and doc["maxZoom"] == 2
    assert doc["tileGrid"]["resolutions"] == [0.703125, 0.3515625, 0.17578125]
    assert doc["tileGrid"]["origin"] == [-180.0, 90.0]
    # unknown tile client -> 400
    import urllib.error as _ue
    import urllib.request as _ur

    try:
        _ur.urlopen(f"{server}/ne2/tilegrid?tiles=cesium", timeout=60)
        raise AssertionError("expected 400")
    except _ue.HTTPError as e:
        assert e.code == 400 and "Unknown tile client" in e.read().decode()
    assert status == 200
    assert doc["tileGrid"]["extent"] == [-180.0, -90.0, 180.0, 90.0]
    status, ctype, body = _get(f"{server}/ne2/tiles/0/0/0.jpg")
    # no pyramid configured -> transparent PNG fallback, never a 404
    assert status == 200 and ctype == "image/png"


def test_ts_info_endpoint(server):
    status, doc = _get_json(f"{server}/ts")
    names = {l["name"] for l in doc["layers"]}
    assert status == 200 and "demo.conc_chl" in names
    layer = next(l for l in doc["layers"] if l["name"] == "demo.conc_chl")
    assert layer["dates"] and layer["bounds"]["xmax"] > layer["bounds"]["xmin"]


def test_ts_geometries_fanout_endpoint(server):
    body = {
        "type": "GeometryCollection",
        "geometries": [
            {"type": "Point", "coordinates": [2.0, 51.5]},
            {"type": "Polygon", "coordinates": [[
                [1.0, 51.0], [3.0, 51.0], [3.0, 52.0], [1.0, 52.0], [1.0, 51.0],
            ]]},
        ],
    }
    status, doc = _post_json(f"{server}/ts/demo/conc_chl/geometries", body)
    assert status == 200 and len(doc["results"]) == 2
    point_res, poly_res = doc["results"]
    assert all(r["result"]["totalCount"] == 1 for r in point_res["results"])
    assert all(r["result"]["totalCount"] > 1 for r in poly_res["results"])


def test_ts_geometries_fanout_outside_grid(server):
    """Geometries that all miss the grid, or none at all, get one empty
    series each (P7 per probe)."""
    box = [[-150.0, -30.0], [-149.0, -30.0], [-149.0, -29.0], [-150.0, -29.0], [-150.0, -30.0]]
    body = {
        "type": "GeometryCollection",
        "geometries": [
            {"type": "Polygon", "coordinates": [box]},
            {"type": "Polygon", "coordinates": [[[x + 200.0, y] for x, y in box]]},
        ],
    }
    status, doc = _post_json(f"{server}/ts/demo/conc_chl/geometries", body)
    assert status == 200 and doc == {"results": [{"results": []}, {"results": []}]}
    status, doc = _post_json(
        f"{server}/ts/demo/conc_chl/geometries",
        {"type": "GeometryCollection", "geometries": []},
    )
    assert status == 200 and doc == {"results": []}


def test_ts_places_fanout_endpoint(server):
    body = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {},
             "geometry": {"type": "Point", "coordinates": [2.0, 51.5]}},
        ],
    }
    status, doc = _post_json(f"{server}/ts/demo/conc_chl/places", body)
    assert status == 200 and len(doc["results"]) == 1
    assert doc["results"][0]["results"]


def test_place_groups_endpoint(server):
    status, doc = _get_json(f"{server}/places")
    assert status == 200
    groups = {g["id"]: g["featureCount"] for g in doc["placeGroups"]}
    assert groups == {"pts": 2}


def test_dataset_places_endpoint(server):
    status, doc = _get_json(f"{server}/places/pts/demo")
    assert status == 200
    names = {f["properties"]["Name"] for f in doc["features"]}
    assert names == {"inside"}


def test_wmts_rest_tile(server):
    status, ctype, body = _get(
        f"{server}/wmts/1.0.0/tile/demo/conc_chl/0/0/0.png"
    )
    assert status == 200 and ctype == "image/png"
    rgba = decode_rgba_png(body)
    assert rgba.shape[:2] == (32, 32)


def test_wmts_get_feature_info(server):
    """GetFeatureInfo — implemented where the reference raises 'not yet
    implemented' (xcube_server/handlers.py:103-104). Pixel (i, j) of a
    tile resolves to the cell value via index arithmetic + one-cell
    pyarrow read; masked steps report value: null."""
    import math

    status, ctype, body = _get(
        f"{server}/wmts/kvp?Service=WMTS&Request=GetFeatureInfo"
        "&Layer=demo.conc_tsm&TileMatrix=1&TileCol=0&TileRow=0"
        "&I=5&J=7&Time=current"
    )
    assert status == 200 and "json" in ctype
    info = json.loads(body)
    # fixture grid: 64x32 over (0, 50, 5, 52.5); z=1 is native res
    lon = 0.0 + 5.5 * (5.0 / 64)
    lat = 52.5 - 7.5 * (2.5 / 32)
    assert abs(info["lon"] - lon) < 1e-9 and abs(info["lat"] - lat) < 1e-9
    expected = 30.0 * (math.sin(lon * 2.0) + math.cos(lat * 3.0)) + 4 * 5.0 + 40.0
    # float32 storage: compare at float32 precision
    assert abs(info["value"] - expected) < 1e-4
    assert info["time"].startswith("2017-01-30")
    # masked time step (conc_tsm all-NULL at time_idx 2) -> value null
    status, _, body = _get(
        f"{server}/wmts/kvp?Service=WMTS&Request=GetFeatureInfo"
        "&Layer=demo.conc_tsm&TileMatrix=1&TileCol=0&TileRow=0"
        "&I=5&J=7&Time=2017-01-26"
    )
    assert status == 200
    assert json.loads(body)["value"] is None


def test_tile_invalid_time_is_bad_request(server):
    """Reference behavior (test_tiles.py::test_get_dataset_tile_with_time_dim):
    an unparseable time dim value is a 400 with a clear reason, not a 500."""
    import urllib.error
    import urllib.request

    url = f"{server}/datasets/demo/vars/conc_tsm/tiles/0/0/0.png?time=Gnaaark!"
    try:
        urllib.request.urlopen(url, timeout=60)
        raise AssertionError("expected HTTP 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        body = e.read().decode()
        assert "not a valid value for dimension 'time'" in body


def test_places_query_modes_parity(server):
    """Reference FindPlacesHandler parity (test_places.py): WKT geom=,
    geom+bbox mutual exclusion (400), POST GeoJSON bodies (geometry,
    Feature, FeatureCollection), and the 'query' parameter name."""
    import urllib.error
    import urllib.parse
    import urllib.request

    wkt = urllib.parse.quote("POLYGON ((0 50, 5 50, 5 53, 0 53, 0 50))")
    status, doc = _get_json(f"{server}/places/all?geom={wkt}")
    assert status == 200 and doc["type"] == "FeatureCollection"
    n_wkt = len(doc["features"])
    assert n_wkt >= 1
    # geom+bbox together -> 400
    try:
        urllib.request.urlopen(
            f"{server}/places/all?geom={wkt}&bbox=0,50,5,53", timeout=60
        )
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400 and "Only one of" in e.read().decode()
    # POST bodies: geometry / Feature / FeatureCollection all equivalent
    import json as _json

    geom = {"type": "Polygon", "coordinates": [
        [[0, 50], [5, 50], [5, 53], [0, 53], [0, 50]]]}
    for body in (
        geom,
        {"type": "Feature", "properties": {}, "geometry": geom},
        {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {}, "geometry": geom}]},
    ):
        req = urllib.request.Request(
            f"{server}/places/all", method="POST",
            data=_json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            doc = _json.loads(r.read())
            assert len(doc["features"]) == n_wkt
    # empty FeatureCollection -> 400 (invalid GeoJSON object)
    req = urllib.request.Request(
        f"{server}/places/all", method="POST",
        data=_json.dumps({"type": "FeatureCollection", "features": []}).encode(),
    )
    try:
        urllib.request.urlopen(req, timeout=60)
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_wmts_get_feature_info_computed_dataset(live, server, register_weekly):
    """GetFeatureInfo on a computed dataset reads the cell through the
    catalog's computed frame (it has no level table): the week ending
    2017-01-29 is the mean of the three input steps inside it."""
    register_weekly(live.catalog, "demo-1w")
    kvp = ("/wmts/kvp?Service=WMTS&Request=GetFeatureInfo&Layer={layer}"
           "&TileMatrix=1&TileCol=0&TileRow=0&I=5&J=7&Time={time}")
    status, info = _get_json(server + kvp.format(
        layer="demo-1w.kd489", time="2017-01-29%2000:00:00"))
    assert status == 200, info
    assert info["time"] == "2017-01-29 00:00:00"
    inputs = []
    for t in ("2017-01-25", "2017-01-26", "2017-01-28"):
        status, one = _get_json(server + kvp.format(layer="demo.kd489", time=t))
        assert status == 200 and one["time"].startswith(t)
        inputs.append(one["value"])
    assert info["value"] == pytest.approx(sum(inputs) / 3, abs=1e-5)


TS_REQUESTS = [
    ("GET", "/ts/{ds}/conc_tsm/point?lon=2.1&lat=51.4", None),
    ("GET", "/ts/{ds}/conc_tsm/point?lon=2.1&lat=51.4&startDate=2017-01-20", None),
    ("GET", "/ts/{ds}/kd489/point?lon=2.1&lat=51.4&startDate=1000-01-01"
     "&endDate=9999-12-31", None),
    ("POST", "/ts/{ds}/kd489/geometry", {
        "type": "Polygon",
        "coordinates": [[[1.0, 51.0], [2.0, 51.0], [2.0, 52.0], [1.0, 52.0], [1.0, 51.0]]],
    }),
    ("POST", "/ts/{ds}/conc_chl/geometries?endDate=2017-01-28T09:58:11Z", {
        "type": "GeometryCollection",
        "geometries": [
            {"type": "Point", "coordinates": [2.0, 51.5]},
            {"type": "Polygon", "coordinates": [[
                [1.0, 51.0], [3.0, 51.0], [3.0, 52.0], [1.0, 52.0], [1.0, 51.0],
            ]]},
        ],
    }),
    ("POST", "/ts/{ds}/conc_chl/places", {
        "type": "FeatureCollection",
        "features": [{"type": "Feature", "properties": {},
                      "geometry": {"type": "Point", "coordinates": [2.0, 51.5]}}],
    }),
]


def _ts_request(server, method, path, body):
    if method == "GET":
        return _get_json(server + path)
    return _post_json(server + path, body)


def test_ts_routes_answer_local_cube_without_spark(
    live, server, monkeypatch, register_weekly
):
    """The point, geometry and fan-out routes answer a local cube on the
    driver: no Spark job runs, and the answers equal the Spark plans'. A
    computed dataset still takes the Spark plans."""
    from xcube_server_spark.server import app

    def answers():
        return [_ts_request(server, m, p.format(ds="demo"), b)
                for m, p, b in TS_REQUESTS]

    with monkeypatch.context() as m:
        m.setattr(app, "local_time_series", lambda *a, **k: None)
        spark_answers = answers()
    tracker = live.catalog.spark.sparkContext.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(None), default=-1)
    assert last_job >= 0  # the Spark plans' jobs are visible here

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark time-series plan used for a local cube")

    with monkeypatch.context() as m:
        for name in ("time_series_for_point", "time_series_for_geometry",
                     "time_series_for_geometry_collection"):
            m.setattr(app, name, no_spark)
        driver_answers = answers()
    assert max(tracker.getJobIdsForGroup(None), default=-1) == last_job

    def series(doc):
        """(date, totalCount, validCount) rows and the averages of a TS
        answer (a fan-out's series one after another)."""
        parts = doc["results"]
        if parts and "date" not in parts[0]:
            parts = [r for p in parts for r in p["results"]]
        return ([(r["date"], r["result"]["totalCount"], r["result"]["validCount"])
                 for r in parts], [r["result"]["average"] for r in parts])

    for (s_status, s_doc), (d_status, d_doc) in zip(spark_answers, driver_answers):
        assert s_status == d_status == 200
        (s_rows, s_avg), (d_rows, d_avg) = series(s_doc), series(d_doc)
        assert d_rows == s_rows and d_rows
        assert [a is None for a in d_avg] == [a is None for a in s_avg]
        assert [a for a in d_avg if a is not None] == pytest.approx(
            [a for a in s_avg if a is not None], rel=1e-12)
        if s_doc["results"] and "date" not in s_doc["results"][0]:
            assert [len(p["results"]) for p in d_doc["results"]] == [
                len(p["results"]) for p in s_doc["results"]]

    register_weekly(live.catalog, "demo-1w")
    status, doc = _get_json(f"{server}/ts/demo-1w/kd489/point?lon=2.1&lat=51.4")
    assert status == 200
    assert [r["date"] for r in doc["results"]] == [
        "2017-01-22T00:00:00Z", "2017-01-29T00:00:00Z", "2017-02-05T00:00:00Z",
    ]
