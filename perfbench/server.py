"""The benchmark's server process.

Started by ``run.py`` the way ``xcube_server_spark.cli serve`` starts the
server: ``get_spark``, a YAML config loaded into ``CubeCatalog``,
``CubeServer``, and ``TileService(capacity=...)`` as ``--tilecache`` sets
it. Before that it builds the demo-scale cube with the repository's own
write path (``synth_demo_cube`` + ``write_cube``), so ingest is part of
set-up.

Protocol: once the server listens it writes ``ready.json`` (port and set-up
timings) into the work directory, by an atomic rename, so nothing else the
process or its JVM prints can be mistaken for it. SIGTERM stops it: it
writes the tile cache's state (``final.json``) and the spans of a traced
run, then stops the HTTP server and Spark.

    python3 perfbench/server.py --work DIR --tilecache 512M --trace 0
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import signal
import sys
import threading
import time

WIDTH, HEIGHT, TILE = 2000, 1000, 250

CONFIG = """\
Datasets:
  - Identifier: demo
    Title: Demo-scale OLCI L2C cube
    FileSystem: local
    Path: "{cube}"
    Style: default
  - Identifier: demo-1w
    Title: Weekly cube computed from the demo cube
    FileSystem: memory
    Path: "resample_in_time.py"
    Function: "compute_dataset"
    InputDatasets: ["demo"]
    InputParameters:
      period: "1W"
    Style: default
Styles:
  - Identifier: default
    ColorMappings:
      conc_chl:
        ColorBar: "plasma"
        ValueRange: [0., 24.]
      conc_tsm:
        ColorBar: "PuBuGn"
        ValueRange: [0., 100.]
      kd489:
        ColorBar: "viridis"
        ValueRange: [0., 6.]
"""


def ingest_stats(cube_dir: str) -> dict:
    """Files, row groups and bytes of the written LOD tables (footers)."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(cube_dir, "l*", "*", "*.parquet"))
    return {
        "files": len(files),
        "row_groups": sum(pq.ParquetFile(f).metadata.num_row_groups for f in files),
        "bytes": sum(os.path.getsize(f) for f in files),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--tilecache", default="512M")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())

    t0 = time.perf_counter()
    from xcube_server_spark.session import get_spark

    spark = get_spark(app_name="xcube-server-spark")
    t_session = time.perf_counter() - t0

    from xcube_server_spark.cube.catalog import ConfigWatcher, CubeCatalog
    from xcube_server_spark.cube.reqparams import parse_mem_size
    from xcube_server_spark.cube.tiles import TileService
    from xcube_server_spark.server.app import CubeServer
    from xcube_server_spark.sources import cube_ingest

    rec = None
    if args.trace:
        from spans import Recorder

        rec = Recorder()

    cube_dir = os.path.join(args.work, "cube")
    t1 = time.perf_counter()
    cube, grid = cube_ingest.synth_demo_cube(spark, width=WIDTH, height=HEIGHT)
    if rec is not None:
        with rec.span("ingest.write_cube"):
            _, tg = cube_ingest.write_cube(cube, grid, cube_dir, tile_size=TILE)
    else:
        _, tg = cube_ingest.write_cube(cube, grid, cube_dir, tile_size=TILE)
    writer = CubeCatalog(spark)
    writer.save_meta(
        writer.register_written_cube(
            "demo", cube_dir, grid, tg, list(cube_ingest.DEMO_VARS)
        )
    )
    t_write = time.perf_counter() - t1

    config = os.path.join(args.work, "config.yml")
    with open(config, "w") as f:
        f.write(CONFIG.format(cube=cube_dir))
    catalog = CubeCatalog(spark)
    ConfigWatcher(catalog, config)
    server = CubeServer(catalog, host="127.0.0.1", port=0)
    server.tiles = TileService(catalog, capacity=parse_mem_size(args.tilecache))
    if rec is not None:
        from spans import install

        install(rec, spark, server)
    port = server.start()

    ready = {
        "port": port,
        "pid": os.getpid(),
        "session_start_s": t_session,
        "write_cube_s": t_write,
        "capacity": server.tiles.capacity,
    }
    if rec is not None:
        ready.update(ingest_stats(cube_dir))
    write_json(os.path.join(args.work, "ready.json"), ready)

    stop.wait()
    held = server.tiles._cache
    write_json(
        os.path.join(args.work, "final.json"),
        {
            "cache_entries": len(held),
            "cache_bytes_held": sum(map(len, held._data.values())),
            "cache_bytes_accounted": held._used,
        },
    )
    if rec is not None:
        rec.dump(os.path.join(args.work, "spans.jsonl"))
    server.stop()
    spark.stop()
    return 0


def write_json(path: str, doc: dict) -> None:
    """Write ``doc`` so that a reader sees the whole file or none of it."""
    with open(path + ".tmp", "w") as f:
        json.dump(doc, f)
    os.replace(path + ".tmp", path)


if __name__ == "__main__":
    sys.exit(main())
