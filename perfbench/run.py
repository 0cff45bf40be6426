"""Serving benchmark: demo-scale tile and time-series traffic over HTTP.

    python3 perfbench/run.py --workload tile_browse --seed 1 --seconds 15 --trace 0

Run from the repository root. Set-up starts the server process
(``server.py``: Spark, cube build, config, ``CubeServer``) and warms each
request class; then the named workload's traffic runs for ``--seconds``.
Every response is checked, and a seeded sample against a DuckDB oracle.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics from the server's spans with ``--trace 1``). The full
record of the run goes to ``.perfbench_work/result.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import http.client
import itertools
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time

import stats
import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

LATENCY_LIMIT_S = 0.25  # tile tail limit for a sustained ladder step
SETUP_TIMEOUT_S = 150
HTTP_TIMEOUT_S = 60


# -- host and process-tree observation ---------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024.0


def calibrate() -> float:
    """Seconds for a fixed piece of CPU work: hashing 64 MiB."""
    block = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(block)
    h.hexdigest()
    return time.perf_counter() - t0


class Monitor(threading.Thread):
    """Samples the load average every second and the server process
    tree's resident memory every half second."""

    def __init__(self):
        super().__init__(daemon=True)
        self.pid: int | None = None
        self.loadavg: list[float] = []
        self.peak_rss_mb = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        for tick in itertools.count():
            if self.pid is not None:
                self.peak_rss_mb = max(self.peak_rss_mb, rss_mb(process_tree(self.pid)))
            if tick % 2 == 0:
                with open("/proc/loadavg") as f:
                    self.loadavg.append(float(f.read().split()[0]))
            if self._halt.wait(0.5):
                return

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


# -- server process ------------------------------------------------------------


class Server:
    def __init__(self, tilecache: str, trace: bool, log):
        env = dict(os.environ)
        # Spark's Python workers import the package from the repository
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        )
        env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        env.setdefault("SPARK_DRIVER_MEMORY", "2g")
        env["PYTHONHASHSEED"] = "0"  # the same dict and set layouts every run
        # keep every file the server writes inside the checkout
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
        env["TMPDIR"] = tmp
        env["JDK_JAVA_OPTIONS"] = " ".join(
            p for p in (env.get("JDK_JAVA_OPTIONS"), f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") if p
        )
        # the server and its JVM print only to the log; the ready signal
        # is a file
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), "--work", WORK,
             "--tilecache", tilecache, "--trace", str(int(trace))],
            cwd=WORK, env=env, stdin=subprocess.DEVNULL, stdout=log, stderr=log,
            start_new_session=True,
        )
        self.pids: list[int] = [self.proc.pid]
        self.ready: dict = {}

    def wait_ready(self, timeout: float) -> dict:
        path = os.path.join(WORK, "ready.json")
        deadline = time.perf_counter() + timeout
        while not os.path.exists(path):
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with code {self.proc.returncode} "
                                   "during set-up")
            if time.perf_counter() > deadline:
                raise RuntimeError(f"server not ready after {timeout:.0f} s")
            time.sleep(0.05)
        with open(path) as f:
            self.ready = json.load(f)
        self.pids = process_tree(self.proc.pid)
        return self.ready

    def stop(self) -> None:
        """SIGTERM, then make sure every process of the tree has ended."""
        self.pids = sorted(set(self.pids) | set(process_tree(self.proc.pid)))
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            left = [p for p in self.pids if os.path.exists(f"/proc/{p}")]
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                pass
            deadline = time.time() + 10
            while left and time.time() < deadline:
                left = [p for p in left if os.path.exists(f"/proc/{p}")
                        and not _is_zombie(p)]
                time.sleep(0.1)
            if not left and self.proc.poll() is not None:
                break


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# -- HTTP client ----------------------------------------------------------------


class Client:
    def __init__(self, port: int):
        self.port = port

    def send(self, req: dict, rid: str) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=HTTP_TIMEOUT_S)
        headers = {"X-Bench-Id": rid}
        if req["body"] is not None:
            headers["Content-Type"] = "application/json"
        start = time.perf_counter()
        try:
            conn.request(req["method"], req["path"], body=req["body"], headers=headers)
            resp = conn.getresponse()
            body = resp.read()
            status, ctype = resp.status, resp.getheader("Content-Type", "")
        except Exception as e:  # noqa: BLE001 - any client error is a failed request
            status, ctype, body = 0, "", repr(e).encode()
        finally:
            conn.close()
        end = time.perf_counter()
        return {"rid": rid, "req": req, "start": start, "end": end,
                "status": status, "ctype": ctype, "body": body}


# -- workloads -------------------------------------------------------------------


def open_loop(client: Client, schedule: list, threads: int) -> list[dict]:
    """Send each ``(due, request, step)`` at its due time from a pool of
    ``threads`` senders; a request waits for a free sender when all are
    busy, and that wait shows as lateness."""
    order = itertools.count()
    records: list = [None] * len(schedule)

    def sender() -> None:
        while True:
            k = next(order)
            if k >= len(schedule):
                return
            due, req, step = schedule[k]
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            rec = client.send(req, str(k))
            rec["due"], rec["step"] = due, step
            rec["latency"], rec["late"] = stats.open_loop_times(due, rec["start"], rec["end"])
            records[k] = rec

    pool = [threading.Thread(target=sender) for _ in range(threads)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    return records


TILE_RATE = 50.0  # nominal tile arrival rate, requests/s
LADDER = (4.0, 8.0, 12.0)  # multiples of TILE_RATE after the nominal phase
# shares of the run: cache fill at twice the nominal rate (not measured;
# it also pays each parquet file's first open), the measured nominal
# phase, then each ladder step
FILL_SHARE, NOMINAL_SHARE = 0.15, 0.7


def tile_browse(client: Client, seed: int, seconds: float) -> dict:
    """Independent map viewers: open-loop Poisson arrivals from 4 senders.
    The cache fills at twice the nominal rate, the nominal phase is measured,
    then a ladder of higher fixed rates probes the sustainable rate. Each
    phase sends the same number and mix of requests for every seed; the
    seed draws the order and the arrival times."""
    rng = random.Random(seed)
    keys = wl.TileKeys(rng)
    step_share = (1 - FILL_SHARE - NOMINAL_SHARE) / len(LADDER)
    phases = [("fill", 2.0, FILL_SHARE), ("nominal", 1.0, NOMINAL_SHARE)]
    phases += [(f"x{m:g}", m, step_share) for m in LADDER]
    t = time.perf_counter() + 0.2
    schedule = []
    for name, mult, share in phases:
        dues = stats.fixed_count_arrivals(TILE_RATE * mult, t, t + share * seconds, rng)
        schedule += [(due, req, name) for due, req in zip(dues, keys.batch(len(dues)))]
        t += share * seconds
    records = open_loop(client, schedule, threads=4)
    return {"records": records,
            "primary": [r for r in records if r["step"] == "nominal"]}


def timeseries_mix(client: Client, seed: int, seconds: float) -> dict:
    """An analytics caller that waits for replies: one closed-loop client
    walking ``TS_CYCLE`` with seeded parameters. One client keeps each
    request's latency its own: with two, every latency also depends on
    which request of the other client it overlapped.

    Every request counts in ``attempted``/``failed``; the latency
    statistics take whole sessions only (a run fits one or two), so a run
    that fits one request more or less does not change the mix of costs
    they summarize."""
    rng = random.Random(seed)
    ctiles = wl.ComputedTiles(random.Random(f"{seed}/ctile"))
    make = {
        "point": lambda frac, dated: wl.point_request(rng, dated),
        "rect": lambda frac, dated: wl.rect_request(rng, frac, dated),
        "nonrect": lambda frac, dated: wl.nonrect_request(rng, dated),
        "fanout": lambda frac, dated: wl.fanout_request(rng, dated),
        "ctile": lambda frac, dated: ctiles.next(),
    }
    records: list[dict] = []
    deadline = time.perf_counter() + seconds
    for n in itertools.count():
        if time.perf_counter() >= deadline:
            break
        cls, frac, dated = wl.TS_CYCLE[n % len(wl.TS_CYCLE)]
        rec = client.send(make[cls](frac, dated), str(n))
        rec["latency"] = rec["end"] - rec["start"]
        records.append(rec)
    whole = len(records) - len(records) % len(wl.TS_CYCLE)
    return {"records": records, "primary": records[:whole] or records}


# workload -> (traffic, --tilecache, request classes it sends)
WORKLOADS = {
    # the cache is below the distinct-tile bytes the run touches
    "tile_browse": (tile_browse, "3M", ("tile",)),
    "timeseries_mix": (timeseries_mix, "512M",
                       ("ctile", "point", "rect", "nonrect", "fanout")),
}


def warm_up(client: Client, requests: list[dict]) -> list:
    """Send the warm-up requests from 2 threads (the slow ``demo-1w``
    preflight overlaps the rest); every one must return 200."""
    todo = list(enumerate(requests))
    done: list = []

    def worker() -> None:
        while todo:
            try:
                k, req = todo.pop(0)
            except IndexError:
                return
            done.append(client.send(req, f"w{k}"))

    pool = [threading.Thread(target=worker) for _ in range(2)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    for rec in done:
        if rec["status"] != 200:
            raise RuntimeError(f"warm-up {rec['req']['path']} failed: "
                               f"{rec['status']} {rec['body'][:300]!r}")
    return [[r["req"]["cls"], r["end"] - r["start"]] for r in done]


# -- checks ----------------------------------------------------------------------


ORACLE_SAMPLE = {"tile": 6, "ctile": 3, "point": 3, "rect": 3, "fanout": 2}


def check(records: list[dict], seed: int) -> tuple[int, list[str]]:
    """Shape-check every response (one PNG decode per distinct body) and
    compare a seeded sample of each class with the oracle. Returns the
    number of failed requests and the oracle mismatches."""
    import oracle as orc

    failed = 0
    seen: dict[bytes, str | None] = {}
    for r in records:
        digest = hashlib.sha1(r["body"]).digest() + r["req"]["cls"].encode()
        if r["status"] != 200 or digest not in seen:
            seen[digest] = orc.check_shape(r["req"], r["status"], r["ctype"], r["body"])
        r["problem"] = seen[digest]
        failed += r["problem"] is not None
    ok = [r for r in records if r["problem"] is None]
    rng = random.Random(f"oracle/{seed}")
    ora = orc.Oracle(os.path.join(WORK, "cube"))
    mismatches = []
    for cls, n in ORACLE_SAMPLE.items():
        pool = [r for r in ok if r["req"]["cls"] == cls]
        for r in rng.sample(pool, min(n, len(pool))):
            if cls in ("tile", "ctile"):
                why = ora.check_tile(r["req"], r["body"])
            else:
                why = ora.check_ts(r["req"], r["body"])
            if why is not None:
                r["problem"] = f"oracle: {why}"
                failed += 1
                mismatches.append(f"{r['req']['path']}: {why}")
    return failed, mismatches


# -- metrics ---------------------------------------------------------------------


def latency_summary(recs: list[dict]) -> dict:
    lat = [r["latency"] * 1000 for r in recs if r.get("problem") is None]
    if not lat:
        return {"n": 0}
    p, t = stats.tail(lat)
    return {"n": len(lat), "p50_ms": stats.percentile(lat, 50),
            "p90_ms": stats.percentile(lat, 90), "tail_pct": p, "tail_ms": t}


def ladder_summary(records: list[dict]) -> dict:
    """Each measured step's latency, and the highest rate up to which every
    step met the tail limit (``tile_max_rps``)."""
    steps, max_rps, held = [], 0.0, True
    for name, mult in [("nominal", 1.0)] + [(f"x{m:g}", m) for m in LADDER]:
        recs = [r for r in records if r["step"] == name]
        good = [r["latency"] for r in recs if r.get("problem") is None]
        failed = len(recs) - len(good)
        ok = stats.sustained(good, failed, LATENCY_LIMIT_S)
        held = held and ok
        if held:
            max_rps = TILE_RATE * mult
        steps.append({"rate": TILE_RATE * mult, "sent": len(recs), "failed": failed,
                      "sustained": ok, **latency_summary(recs)})
    return {"limit_ms": LATENCY_LIMIT_S * 1000, "tile_max_rps": max_rps, "steps": steps}


def per_layer(spans_path: str, records: list[dict], ready: dict, final: dict,
              monitor: Monitor) -> dict:
    """Per-layer metrics from the server's spans, joined to the client's
    request records by request id."""
    from spans import OVERHEAD_PREFIX, self_times

    spans = []
    with open(spans_path) as f:
        for line in f:
            spans.append(tuple(json.loads(line)))
    by_rid = {r["rid"]: r for r in records}
    measured = [s for s in spans if s[2] in by_rid]
    selft = self_times(measured)

    def named(name):
        return [s for s in measured if s[3] == name]

    def p(values, q=50):
        return stats.percentile(values, q) if values else 0.0

    def dur_ms(ss):
        return [(s[5] - s[4]) * 1000 for s in ss]

    def minus_overhead(ss):
        """Durations without the tracer's own child spans."""
        extra: dict[int, float] = {}
        for s in measured:
            if s[3].startswith(OVERHEAD_PREFIX) and s[1] is not None:
                extra[s[1]] = extra.get(s[1], 0.0) + s[5] - s[4]
        return [(s[5] - s[4] - extra.get(s[0], 0.0)) * 1000 for s in ss]

    m: dict[str, float] = {}
    roots = named("server")
    m["server.self_ms_p50"] = p([selft[s[0]] * 1000 for s in roots])
    m["server.non200"] = sum(1 for s in named("server.send") if s[6].get("status", 0) != 200)

    gets, puts = named("cache.get"), named("cache.put")
    m["cache.hit_ratio"] = sum(s[6].get("hit", 0) for s in gets) / len(gets) if gets else 0.0
    m["cache.evictions"] = sum(s[6].get("evicted", 0) for s in puts)
    m["cache.get_us_p50"] = p([d * 1000 for d in dur_ms(gets)])
    m["cache.put_us_p50"] = p([d * 1000 for d in dur_ms(puts)])
    m["cache.bytes_held_ratio"] = final.get("cache_bytes_held", 0) / ready["capacity"]

    reads = named("tiles.read")
    m["tiles.read_ms_p50"] = p(minus_overhead(reads))
    m["tiles.read_ms_p99"] = p(minus_overhead(reads), 99)
    tables = named("pyarrow.to_table")
    rg_rows = sum(s[6].get("rowgroup_rows", 0) for s in tables)
    m["tiles.read_useful_row_ratio"] = (
        sum(s[6].get("rows", 0) for s in tables) / rg_rows if rg_rows else 0.0)
    encodes = named("png.encode")
    parents = {s[0]: s for s in measured}
    rendered: set = set()
    dup = 0
    for s in sorted(encodes, key=lambda s: s[4]):
        anc = parents.get(s[1])
        while anc is not None and anc[3] != "tiles.get_tile":
            anc = parents.get(anc[1])
        key = json.dumps(anc[6].get("key")) if anc is not None else None
        dup += key in rendered
        rendered.add(key)
    m["tiles.renders"] = len(encodes)
    m["tiles.duplicate_render_ratio"] = dup / len(encodes) if encodes else 0.0
    m["colormap.ms_p50"] = p(dur_ms(named("colormap")))
    m["png.encode_ms_p50"] = p(dur_ms(encodes))
    m["png.bytes_p50"] = p([s[6].get("bytes", 0) for s in encodes])

    spark_rids = {s[2] for s in named("tiles.render_tiles")}
    spark_tiles = [s for s in named("tiles.get_tile") if s[2] in spark_rids]
    m["tiles.spark_renders"] = len(spark_rids)
    m["tiles.spark_render_ms_p50"] = p(dur_ms(spark_tiles))

    ras = named("rasterize")
    m["rasterize.ms_p50"] = p(dur_ms(ras))
    m["rasterize.cells_p50"] = p([s[6].get("cells", 0) for s in ras])
    plans = [s for s in named("timeseries.plan") if parents.get(s[1], ("",) * 4)[3] != "timeseries.plan"]
    m["timeseries.plan_ms_p50"] = p([selft[s[0]] * 1000 for s in plans])
    m["timeseries.mask_ship_ms_p50"] = p(dur_ms(named("spark.createDataFrame")))

    group = {"point": "point", "rect": "polygon", "nonrect": "polygon",
             "fanout": "fanout", "ctile": "tile", "tile": "tile"}
    collects = named("spark.collect")
    for g in ("point", "polygon", "fanout", "tile"):
        m[f"spark.{g}.collect_ms_p50"] = p(minus_overhead(
            [s for s in collects if group[by_rid[s[2]]["req"]["cls"]] == g]))
    m["spark.jobs_per_request"] = sum(s[6].get("jobs", 0) for s in roots) / max(len(roots), 1)
    m["spark.tasks_per_request"] = sum(s[6].get("tasks", 0) for s in roots) / max(len(roots), 1)
    cells_by_rid = {}
    for s in ras:
        cells_by_rid[s[2]] = cells_by_rid.get(s[2], 0) + s[6].get("cells", 0)
    scanned = needed = 0
    for s in collects:
        rec = by_rid[s[2]]
        req = rec["req"]
        if req["cls"] in ("tile", "ctile"):
            continue
        n_t = len(wl.times_in(req["start"], req["end"]))
        if req["cls"] == "point":
            cells = 1
        else:
            cells = cells_by_rid.get(s[2], 0)
        scanned += s[6].get("scan_rows", 0)
        needed += cells * n_t
    m["spark.scan_useful_row_ratio"] = needed / scanned if scanned else 0.0

    m["ingest.session_start_s"] = ready["session_start_s"]
    m["ingest.write_cube_s"] = ready["write_cube_s"]
    for k in ("files", "row_groups", "bytes"):
        m[f"ingest.{k}"] = ready[k]

    late = [r["late"] * 1000 for r in records if "late" in r]
    m["loadgen.late_ms_p99"] = p(late, 99)
    m["loadgen.sent"] = len(records)
    m["host.loadavg_mean"] = sum(monitor.loadavg) / max(len(monitor.loadavg), 1)
    m["host.server_peak_rss_mb"] = monitor.peak_rss_mb

    layers = ("server", "tiles.get_tile", "cache.get", "cache.put", "tiles.read",
              "pyarrow.dataset", "pyarrow.to_table", "colormap", "png.encode",
              "tiles.render_tiles", "timeseries.plan", "rasterize",
              "spark.createDataFrame", "spark.collect")
    for name in layers:
        m[f"self_ms.{name}"] = sum(selft[s[0]] for s in named(name)) * 1000
    m["trace.overhead_ms"] = sum(
        s[5] - s[4] for s in measured if s[3].startswith(OVERHEAD_PREFIX)) * 1000
    return m


# -- main ------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "xcube_server_spark", "cube", "tiles.py")):
        print(f"xcube_server_spark not found under {ROOT}; run from the "
              "repository root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)  # the oracle renders expected tiles with apply_cmap

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK, exist_ok=True)
    run, tilecache, classes = WORKLOADS[args.workload]
    monitor = Monitor()
    monitor.start()
    calib_start = calibrate()

    with open(os.path.join(WORK, "server.log"), "w") as log:
        t_setup = time.perf_counter()
        server = Server(tilecache, bool(args.trace), log)
        try:
            monitor.pid = server.proc.pid
            ready = server.wait_ready(SETUP_TIMEOUT_S)
            # flush the cube's dirty pages now, not during the traffic
            os.sync()
            client = Client(ready["port"])
            warmup = warm_up(client, wl.warmup_requests(classes))
            setup_s = time.perf_counter() - t_setup
            out = run(client, args.seed, args.seconds)
        finally:
            server.stop()
    monitor.stop()
    calib_end = calibrate()

    records = out["records"]
    failed, mismatches = check(records, args.seed)
    final_path = os.path.join(WORK, "final.json")
    final = {}
    if os.path.exists(final_path):
        with open(final_path) as f:
            final = json.load(f)
    else:
        print("server ended without writing final.json", file=sys.stderr)

    classes = sorted({r["req"]["cls"] for r in records})
    primary = latency_summary(out["primary"])
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "setup_s": setup_s,
        "wall_s": time.perf_counter() - t_setup, "warmup_s": warmup, "ready": ready, "final": final,
        "primary": primary,
        "classes": {c: latency_summary([r for r in records if r["req"]["cls"] == c])
                    for c in classes},
        "latencies_ms": [[r["req"]["cls"], r.get("step"), r["latency"] * 1000,
                          r.get("late", 0.0) * 1000] for r in records],
        "attempted": len(records), "failed": failed,
        "failures": [f"{r['req']['path']}: {r['problem']}"
                     for r in records if r.get("problem")][:20],
        "oracle_mismatches": mismatches,
        "server_peak_rss_mb": monitor.peak_rss_mb,
        "host": {"loadavg": monitor.loadavg, "calibration_s": [calib_start, calib_end]},
    }
    if args.workload == "tile_browse":
        detail["ladder"] = ladder_summary(records)
        sizes = {r["req"]["path"].split("?")[0] + str(r["req"]["style"]) + r["req"]["time"]:
                 len(r["body"]) for r in records if r["status"] == 200}
        detail["distinct_tile_bytes"] = sum(sizes.values())
        detail["cache_capacity"] = ready["capacity"]
        detail["lateness_ms_p99"] = stats.percentile([r["late"] * 1000 for r in records], 99)

    if args.trace:
        metrics = per_layer(os.path.join(WORK, "spans.jsonl"), records, ready,
                            final, monitor)
        metrics["trace.client_p50_ms"] = primary.get("p50_ms", 0.0)
        metrics["trace.client_p90_ms"] = primary.get("p90_ms", 0.0)
    else:
        metrics = {
            "p50_ms": primary["p50_ms"],
            "setup_s": setup_s,
        }
    detail["metrics"] = metrics
    with open(os.path.join(WORK, "result.json"), "w") as f:
        json.dump(detail, f, indent=1)

    for line in (f"{args.workload} seed={args.seed} setup={setup_s:.1f}s "
                 f"attempted={len(records)} failed={failed}",
                 json.dumps({c: detail["classes"][c] for c in classes})):
        print(line)
    for m in mismatches:
        print("MISMATCH", m)
    malformed = any(r["status"] == 200 and r["problem"] for r in records)
    print(json.dumps({
        "correct": not mismatches and not malformed,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in metrics.items()},
    }))
    return 0


def unit_of(name: str) -> str:
    """Unit of a metric, from the tokens of its name."""
    tokens = set(name.replace(".", "_").split("_"))
    for token, unit in (("ms", "ms"), ("us", "us"), ("s", "s"), ("mb", "MB"),
                        ("ratio", "ratio"), ("bytes", "bytes"), ("loadavg", "load"),
                        ("request", "count/request")):
        if token in tokens:
            return unit
    return "count"


def log_tail(lines: int = 40) -> str:
    try:
        with open(os.path.join(WORK, "server.log"), errors="replace") as f:
            return "".join(f.readlines()[-lines:])
    except OSError:
        return ""


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        import traceback

        traceback.print_exc()
        print("--- last lines of .perfbench_work/server.log ---\n" + log_tail(),
              file=sys.stderr)
        sys.exit(1)
