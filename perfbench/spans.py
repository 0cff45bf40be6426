"""In-memory span recorder and the wrappers that put spans around the
server's layer boundaries.

Spans are recorded from the benchmark's own code only: ``install`` replaces
module and class attributes of the running server process with timing
wrappers, so the program under test is unchanged. Spans stay in memory and
are written out once, when the server process stops.

A span is ``(id, parent, request, name, start, end, attrs)``; times are
``time.perf_counter`` seconds. The request id is the one the benchmark sent
in the ``X-Bench-Id`` header, so client records and server spans join.
"""

from __future__ import annotations

import itertools
import json
import sys
import threading
import time
import types

OVERHEAD_PREFIX = "trace."  # spans that measure the tracer's own extra work


class Recorder:
    def __init__(self):
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def request(self) -> str | None:
        return getattr(self._local, "request", None)

    @request.setter
    def request(self, rid: str | None) -> None:
        self._local.request = rid

    def span(self, name: str) -> "_Span":
        return _Span(self, name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    __slots__ = ("rec", "name", "attrs", "sid", "parent", "t0")

    def __init__(self, rec: Recorder, name: str):
        self.rec = rec
        self.name = name
        self.attrs: dict = {}

    def __enter__(self) -> "_Span":
        st = self.rec._stack()
        self.parent = st[-1] if st else None
        self.sid = next(self.rec._ids)
        st.append(self.sid)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        t1 = time.perf_counter()
        self.rec._stack().pop()
        if exc_type is not None:
            self.attrs["error"] = exc_type.__name__
        self.rec.spans.append(
            (self.sid, self.parent, self.rec.request, self.name, self.t0, t1,
             self.attrs)
        )


def self_times(spans: list[tuple]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    that its direct children cover (overlapping children counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sid, parent, _rid, _name, t0, t1, _a in spans:
        if parent is not None:
            children.setdefault(parent, []).append((t0, t1))
    out = {}
    for sid, _parent, _rid, _name, t0, t1, _a in spans:
        covered = 0.0
        end = t0
        for c0, c1 in sorted(children.get(sid, [])):
            c0, c1 = max(c0, end), min(c1, t1)
            if c1 > c0:
                covered += c1 - c0
                end = c1
        out[sid] = (t1 - t0) - covered
    return out


class _TracedFunction:
    """A module function with a span around each call. Pickles as the
    original function, so a closure that Spark ships to its Python workers
    runs the untraced code there (their spans could not be collected)."""

    def __init__(self, rec: Recorder, orig, name: str, after=None):
        self.rec, self.__wrapped__, self.name, self.after = rec, orig, name, after

    def __call__(self, *args, **kwargs):
        with self.rec.span(self.name) as sp:
            out = self.__wrapped__(*args, **kwargs)
            if self.after is not None:
                self.after(sp, args, kwargs, out)
            return out

    def __reduce__(self):
        orig = self.__wrapped__
        return getattr, (sys.modules[orig.__module__], orig.__name__)


def _wrap(rec: Recorder, owner, attr: str, name: str, after=None) -> None:
    """Replace ``owner.attr`` (a module function or a method) by a wrapper
    that records a span around it; ``after(span, args, kwargs, result)``
    may add attributes."""
    orig = getattr(owner, attr)
    if isinstance(owner, types.ModuleType):
        setattr(owner, attr, _TracedFunction(rec, orig, name, after))
        return

    def wrapper(*args, **kwargs):
        with rec.span(name) as sp:
            out = orig(*args, **kwargs)
            if after is not None:
                after(sp, args, kwargs, out)
            return out

    wrapper.__wrapped__ = orig
    setattr(owner, attr, wrapper)


def _scan_rows(jplan) -> int:
    """Sum of ``numOutputRows`` over the file scans of an executed plan,
    looking through adaptive-execution and query-stage wrappers."""
    total = 0
    todo = [jplan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            todo.append(node.child())
            continue
        if cls == "FileSourceScanExec":
            total += int(node.metrics().apply("numOutputRows").value())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total


def _row_group_rows(dataset, filt) -> int:
    """Rows in the row groups pyarrow keeps after statistics pruning."""
    n = 0
    for frag in dataset.get_fragments(filter=filt):
        for rg in frag.split_by_row_group(filter=filt):
            n += sum(r.num_rows for r in rg.row_groups)
    return n


class _DatasetProxy:
    """Stands in for the pyarrow dataset the tile fast path opens, so the
    ``to_table`` call gets its own span and a footer-derived row count."""

    def __init__(self, rec: Recorder, ds):
        self._rec = rec
        self._ds = ds

    def __getattr__(self, name):
        return getattr(self._ds, name)

    def to_table(self, *args, **kwargs):
        with self._rec.span("pyarrow.to_table") as sp:
            table = self._ds.to_table(*args, **kwargs)
            with self._rec.span(OVERHEAD_PREFIX + "footer"):
                sp.attrs["rows"] = table.num_rows
                sp.attrs["rowgroup_rows"] = _row_group_rows(
                    self._ds, kwargs.get("filter")
                )
            return table


def install(rec: Recorder, spark, server) -> None:
    """Wrap the serving path's layer boundaries of one running server."""
    import pyarrow.dataset as pads

    from xcube_server_spark.cube import cache, tiles, timeseries
    from xcube_server_spark.server import app

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    route = type(server)._route

    def traced_route(self, h, method):
        rid = h.headers.get("X-Bench-Id")
        rec.request = rid
        group = f"bench-{rid}"
        sc.setJobGroup(group, group)
        try:
            with rec.span("server") as sp:
                route(self, h, method)
        finally:
            with rec.span(OVERHEAD_PREFIX + "jobs"):
                jobs = list(tracker.getJobIdsForGroup(group))
                tasks = 0
                for j in jobs:
                    info = tracker.getJobInfo(j)
                    for s in (info.stageIds if info else ()):
                        st = tracker.getStageInfo(s)
                        tasks += st.numTasks if st else 0
                sp.attrs.update(jobs=len(jobs), tasks=tasks)
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec.request = None

    server.__class__._route = traced_route

    handler = server.httpd.RequestHandlerClass
    send = handler._send

    def traced_send(self, code, body, ctype):
        with rec.span("server.send") as sp:
            sp.attrs["status"] = code
            sp.attrs["bytes"] = len(body)
            send(self, code, body, ctype)

    handler._send = traced_send

    def cache_get(sp, args, kwargs, out):
        sp.attrs["hit"] = out is not None

    put = cache.ByteCache.put

    def counted_put(self, key, value):
        with rec.span("cache.put") as sp:
            before = len(self._data) + (0 if key in self._data else 1)
            put(self, key, value)
            sp.attrs["bytes"] = len(value)
            sp.attrs["evicted"] = before - len(self._data)

    cache.ByteCache.put = counted_put
    _wrap(rec, cache.ByteCache, "get", "cache.get", cache_get)

    def tile_key(sp, args, kwargs, out):
        ds, var, z, x, y = args[1:6]
        sp.attrs["key"] = [ds, var, z, x, y, kwargs.get("time"),
                           kwargs.get("cmap"), kwargs.get("vmin"),
                           kwargs.get("vmax")]

    _wrap(rec, tiles.TileService, "get_tile", "tiles.get_tile", tile_key)
    _wrap(rec, tiles.TileService, "_read_tile_fast", "tiles.read")
    _wrap(rec, tiles, "render_tiles", "tiles.render_tiles")
    _wrap(rec, tiles, "apply_cmap", "colormap")

    def png_bytes(sp, args, kwargs, out):
        sp.attrs["bytes"] = len(out)

    _wrap(rec, tiles, "encode_rgba_png", "png.encode", png_bytes)

    dataset = pads.dataset

    def traced_dataset(*args, **kwargs):
        with rec.span("pyarrow.dataset"):
            return _DatasetProxy(rec, dataset(*args, **kwargs))

    pads.dataset = traced_dataset

    def cells(sp, args, kwargs, out):
        sp.attrs["cells"] = int(len(out))

    _wrap(rec, timeseries, "rasterize_mask", "rasterize", cells)
    for fn in ("time_series_for_point", "time_series_for_geometry",
               "time_series_for_geometry_collection"):
        _wrap(rec, app, fn, "timeseries.plan")

    _wrap(rec, type(spark), "createDataFrame", "spark.createDataFrame")

    df_cls = type(spark.range(1))
    collect = df_cls.collect

    def traced_collect(self):
        with rec.span("spark.collect") as sp:
            out = collect(self)
            with rec.span(OVERHEAD_PREFIX + "plan_metrics"):
                sp.attrs["scan_rows"] = _scan_rows(
                    self._jdf.queryExecution().executedPlan()
                )
            return out

    df_cls.collect = traced_collect
