"""Self-tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import random
import sys
import threading
import time
from collections import Counter

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
import workloads as wl  # noqa: E402
from oracle import decode_png  # noqa: E402
from spans import Recorder, self_times  # noqa: E402


# -- tail percentile rule -------------------------------------------------------


def test_tail_leaves_exactly_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    p, v = stats.tail(values)
    assert p == 90.0
    assert v == 90
    assert sum(x > v for x in values) == 10


def test_tail_climbs_with_sample_size():
    p1, _ = stats.tail(list(range(100)))
    p2, _ = stats.tail(list(range(1000)))
    assert (p1, p2) == (90.0, 99.0)


def test_tail_of_small_sample_is_the_median():
    values = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.tail(values) == (50.0, 3.0)
    # the boundary: 20 samples leave 10 beyond the p50 sample
    p, v = stats.tail(list(range(20)))
    assert p == 50.0 and v == 9


def test_tail_is_order_independent():
    values = list(range(50))
    shuffled = values[:]
    random.Random(3).shuffle(shuffled)
    assert stats.tail(values) == stats.tail(shuffled)


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        stats.tail([])


def test_sustained_counts_failures_as_misses():
    fast = [0.01] * 30
    assert stats.sustained(fast, failed=0, limit=0.25)
    # 10 failures leave the tail sample at a finite value ...
    assert stats.sustained(fast, failed=10, limit=0.25)
    # ... 11 push infinity into it
    assert not stats.sustained(fast, failed=11, limit=0.25)


# -- self time ------------------------------------------------------------------


def _span(sid, parent, t0, t1, name="x"):
    return (sid, parent, "r", name, t0, t1, {})


def test_self_time_subtracts_children():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 3.0), _span(3, 1, 5.0, 6.0)]
    st = self_times(spans)
    assert st[1] == pytest.approx(7.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    # two concurrent children covering [2, 8] together
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 2.0, 6.0), _span(3, 1, 4.0, 8.0)]
    assert self_times(spans)[1] == pytest.approx(4.0)


def test_self_time_ignores_grandchildren_and_clips_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 8.0, 12.0),  # outlives its parent: only [8, 10] counts
        _span(3, 2, 9.0, 11.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(8.0)
    assert st[2] == pytest.approx(2.0)


def test_recorder_nests_per_thread():
    rec = Recorder()

    def work(rid):
        rec.request = rid
        with rec.span("outer"):
            with rec.span("inner"):
                time.sleep(0.01)

    threads = [threading.Thread(target=work, args=(str(i),)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    by_id = {s[0]: s for s in rec.spans}
    inner = [s for s in rec.spans if s[3] == "inner"]
    assert len(inner) == 4
    for s in inner:
        parent = by_id[s[1]]
        assert parent[3] == "outer" and parent[2] == s[2]


# -- open-loop accounting -------------------------------------------------------


def test_open_loop_latency_runs_from_due_time():
    latency, late = stats.open_loop_times(due=10.0, start=10.5, end=10.7)
    assert latency == pytest.approx(0.7)
    assert late == pytest.approx(0.5)


def test_open_loop_early_start_is_not_negative_lateness():
    latency, late = stats.open_loop_times(due=10.0, start=9.999, end=10.1)
    assert late == 0.0
    assert latency == pytest.approx(0.1)


def test_stall_charges_requests_queued_behind_it():
    # one sender, requests due every 10 ms, the first takes 50 ms: the
    # next four wait, and their latency includes the wait
    due = [0.00, 0.01, 0.02, 0.03, 0.04]
    free, out = 0.0, []
    for d in due:
        start = max(d, free)
        end = start + (0.05 if d == 0.0 else 0.001)
        free = end
        out.append(stats.open_loop_times(d, start, end))
    assert out[1][1] == pytest.approx(0.04)
    assert out[1][0] == pytest.approx(0.041)
    assert all(lat >= late for lat, late in out)


# -- traffic and oracle helpers ------------------------------------------------------


def test_rect_polygon_edges_sit_on_cell_centres():
    poly = wl.rect_polygon(10, 19, 100, 149)
    (w, s), _, (e, n) = poly["coordinates"][0][:3]
    res = wl.RES
    assert (w - wl.WEST) / res == pytest.approx(100.5)
    assert (e - wl.WEST) / res == pytest.approx(149.5)
    assert (wl.NORTH - n) / res == pytest.approx(10.5)
    assert (wl.NORTH - s) / res == pytest.approx(19.5)


def test_times_in_date_ranges():
    assert wl.times_in(None, None) == [0, 1, 2, 3, 4]
    assert wl.times_in("2017-01-20", "2017-01-29") == [1, 2, 3]
    assert wl.times_in("2017-01-10", "2017-01-27") == [0, 1, 2]


def test_tile_keys_are_seeded_and_inside_the_data():
    ka, kb = wl.TileKeys(random.Random(5)), wl.TileKeys(random.Random(5))
    assert [r["path"] for r in ka.batch(50)] == [r["path"] for r in kb.batch(50)]
    for r in wl.TileKeys(random.Random(5)).batch(500):
        assert (r["x"], r["y"]) in wl.data_tiles(r["z"])


def test_tile_batch_mix_is_the_same_for_every_seed():
    def mix(seed):
        reqs = wl.TileKeys(random.Random(seed)).batch(600)
        keys = Counter((r["var"], r["z"], r["x"], r["y"], r["time"]) for r in reqs)
        forms = Counter("wmts" if r["path"].startswith("/wmts") else
                        "override" if "cbar=" in r["path"] else "plain" for r in reqs)
        return keys, forms

    (ka, fa), (kb, fb) = mix(1), mix(2)
    assert fa == fb == {"wmts": 120, "override": 90, "plain": 390}
    assert all(abs(ka[k] - kb[k]) <= 1 for k in set(ka) | set(kb))


def test_fixed_count_arrivals_send_the_expected_count():
    a = stats.fixed_count_arrivals(50.0, 10.0, 23.0, random.Random(3))
    b = stats.fixed_count_arrivals(50.0, 10.0, 23.0, random.Random(4))
    assert len(a) == len(b) == 650
    assert a == sorted(a) and all(10.0 <= t < 23.0 for t in a)
    assert a != b


def test_decode_png_reads_all_row_filters():
    import struct
    import zlib

    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, size=(6, 5, 4), dtype=np.uint8)
    stride = 5 * 4
    raw, prev = b"", np.zeros(stride, np.int32)
    for r in range(6):
        f = r % 5
        line = img[r].reshape(-1).astype(np.int32)
        enc = np.zeros(stride, np.int32)
        for i in range(stride):
            a = line[i - 4] if i >= 4 else 0
            b = prev[i]
            c = prev[i - 4] if i >= 4 else 0
            p = a + b - c
            paeth = a if abs(p - a) <= abs(p - b) and abs(p - a) <= abs(p - c) else (
                b if abs(p - b) <= abs(p - c) else c)
            pred = (0, a, b, (a + b) // 2, paeth)[f]
            enc[i] = (line[i] - pred) & 0xFF
        raw += bytes([f]) + enc.astype(np.uint8).tobytes()
        prev = line

    def chunk(tag, payload):
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload)))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 6, 8, 6, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), img)
    with pytest.raises(ValueError):
        decode_png(png[:20] + bytes([png[20] ^ 0xFF]) + png[21:])
