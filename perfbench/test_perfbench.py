"""Tests of the benchmark's own logic (no Spark): deterministic inputs,
percentile sample counts, and failure accounting.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import fixture  # noqa: E402
import queries  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, self_time  # noqa: E402

VOCAB = [f"w{i}" for i in range(5000)]
PLANTED = [f"zqplanted{k}" for k in range(8)]


def test_pools_are_deterministic_and_distinct():
    a, b = queries.pool(VOCAB, PLANTED), queries.pool(VOCAB, PLANTED)
    assert a == b
    assert len({q for _k, q in a}) == len(a)
    assert {k for k, _q in a} == {"head", "stop", "oov", "mid", "tail", "planted", "multi"}
    bp = queries.batch_pool(VOCAB, 500)
    assert bp == queries.batch_pool(VOCAB, 500) and len(set(bp)) == 500


def test_streams_follow_the_seed():
    pool = queries.pool(VOCAB, PLANTED)
    s1 = queries.ServeStream(pool, 7).take(500)
    assert s1 == queries.ServeStream(pool, 7).take(500)
    assert s1 != queries.ServeStream(pool, 8).take(500)
    assert queries.batch_order(VOCAB[:50], 3) == queries.batch_order(VOCAB[:50], 3)
    assert queries.batch_order(VOCAB[:50], 3) != queries.batch_order(VOCAB[:50], 4)
    assert queries.churn_checks(pool, 5, 0) == queries.churn_checks(pool, 5, 0)
    assert queries.churn_checks(pool, 5, 0) != queries.churn_checks(pool, 5, 1)


def test_serve_mix_keeps_fast_share_away_from_p50_and_p90():
    pool = queries.pool(VOCAB, PLANTED)
    kind = dict((q, k) for k, q in pool)
    draws = queries.ServeStream(pool, 1).take(20000)
    fast = sum(kind[q] in queries.FAST_KINDS for q in draws) / len(draws)
    assert abs(fast - queries.FAST_SHARE) < 0.01
    assert abs(fast - 0.5) > 0.15 and abs(fast - 0.1) > 0.1
    # Zipf popularity: queries repeat, the most popular one often
    top = max(draws.count(q) for q in set(draws))
    assert top > 20 * len(draws) / len(pool)


def test_percentile_reports_samples_beyond():
    xs = list(range(1, 101))
    assert common.percentile(xs, 50) == 50 and common.beyond(100, 50) == 50
    assert common.percentile(xs, 90) == 90 and common.beyond(100, 90) == 10
    assert common.beyond(12, 90) == 1  # too few samples for a p90 claim


def test_same_answer_tolerance():
    want = [["a", 1.0], ["b", 0.5]]
    assert fixture.same_answer([["a", 1.0 + 5e-10], ["b", 0.5]], want)
    assert not fixture.same_answer([["a", 1.0 + 5e-9], ["b", 0.5]], want)
    assert not fixture.same_answer([["b", 0.5], ["a", 1.0]], want)
    assert not fixture.same_answer([["a", 1.0]], want)


def test_run_counts_failures():
    run = workloads.Run("serve", 1, 1.0, Tracer())
    assert run.check(True, "fine")
    assert not run.check(False, "wrong")
    run.fail("boom")
    assert (run.attempted, run.failed) == (3, 2)
    assert run.failures == ["wrong", "boom"]


class _Stub(BaseHTTPRequestHandler):
    """/api/search stub: 'good' answers right, 'bad' answers wrong,
    anything else fails with a 500."""

    def log_message(self, *a):
        pass

    def do_GET(self):
        q = self.path.split("q=")[1].split("&")[0]
        if q not in ("good", "bad"):
            self.send_response(500)
            self.end_headers()
            return
        doc = "d1" if q == "good" else "d2"
        body = json.dumps({"results": [{"doc_id": doc, "score": 1.0}], "total": 1}).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


def test_wrong_answer_and_exception_count_as_failures():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _Stub)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        run = workloads.Run("serve", 1, 1.0, Tracer())
        expected = {q: [["d1", 1.0]] for q in ("good", "bad", "boom")}
        done: list = []
        workloads._client(
            run, f"http://127.0.0.1:{server.server_address[1]}",
            ["good", "bad", "boom"], time.perf_counter() + 0.3, expected,
            done, threading.Lock(), run.tracer, 0,
        )
    finally:
        server.shutdown()
        server.server_close()
        t.join(timeout=5)
    assert not t.is_alive()
    assert run.attempted >= 3
    assert run.failed == run.attempted - len(done)
    assert any("wrong answer" in f for f in run.failures)
    assert any("HTTPError" in f for f in run.failures)
    assert len(done) >= 1  # only correct answers give latency samples


def test_self_time_subtracts_children():
    tr = Tracer()
    tr.spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 4.0},
        {"id": 4, "parent": 1, "start": 6.0, "end": 7.0},
    ]
    assert self_time(tr, tr.spans[0]) == 10.0 - 3.0 - 1.0


def test_spanned_rebinds_only_inside_the_block():
    import types

    import layers

    mod = types.SimpleNamespace()
    mod.stage = lambda x: x + 1
    original = mod.stage
    with layers.spanned(Tracer(), mod, "stage", "m.stage"):
        assert mod.stage is original  # tracing off: untouched
    tr = Tracer(enabled=True)
    with tr.span("outer"), layers.spanned(tr, mod, "stage", "m.stage"):
        assert mod.stage(1) == 2
    assert mod.stage is original
    outer, = tr.named("outer")
    child, = tr.named("m.stage")
    assert child["parent"] == outer["id"]
