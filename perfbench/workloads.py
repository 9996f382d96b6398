"""The four workloads. Each drives the engine only through its public
functions and the HTTP facade, times what a user waits for, checks every
answer, and fills a :class:`Run`.

Each run makes SETUPS set-ups before it measures anything. A set-up opens
the index, builds the engine (and service) and answers one warm-up batch;
the first also starts the Spark session in this fresh process (JVM launch
and JIT warm-up included), the later ones reuse it. ``setup_s`` is the
median of the later, warm set-ups: what a restart of the serving stack
costs. The first one, ``cold_s``, is printed beside it and left out of the
median, which would otherwise just be the slowest warm set-up. No
measured operation pays first-use costs.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
import urllib.parse
import urllib.request

import common
import fixture
import layers
import queries
from spans import TimedEngine, TimedService, Tracer

SETUPS = 3  # one cold set-up, then the warm ones setup_s is the median of
BATCH_WINDOW_MS = 20.0  # micro-batcher window (serve)
BATCH_SIZE = 250  # distinct queries per offline batch
BATCH_NOMINAL_S = 7.5  # seconds of measurement one batch stands for
ARRIVAL_DOCS = 50  # documents per churn arrival
TAKEDOWN_DOCS = 3  # doc_ids taken down per churn cycle
MAX_CYCLES = 8
HTTP_TIMEOUT_S = 120.0
# loopback only: never route the benchmark's requests through a proxy
_OPENER = urllib.request.build_opener(urllib.request.ProxyHandler({}))


class Run:
    """Outcome of one run: named metrics with unit and sample count, plus
    attempted/failed operation counts. A failure is an error, a timeout or
    a wrong answer."""

    def __init__(self, workload: str, seed: int, seconds: float, tracer: Tracer):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.metrics: dict[str, dict] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def metric(self, name: str, value: float, unit: str, n: int = 1, **extra) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit, "n": n, **extra}

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def fail(self, what: str) -> None:
        self.check(False, what)

    def latency(self, prefix: str, samples_ms: list[float]) -> None:
        """Median and p90 with their sample count and how many lie beyond
        (the p90 is nearest-rank; it needs >= 100 samples for 10 beyond)."""
        n = len(samples_ms)
        samples = [round(x, 3) for x in samples_ms]
        self.metric(f"{prefix}_p50_ms", statistics.median(samples_ms), "ms", n=n,
                    beyond=n // 2, samples=samples)
        self.metric(f"{prefix}_p90_ms", common.percentile(samples_ms, 90), "ms", n=n,
                    beyond=common.beyond(n, 90))


# --- set-up -----------------------------------------------------------------


class Session:
    """Owns the run's SparkSession: started by the first set-up, and
    handed to the tracer, which reads Spark's counts back from it."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.spark = None

    def get(self):
        if self.spark is None:
            self.spark = self.tracer.spark = common.start_spark("perfbench")
        return self.spark

    def stop(self):
        if self.spark is not None:
            common.stop_spark(self.spark)
            self.spark = None


def _warm_queries(pool, n: int) -> list[tuple[int, str]]:
    slow = [q for k, q in pool if k not in queries.FAST_KINDS]
    return list(enumerate(slow[:n]))


def setup_engine(run: Run, session: Session, index_path: str, pool):
    """SETUPS × (session start, index open, engine, warm-up batch); the
    last engine stays up."""
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.wand import WandSearchEngine

    times = []
    engine = None
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark = session.get()
        engine = WandSearchEngine(spark, shards.read_sharded_index(spark, index_path))
        engine.search_batch(_warm_queries(pool, common.nproc()), top_k=2 * fixture.LIMIT).collect()
        times.append(time.perf_counter() - t0)
    _record_setup(run, times)
    return engine


def _record_setup(run: Run, times: list[float]) -> None:
    warm = times[1:] or times
    run.metric("setup_s", statistics.median(warm), "s", n=len(warm), cold_s=times[0])


# --- build --------------------------------------------------------------------


def build(run: Run, session: Session) -> None:
    """One-shot build of the cached pages in this fresh process: the JIT
    warm-up every spark-submit build pays stays in the timing. Set-up is
    the session start and opening the pages, once: a one-shot build has no
    warm restart to take a median over."""
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.bm25 import analyze_query
    from searchengine_spark.sources import webgen
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark = session.get()
    pages = spark.read.parquet(os.path.join(common.cache_dir(), "pages"))
    _record_setup(run, [time.perf_counter() - t0])

    out = os.path.join(common.RUN_DIR, "build", "index")
    t0 = time.perf_counter()
    with run.tracer.span(layers.BUILD_SPAN, spark_work=True), layers.spanned(
        run.tracer, shards, "shard_and_write_from_tokenized",
        "shards.shard_and_write_from_tokenized", spark_work=True,
    ):
        idx = shards.build_and_write_sharded(
            spark, pages, out, n_shards=common.n_shards()
        )
    dt = time.perf_counter() - t0

    run.check(idx.n_docs == common.N_DOCS, f"build n_docs {idx.n_docs} != {common.N_DOCS}")
    want = {}
    for k in range(webgen.N_PLANTED):
        (term,) = analyze_query(webgen.planted_term(k))[0].keys()
        want[term] = len(webgen.planted_doc_ids(k, common.N_DOCS))
    got = {
        r["term"]: int(r["df"])
        for r in idx.term_stats.filter(F.col("term").isin(list(want))).collect()
    }
    for term, df in want.items():
        run.check(got.get(term) == df, f"planted df {term}: {got.get(term)} != {df}")

    run.metric("build_docs_per_s", common.N_DOCS / dt, "docs/s")
    run.metric(
        "index_bytes_per_doc", common.index_bytes(out) / idx.n_docs, "B/doc"
    )


# --- serve --------------------------------------------------------------------


def _get(base: str, q: str) -> dict:
    url = f"{base}/api/search?" + urllib.parse.urlencode({"q": q, "limit": fixture.LIMIT})
    with _OPENER.open(url, timeout=HTTP_TIMEOUT_S) as resp:
        return json.loads(resp.read())


def _client(run, url_base, stream, deadline, expected, out, lock, tracer, cid):
    """Closed loop: the next request leaves when the previous answered."""
    i = 0
    while time.perf_counter() < deadline:
        q = stream[i % len(stream)]
        i += 1
        with tracer.span("serving.http", request_id=f"c{cid}-{i}"):
            t0 = time.perf_counter()
            try:
                body, err = _get(url_base, q), None
            except Exception as e:  # error or timeout: a failed request
                body, err = None, e
            t1 = time.perf_counter()
        with lock:
            if err is not None:
                run.fail(f"request {q!r}: {type(err).__name__}: {err}")
                continue
            got = [[r["doc_id"], r["score"]] for r in body["results"]]
            if run.check(fixture.same_answer(got, expected[q]), f"wrong answer for {q!r}"):
                out.append((t0, t1))


def serve(run: Run, session: Session) -> None:
    """nproc closed-loop HTTP clients against /api/search, micro-batcher
    on, over the cached index; queries drawn from the seeded Zipf mix."""
    from searchengine_spark import serving
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.wand import WandSearchEngine

    fx = fixture.load()
    expected = fx["serve_expected"]
    pool = fixture.serve_pool()
    index_path = os.path.join(common.cache_dir(), "index")
    tracer = run.tracer

    times = []
    server = service = thread = None
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        if server is not None:
            _stop_server(server, service, thread)
        spark = session.get()
        engine = WandSearchEngine(spark, shards.read_sharded_index(spark, index_path))
        service = serving.SearchService(
            spark, TimedEngine(engine, tracer), search_mode="wand",
            batch_window_ms=BATCH_WINDOW_MS,
        )
        server = serving.serve(TimedService(service, tracer), 0)
        thread = threading.Thread(target=server.serve_forever, daemon=True)
        thread.start()
        base = f"http://127.0.0.1:{server.server_address[1]}"
        # one warm-up micro-batch shaped like the measured ones: nproc
        # concurrent requests
        warm = [
            threading.Thread(target=_get, args=(base, q))
            for _i, q in _warm_queries(pool, common.nproc())
        ]
        for w in warm:
            w.start()
        for w in warm:
            w.join()
        times.append(time.perf_counter() - t0)
    _record_setup(run, times)

    clients = common.nproc()
    streams = [
        queries.ServeStream(pool, run.seed * 1000 + c).take(2000) for c in range(clients)
    ]
    tracer.begin()
    done: list[tuple[float, float]] = []
    lock = threading.Lock()
    start = time.perf_counter()
    deadline = start + run.seconds
    workers = [
        threading.Thread(
            target=_client,
            args=(run, base, streams[c], deadline, expected, done, lock, tracer, c),
            name=f"client-{c}",
        )
        for c in range(clients)
    ]
    for w in workers:
        w.start()
    for w in workers:
        w.join(timeout=run.seconds + 2 * HTTP_TIMEOUT_S)
        if w.is_alive():
            run.fail(f"{w.name} did not finish")
    _stop_server(server, service, thread)
    if done:
        end = max(t1 for _t0, t1 in done)
        run.latency("search", [(t1 - t0) * 1000.0 for t0, t1 in done])
        run.metric("search_qps", len(done) / (end - start), "1/s", n=len(done))
    run.metric("index_bytes_per_doc", common.index_bytes(index_path) / fx["n_docs"], "B/doc")


def _stop_server(server, service, thread) -> None:
    server.shutdown()
    server.server_close()
    thread.join(timeout=10)
    if service.batcher is not None:
        service.batcher.close()


# --- batch ----------------------------------------------------------------------


def _ranked(df, n_queries: int) -> list[list]:
    return [
        [[r["doc_id"], float(r["score"])] for r in rows]
        for rows in fixture.ranked_by_query(df, n_queries)
    ]


def batch(run: Run, session: Session) -> None:
    """Offline batches of BATCH_SIZE distinct queries, one search_batch
    call each. The number of batches follows from ``--seconds`` alone
    (BATCH_NOMINAL_S each, at least two), never from how fast they run, so
    every run, on every commit, measures the same sample."""
    expected = fixture.load()["batch_expected"]
    order = queries.batch_order(fixture.batch_pool(), run.seed)
    # at least two; at most what the pool holds without a repeat
    n_batches = min(max(2, round(run.seconds / BATCH_NOMINAL_S)), len(order) // BATCH_SIZE)
    tracer = run.tracer
    engine = setup_engine(
        run, session, os.path.join(common.cache_dir(), "index"), fixture.serve_pool()
    )
    tracer.begin()

    lat, n_q = [], 0
    for b in range(n_batches):
        qs = order[b * BATCH_SIZE: (b + 1) * BATCH_SIZE]
        t0 = time.perf_counter()
        with tracer.span("wand.search_batch", spark_work=True, n_queries=len(qs)) as rec:
            got = _ranked(
                engine.search_batch(list(enumerate(qs)), top_k=fixture.BATCH_TOPK),
                len(qs),
            )
            if rec is not None:
                rec["n_results"] = sum(map(len, got))
        lat.append((time.perf_counter() - t0) * 1000.0)
        n_q += len(qs)
        for q, g in zip(qs, got):
            run.check(fixture.same_answer(g, expected[q]), f"wrong answer for {q!r}")
    run.latency("search", lat)
    qps = n_q / (sum(lat) / 1000.0)
    run.metric("search_qps", qps, "1/s", n=n_q)
    run.metric("batch_qps", qps, "q/s", n=n_q)


# --- churn ----------------------------------------------------------------------


def churn(run: Run, session: Session) -> None:
    """Writes beside reads, from the cached base index. Each cycle: an
    arrival → run_incremental → re-shard → publish → queries; a takedown
    → build_mask → masked queries; a compaction (apply_tombstones → write
    → publish) → queries. Cycles repeat until the run's time is up."""
    from pyspark.sql import functions as F
    from searchengine_spark.functions.textproc import doc_id_for_url
    from searchengine_spark.operators import manifest, merge, shards, tombstones
    from searchengine_spark.plans.wand import WandSearchEngine
    from searchengine_spark.sources import webgen
    from searchengine_spark.streaming import incremental

    pool = fixture.serve_pool()
    base = os.path.join(common.cache_dir(), "index")
    tracer = run.tracer
    setup_engine(run, session, base, pool)
    spark = session.spark
    tracer.begin()

    work = os.path.join(common.RUN_DIR, "churn")
    input_dir, stream_dir, serving_dir = (
        os.path.join(work, d) for d in ("arrivals", "stream", "serving")
    )
    base_tok = spark.read.parquet(os.path.join(base, "tokenized"))
    manifest.publish(serving_dir, base, label="base")

    n_live = common.N_DOCS
    killed: list[str] = []
    lat: list[float] = []
    n_q = 0
    fresh, dvis, comp = [], [], []

    def ask(engine, qs, name):
        nonlocal n_q
        t0 = time.perf_counter()
        with tracer.span(name, spark_work=True, n_queries=len(qs)) as rec:
            got = _ranked(
                engine.search_batch(list(enumerate(qs)), top_k=fixture.BATCH_TOPK),
                len(qs),
            )
            if rec is not None:
                rec["n_results"] = sum(map(len, got))
        lat.append((time.perf_counter() - t0) * 1000.0)
        n_q += len(qs)
        return got

    def open_current():
        with tracer.span("shards.read_sharded_index", spark_work=True):
            return manifest.read_current(spark, serving_dir)

    def no_killed(got, what):
        dead = set(killed)
        run.check(
            not any(d in dead for rows in got for d, _s in rows),
            f"{what}: a taken-down doc_id surfaced",
        )

    start = time.perf_counter()
    for c in range(MAX_CYCLES):
        qs = queries.churn_checks(pool, run.seed, c)
        rng = random.Random(run.seed * 31 + c)

        # ---- arrival → segment → re-shard → publish → answered ----------
        first = common.N_DOCS + (run.seed % 1000) * ARRIVAL_DOCS * MAX_CYCLES
        pdf = webgen.generate_pandas(
            ARRIVAL_DOCS, seed=common.CORPUS_SEED, start=first + c * ARRIVAL_DOCS
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(input_dir)
        t0 = time.perf_counter()
        with tracer.span("incremental.run_incremental", by_window=True):
            segs = incremental.run_incremental(spark, input_dir, stream_dir)
        tok = base_tok
        for s in segs:
            tok = tok.unionByName(spark.read.parquet(f"{s}/tokenized"))
        if killed:
            tok = tok.filter(~F.col("doc_id").isin(killed))
        vpath = os.path.join(work, f"v{c}")
        with tracer.span(
            "shards.shard_and_write_from_tokenized", spark_work=True, role="reshard"
        ):
            shards.shard_and_write_from_tokenized(
                spark, tok, vpath, n_shards=common.n_shards()
            )
        with tracer.span("manifest.publish"):
            manifest.publish(serving_dir, vpath, label=f"arrival-{c}")
        served = open_current()
        unmasked = ask(WandSearchEngine(spark, served), qs, "wand.search_batch")
        fresh.append(time.perf_counter() - t0)
        n_live += ARRIVAL_DOCS
        run.check(served.n_docs == n_live, f"published n_docs {served.n_docs} != {n_live}")
        arrived = [doc_id_for_url(u) for u in pdf["url"]]
        run.check(
            served.docs.filter(F.col("doc_id").isin(arrived)).count() == len(arrived),
            f"cycle {c}: not every arrival is in the published index",
        )
        no_killed(unmasked, "after arrival")

        # ---- takedown → mask → masked engine answered --------------------
        hits = sorted({d for rows in unmasked for d, _s in rows})
        kill = rng.sample(hits, min(TAKEDOWN_DOCS, len(hits)))
        t0 = time.perf_counter()
        tomb = spark.createDataFrame([(d,) for d in kill], "doc_id string")
        with tracer.span("tombstones.build_mask", spark_work=True):
            mask = tombstones.build_mask(spark, served, tomb)
        killed.extend(kill)
        masked = ask(
            WandSearchEngine(spark, served, mask=mask), qs, "wand.masked_search_batch"
        )
        dvis.append(time.perf_counter() - t0)
        no_killed(masked, "masked")

        # ---- compaction → publish → same answers as the mask ---------------
        cpath = os.path.join(work, f"c{c}")
        t0 = time.perf_counter()
        with tracer.span("merge.compact"):
            with tracer.span("merge.apply_tombstones", spark_work=True):
                compacted = merge.apply_tombstones(spark, served, tomb)
            with tracer.span(
                "shards.write_sharded_index", spark_work=True, role="compact"
            ):
                shards.write_sharded_index(compacted, cpath)
            with tracer.span("manifest.publish"):
                manifest.publish(serving_dir, cpath, label=f"compacted-{c}")
        comp.append(time.perf_counter() - t0)
        n_live -= len(kill)
        served = open_current()
        after = ask(WandSearchEngine(spark, served), qs, "wand.search_batch")
        run.check(served.n_docs == n_live, f"compacted n_docs {served.n_docs} != {n_live}")
        run.check(
            all(fixture.same_answer(a, m) for a, m in zip(after, masked)),
            f"cycle {c}: post-compaction answers differ from masked answers",
        )
        no_killed(after, "after compaction")
        if time.perf_counter() - start >= run.seconds:
            break

    cycles = len(fresh)
    run.metric("freshness_s", statistics.median(fresh), "s", n=cycles)
    run.metric("delete_visible_s", statistics.median(dvis), "s", n=cycles)
    run.metric("compact_s", statistics.median(comp), "s", n=cycles)
    run.latency("search", lat)
    run.metric("churn_search_p50_ms", run.metrics["search_p50_ms"]["value"], "ms", n=len(lat))
    run.metric("search_qps", n_q / (sum(lat) / 1000.0), "1/s", n=n_q)
    run.metric(
        "index_bytes_per_doc",
        common.index_bytes(manifest.current_path(serving_dir)) / n_live, "B/doc",
    )


WORKLOADS = {"build": build, "serve": serve, "batch": batch, "churn": churn}
