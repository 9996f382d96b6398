"""Per-layer metrics of the traced run, computed from its spans.

Every metric is reported on every workload; a layer a workload does not
run reads 0. Times in seconds are sums over the run, times in ms are means
per call, ``*_per_*`` are ratios of sums.

``bm25.analyze_query`` runs inside ``WandSearchEngine.search_batch`` on
the driver; the traced run rebinds the name ``plans.wand`` calls it by to a
spanning wrapper (:func:`instrument`) and restores it afterwards, so the
program's code is unchanged. The build workload spans the second stage of
``shards.build_and_write_sharded`` the same way (:func:`spanned`).
"""

from __future__ import annotations

import contextlib
import functools

import spans as sp

BUILD_SPAN = "shards.build_and_write_sharded"


@contextlib.contextmanager
def spanned(tracer, module, attr: str, name: str, **span_kw):
    """Within the block, rebind ``module.attr`` to a wrapper that spans
    each call; callers that look the function up by name go through it.
    Does nothing when tracing is off."""
    if not tracer.enabled:
        yield
        return
    original = getattr(module, attr)

    @functools.wraps(original)
    def wrapper(*a, **kw):
        with tracer.span(name, **span_kw):
            return original(*a, **kw)

    setattr(module, attr, wrapper)
    try:
        yield
    finally:
        setattr(module, attr, original)


def instrument(tracer):
    """Span every ``bm25.analyze_query`` call ``plans.wand`` makes, within
    the block."""
    from searchengine_spark.plans import wand

    return spanned(tracer, wand, "analyze_query", "bm25.analyze_query")


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(tracer, workload: str) -> dict:
    totals = tracer.collect_spark_counts()
    named = tracer.named
    m: dict[str, tuple[float, str]] = {}

    # a build span minus its shard_and_write_from_tokenized child is stage
    # 1 (tokenize + write); the child runs under a job group of its own, so
    # the build span's Spark counts are stage 1's
    whole = named(BUILD_SPAN)
    m["index_build.tokenize_s"] = (sum(sp.self_time(tracer, s) for s in whole), "s")
    m["index_build.executor_run_s"] = (sp.total(whole, "executorRunTime") / 1000.0, "s")

    shard_w = [
        s for s in named("shards.")
        if s["name"] not in (BUILD_SPAN, "shards.read_sharded_index")
    ]
    m["shards.encode_write_s"] = (sum(sp.self_time(tracer, s) for s in shard_w), "s")
    m["shards.shuffle_write_bytes"] = (sp.total(shard_w, "shuffleWriteBytes"), "B")
    m["shards.spill_bytes"] = (
        sp.total(shard_w, "memoryBytesSpilled") + sp.total(shard_w, "diskBytesSpilled"), "B"
    )
    m["shards.jobs"] = (sp.total(shard_w, "jobs"), "count")
    m["shards.output_bytes"] = (sp.total(shard_w, "outputBytes"), "B")
    m["shards.reshard_s"] = (
        sp.wall([s for s in shard_w if s.get("role") == "reshard"]), "s"
    )

    m["bm25.analyze_query_ms"] = (
        _mean([(s["end"] - s["start"]) * 1000.0 for s in named("bm25.analyze_query")]), "ms"
    )

    sb = named("wand.search_batch")
    n = len(sb)
    nq = sum(s.get("n_queries", 0) for s in sb)
    http = named("serving.api_search")
    n_res = sum(s.get("n_results", 0) for s in sb + http)
    m["wand.search_batch_ms"] = (_ratio(sp.wall(sb) * 1000.0, n), "ms")
    m["wand.jobs_per_batch"] = (_ratio(sp.total(sb, "jobs"), n), "count")
    m["wand.stages_per_batch"] = (_ratio(sp.total(sb, "stages"), n), "count")
    m["wand.tasks_per_batch"] = (_ratio(sp.total(sb, "numTasks"), n), "count")
    m["wand.executor_run_ms_per_query"] = (_ratio(sp.total(sb, "executorRunTime"), nq), "ms")
    m["wand.input_bytes_per_query"] = (_ratio(sp.total(sb, "inputBytes"), nq), "B")
    m["wand.input_records_per_result"] = (_ratio(sp.total(sb, "inputRecords"), n_res), "ratio")
    masked = named("wand.masked_search_batch")
    m["wand.masked_search_batch_ms"] = (_ratio(sp.wall(masked) * 1000.0, len(masked)), "ms")

    # serving: batch sizes the micro-batcher formed, how long a request
    # queued before the batch that answered it started, and the HTTP cost
    # around the service call (client wall minus handler wall, as means)
    serve_batches = sorted(s["start"] for s in sb) if workload == "serve" else []
    waits = []
    for s in http:
        nxt = next((b for b in serve_batches if b >= s["start"]), None)
        if nxt is not None and nxt <= s["end"]:
            waits.append((nxt - s["start"]) * 1000.0)
    clients = named("serving.http")
    m["serving.batch_size_mean"] = (_ratio(nq, n) if workload == "serve" else 0.0, "count")
    m["serving.queue_wait_ms"] = (_mean(waits), "ms")
    m["serving.http_ms"] = (
        max(0.0, _mean([(s["end"] - s["start"]) * 1000.0 for s in clients])
            - _mean([(s["end"] - s["start"]) * 1000.0 for s in http])) if http else 0.0,
        "ms",
    )

    m["incremental.segment_s"] = (sp.wall(named("incremental.")), "s")
    pub = named("manifest.publish")
    m["manifest.publish_ms"] = (_ratio(sp.wall(pub) * 1000.0, len(pub)), "ms")
    m["tombstones.build_mask_s"] = (sp.wall(named("tombstones.")), "s")
    m["merge.compact_s"] = (sp.wall(named("merge.compact")), "s")
    m["merge.output_bytes"] = (
        sp.total([s for s in shard_w if s.get("role") == "compact"], "outputBytes"), "B"
    )

    m["spark.jobs"] = (totals["jobs"], "count")
    m["spark.failed_tasks"] = (totals["numFailedTasks"], "count")
    return {k: {"value": float(v), "unit": u, "n": 1} for k, (v, u) in m.items()}
