"""In-memory spans for the traced run, with Spark's own counts per span.

A span records name, start, end, parent, request id and thread. While a
span that counts Spark work is open, its thread runs under a job group of
its own, and at the end of the run Spark's status tracker and status store
give the jobs, stages, tasks, bytes and executor time of that group. The
group is restored when the span closes, except for ``keep_group`` spans:
there it stays set, so the result collect a caller runs next (the
micro-batcher's, after ``search_batch`` returns) is counted with the span
that produced the plan.
Structured Streaming runs its micro-batches under a job group of its own,
so a ``by_window`` span instead claims every job submitted while it was
open (nothing else submits jobs while one runs).

With tracing off, ``span`` only yields: the untraced run pays for one
context manager per call and nothing else.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time

UNATTRIBUTED = "perfbench-other"
STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.job_base = 0  # first job id of the measured phase

    def begin(self) -> None:
        """Start of the measured phase: drop set-up spans, count Spark
        jobs from here on."""
        if self.enabled:
            self.spans.clear()
            self.job_base = self.next_job_id()

    def next_job_id(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    @contextlib.contextmanager
    def span(self, name: str, spark_work: bool = False, by_window: bool = False,
             keep_group: bool = False, request_id=None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "request_id": request_id,
            "thread": threading.current_thread().name,
            **attrs,
        }
        if spark_work or by_window:
            rec["group"] = f"perfbench-{rec['id']}"
            self.spark.sparkContext.setJobGroup(rec["group"], name)
        if by_window:
            rec["job_lo"] = self.next_job_id()
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if by_window:
                rec["job_hi"] = self.next_job_id()
            if "group" in rec and not keep_group:
                outer = next((s["group"] for s in reversed(stack) if "group" in s), None)
                self.spark.sparkContext.setJobGroup(outer or UNATTRIBUTED, "")
            with self._lock:
                self.spans.append(rec)

    # ------------------------------------------------------------------
    def collect_spark_counts(self) -> dict:
        """Fill each Spark-work span with its jobs/stages/tasks/bytes;
        return the totals of every job since ``job_base``."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        stage_cache: dict[int, dict | None] = {}

        def stage(sid: int):
            if sid not in stage_cache:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage evicted or never run
                    stage_cache[sid] = None
                else:
                    status = str(sd.status())
                    stage_cache[sid] = (
                        None if status in ("SKIPPED", "PENDING")
                        else {f: int(getattr(sd, f)()) for f in STAGE_FIELDS}
                    )
            return stage_cache[sid]

        def counts(job_ids) -> dict:
            out = {"jobs": 0, "stages": 0, **{f: 0 for f in STAGE_FIELDS}}
            seen: set[int] = set()
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                out["jobs"] += 1
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    s = stage(sid)
                    if s is None:
                        continue
                    out["stages"] += 1
                    for f in STAGE_FIELDS:
                        out[f] += s[f]
            return out

        for rec in self.spans:
            if "job_lo" in rec:
                rec["spark"] = counts(range(rec["job_lo"], rec["job_hi"]))
            elif "group" in rec:
                rec["spark"] = counts(tracker.getJobIdsForGroup(rec["group"]))
        return counts(range(self.job_base, self.next_job_id()))

    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]


def wall(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def self_time(tracer: Tracer, rec: dict) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = sorted(
        (s["start"], s["end"]) for s in tracer.spans if s["parent"] == rec["id"]
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        lo, hi = max(lo, rec["start"]), min(hi, rec["end"])
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (rec["end"] - rec["start"]) - covered


def total(spans: list[dict], field: str) -> int:
    return sum(s.get("spark", {}).get(field, 0) for s in spans)


class TimedEngine:
    """Proxy engine handed to SearchService: spans each search_batch (the
    micro-batcher's dispatch thread calls it) and records the batch size."""

    def __init__(self, engine, tracer: Tracer, name: str = "wand.search_batch"):
        self._engine = engine
        self._tracer = tracer
        self._name = name

    def __getattr__(self, attr):
        return getattr(self._engine, attr)

    def search_batch(self, queries, *args, **kwargs):
        with self._tracer.span(
            self._name, spark_work=True, keep_group=True, n_queries=len(queries)
        ):
            return self._engine.search_batch(queries, *args, **kwargs)


class TimedService:
    """Proxy service handed to serve(): spans each api_search call on the
    HTTP handler thread."""

    def __init__(self, service, tracer: Tracer):
        self._service = service
        self._tracer = tracer

    def __getattr__(self, attr):
        return getattr(self._service, attr)

    def api_search(self, query, *args, **kwargs):
        with self._tracer.span("serving.api_search") as rec:
            out = self._service.api_search(query, *args, **kwargs)
            if rec is not None:
                rec["query"], rec["n_results"] = query, out["total"]
            return out
