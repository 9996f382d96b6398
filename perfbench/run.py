"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

runs one workload in this (fresh) process and prints each metric by name,
unit and sample count, then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps each public call in a span, reports
the per-layer metrics, writes the spans to ``.perfbench/traces/`` and prints
the tracing overhead against the last untraced run of the same workload and
seed. ``--workload all`` runs build, serve, batch and churn, each in a child
process of its own. Exit status: 0 when every answer checked out, 1 when
any operation failed, 2 when the program under test is missing.

The first run in a checkout builds the cached fixture (corpus, served
index, expected answers) in a child process first; see fixture.py.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

import common

SCRIPT = os.path.abspath(__file__)  # before any chdir
# the end-to-end metrics BENCHMARK.json lists
END_TO_END = ("setup_s", "search_p50_ms", "search_qps", "peak_rss_mb")
WORKLOAD_NAMES = ("build", "serve", "batch", "churn")
# units of the metrics the tracing overhead is reported on
RATE_OR_TIME = ("ms", "s", "1/s", "q/s", "docs/s")


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--prepare", action="store_true", help="build the cached fixture and exit")
    a = p.parse_args(argv)
    if not a.prepare and a.workload is None:
        p.error("--workload is required")
    return a


def _child(argv: list[str]) -> int:
    """Run this script again in a child process and wait for it."""
    proc = subprocess.Popen([sys.executable, SCRIPT, *argv])
    try:
        return proc.wait()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def _print_metrics(workload: str, metrics: dict) -> None:
    for name, m in metrics.items():
        extra = f", {m['beyond']} beyond" if "beyond" in m else ""
        if "cold_s" in m:
            extra += f", cold {m['cold_s']:.6g} s"
        print(f"{workload} {name} = {m['value']:.6g} {m['unit']} (n={m['n']}{extra})")


def run_all(a) -> int:
    """Each workload in a fresh process; one summary line per metric."""
    merged: dict = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    worst = 0  # highest child exit status
    for w in WORKLOAD_NAMES:
        rc = _child(["--workload", w, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace)])
        worst = max(worst, rc)
        path = os.path.join(common.RESULTS_DIR, f"{w}-seed{a.seed}-trace{a.trace}.json")
        if rc not in (0, 1) or not os.path.exists(path):
            merged["correct"] = False
            continue
        res = common.read_json(path)
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["all_metrics"].items():
            merged["metrics"][f"{w}.{k}"] = v
    print("== all workloads ==")
    for k, m in merged["metrics"].items():
        w, name = k.split(".", 1)
        _print_metrics(w, {name: m})
    print(json.dumps({
        "correct": merged["correct"], "attempted": max(1, merged["attempted"]),
        "failed": merged["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in merged["metrics"].items()},
    }))
    return 0 if merged["correct"] else max(worst, 1)


def run_one(a) -> int:
    import layers
    import workloads
    from spans import Tracer

    if not os.path.exists(os.path.join(common.cache_dir(), "fixture.json")):
        rc = _child(["--prepare"])
        if rc != 0:
            print(f"fixture preparation failed (exit {rc})", file=sys.stderr)
            return rc
    tracer = Tracer(enabled=bool(a.trace))
    run = workloads.Run(a.workload, a.seed, a.seconds, tracer)
    session = workloads.Session(tracer)
    per_layer: dict = {}
    t0 = time.perf_counter()
    try:
        with layers.instrument(tracer):
            try:
                workloads.WORKLOADS[a.workload](run, session)
            except Exception as e:  # a run that dies is a failed run, reported
                traceback.print_exc()
                run.fail(f"{a.workload} aborted: {type(e).__name__}: {e}")
        if session.spark is not None:
            run.metric("peak_rss_mb", common.peak_rss_mb(), "MB")
            if a.trace:
                per_layer = layers.per_layer(tracer, a.workload)
                common.write_json(
                    os.path.join(common.WORK, "traces", f"{a.workload}-seed{a.seed}.json"),
                    tracer.spans,
                )
    finally:
        session.stop()
    run.metric("failed_frac", run.failed / max(1, run.attempted), "ratio", n=run.attempted)
    print(f"# {a.workload}: seed {a.seed}, {time.perf_counter() - t0:.1f} s wall, "
          f"{run.attempted} checked, {run.failed} failed")
    for f in run.failures:
        print(f"FAILED: {f}")
    _print_metrics(a.workload, run.metrics)
    if a.trace:
        _print_metrics(a.workload, per_layer)
        _print_overhead(a, run)
        metrics = per_layer
    else:
        metrics = {k: run.metrics[k] for k in END_TO_END if k in run.metrics}

    correct = run.failed == 0
    common.write_json(
        os.path.join(common.RESULTS_DIR, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
        {"correct": correct, "attempted": run.attempted, "failed": run.failed,
         "all_metrics": run.metrics},
    )
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def _print_overhead(a, run) -> None:
    path = os.path.join(common.RESULTS_DIR, f"{a.workload}-seed{a.seed}-trace0.json")
    if not os.path.exists(path):
        print("tracing overhead: no untraced run of this workload and seed to compare")
        return
    base = common.read_json(path)["all_metrics"]
    for name, m in run.metrics.items():
        if name in base and m["unit"] in RATE_OR_TIME and name != "setup_s" and base[name]["value"]:
            pct = 100.0 * (m["value"] / base[name]["value"] - 1.0)
            print(f"tracing overhead {name}: {pct:+.1f}% "
                  f"({m['value']:.6g} traced vs {base[name]['value']:.6g} untraced)")


def main(argv=None) -> int:
    a = _args(argv)
    if not common.have_program():
        print("searchengine_spark not found beside perfbench/: run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    if a.prepare:
        common.prepare_env()
        import fixture

        fixture.prepare()
        return 0
    if a.workload == "all":
        return run_all(a)
    common.reset_run_dir()
    common.prepare_env()
    return run_one(a)


if __name__ == "__main__":
    sys.exit(main())
