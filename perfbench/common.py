"""Shared plumbing for the benchmark: where it writes, how it starts Spark,
the cached fixture (corpus, served index, expected answers), memory and
percentile helpers.

Everything the benchmark writes lives under ``.perfbench/`` at the root of
the checkout it runs in (git-ignored): ``cache/`` keeps the fixture between
runs, ``run/`` is wiped at the start of every run and holds the Spark local
dirs, the warehouse, the churn index versions and every other scratch file.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), os.pardir))
WORK = os.path.join(ROOT, ".perfbench")
RUN_DIR = os.path.join(WORK, "run")
RESULTS_DIR = os.path.join(WORK, "results")

# Fixture geometry. The corpus is a fixed fixture (webgen's own seed): the
# run seed draws the query streams, the arriving documents and the
# takedowns from it. Building a corpus, an index and its expected answers
# per seed would cost ~60 s of Spark work per distinct seed.
CORPUS_SEED = 42
N_DOCS = 2000
FORMAT = 1  # bump when the cached fixture layout changes
DRIVER_MEMORY = "1g"
SHUFFLE_PARTITIONS = 32  # the CLI's default (cli.py --shuffle-partitions)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def n_shards() -> int:
    """Shards >= cores: WAND runs in its production regime (no sub-split)."""
    return max(4, nproc())


def cache_dir() -> str:
    return os.path.join(
        WORK, "cache", f"f{FORMAT}-c{CORPUS_SEED}-n{N_DOCS}-s{n_shards()}"
    )


def have_program() -> bool:
    return os.path.isfile(os.path.join(ROOT, "searchengine_spark", "__init__.py"))


def prepare_env() -> None:
    """Point every writer (Python, the JVM, Spark's local dirs, the
    workers' import path) inside the checkout, before Spark starts."""
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (spark-submit's launcher too): temp files in the checkout,
    # and no hsperfdata directory under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.chdir(RUN_DIR)  # derby.log / metastore_db, if anything makes them


def reset_run_dir() -> None:
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    os.makedirs(RUN_DIR)


def start_spark(app: str):
    from searchengine_spark.plans.session import get_spark

    spark = get_spark(
        app,
        master=f"local[{nproc()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
            "spark.local.dir": os.path.join(RUN_DIR, "local"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads per-stage counts back from the status
            # store; keep every job of a run, not the default last 1000
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    until it has exited (it would otherwise outlive us by a moment)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


# --- measurements ----------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this driver process plus the Spark JVM it
    launched (a descendant, behind spark-submit's shell)."""
    kids = _children()
    total = _hwm_kb(os.getpid())
    stack = list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        if _is_jvm(pid):
            total += _hwm_kb(pid)
        stack.extend(kids.get(pid, []))
    return total / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(base, f))
    return total


def index_bytes(index_path: str) -> int:
    """Bytes of the served artifacts of a sharded index."""
    return sum(
        dir_bytes(os.path.join(index_path, d))
        for d in ("blocks", "docs_sharded", "term_stats")
    )


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 100])."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank q-th percentile of n."""
    return n - max(1, math.ceil(q / 100.0 * n))


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)
