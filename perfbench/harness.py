"""Measurement plumbing: the Spark session sized to the host, span tracing,
peak RSS of the Spark processes, JVM GC time, and SQL metrics read from the
final adaptive plan of an executed query."""

from __future__ import annotations

import os
import sys
import threading
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "3g"  # well under the RAM of a small host
STOP_TIMEOUT_S = 60.0
RSS_INTERVAL_S = 0.1


def host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def make_session(base: str, workdir: str, cores: int):
    """A ``local[cores]`` session with ``cores`` shuffle partitions whose
    files and temp dirs stay under ``workdir``; ``HOME`` is ``base/home``,
    so the program's compiled decode kernels are cached there across runs.

    The environment is set before the JVM starts, because Python workers
    inherit it from the JVM: ``PYTHONPATH`` names the checkout (workers
    otherwise fail with ``ModuleNotFoundError: sequila_spark``) and
    ``PYSPARK_PYTHON`` names this interpreter, not a shell shim."""
    tmp = os.path.join(workdir, "tmp")
    home = os.path.join(base, "home")
    for d in (tmp, home, os.path.join(workdir, "spark-local")):
        os.makedirs(d, exist_ok=True)
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["HOME"] = home
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from pyspark.sql import SparkSession

    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and every process it started, and wait
    until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    children = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except Exception:
            proc.kill()
            proc.wait(timeout=STOP_TIMEOUT_S)
    deadline = time.time() + STOP_TIMEOUT_S
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") and not _zombie(p) for p in children):
        time.sleep(0.1)
    for p in children:
        if os.path.exists(f"/proc/{p}") and not _zombie(p):
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


# ---------------------------------------------------------------------------
# processes and memory


def descendants(root: int) -> list[int]:
    """PIDs of every live descendant of ``root`` (from /proc)."""
    kids: dict[int, list[int]] = {}
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(e))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root: int) -> int:
    """Summed resident memory of ``root``'s descendants: the Spark JVM
    and its Python workers, not the benchmark's own interpreter."""
    total = 0
    for p in descendants(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples ``tree_rss_bytes`` every ``RSS_INTERVAL_S`` on a thread
    while active and keeps the peak."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def gc_seconds(spark) -> float:
    """Accumulated collection time of every JVM garbage collector."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def full_gc(spark) -> None:
    """A JVM and a Python GC, so one measured run does not pay for the
    previous run's garbage."""
    import gc

    spark._jvm.java.lang.System.gc()
    gc.collect()


# ---------------------------------------------------------------------------
# SQL metrics of an executed query


def plan_metrics(df) -> list[tuple[str, str, int]]:
    """(node name, metric name, value) for every SQL metric in the final
    physical plan of ``df``'s last execution (call after an action on
    ``df`` itself, e.g. ``df.collect()``).  Walks through adaptive query
    stages into their exchanges; a reused exchange is counted once."""
    root = df._jdf.queryExecution().executedPlan()
    out: list[tuple[str, str, int]] = []
    seen: set[int] = set()
    system = df.sparkSession._jvm.java.lang.System
    todo = [root]
    while todo:
        node = todo.pop()
        ident = system.identityHashCode(node)
        if ident in seen:
            continue
        seen.add(ident)
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
            continue
        if "QueryStage" in node.getClass().getSimpleName():
            todo.append(node.plan())
            continue
        if name == "ReusedExchange":
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            out.append((name, kv._1(), int(kv._2().value())))
        children = node.children()
        for i in range(children.size()):
            todo.append(children.apply(i))
    return out


def metric_sum(metrics, node_prefix: str, metric: str) -> int:
    return sum(v for n, m, v in metrics if n.startswith(node_prefix) and m == metric)


def shuffle_bytes(metrics) -> int:
    return metric_sum(metrics, "Exchange", "shuffleBytesWritten")


def shuffle_records(metrics) -> int:
    return metric_sum(metrics, "Exchange", "shuffleRecordsWritten")


def generate_rows(metrics) -> int:
    return metric_sum(metrics, "Generate", "numOutputRows")


# ---------------------------------------------------------------------------
# tracing


class Tracer:
    """Spans recorded in memory: name, start, end (seconds since the
    tracer started), parent span index and trace id (one per workload
    iteration).  Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.trace_id = 0
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
