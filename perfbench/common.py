"""Shared pieces of the benchmark: host-derived session, scratch root,
spans, Spark status-store counters, statistics and the result line.

Nothing here imports pyspark at module import time: ``prepare_env``
must run first so the JVM, the Python workers and every temp file land
under the run's scratch root inside the checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
import uuid
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH_PARENT = os.path.join(ROOT, ".perfbench_tmp")
#: an operation (query, cycle, catch-up) that takes longer counts as
#: failed (timed out) even when it completes
OP_TIMEOUT_S = 60.0


# ---------------------------------------------------------------------------
# host + session
# ---------------------------------------------------------------------------

def process_start_time() -> float:
    """Wall-clock time this process was started (from /proc), so set-up
    time includes interpreter start-up; falls back to now."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
        return btime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, StopIteration):
        return time.time()


def host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def make_scratch() -> str:
    """Per-run scratch root under the checkout (landing, checkpoints,
    warehouses, Spark local dirs, temp files); ``remove_scratch`` deletes
    it."""
    path = os.path.join(SCRATCH_PARENT, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(path)
    return path


def remove_scratch(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(SCRATCH_PARENT)  # only when no other run is using it
    except OSError:
        pass


def prepare_env(scratch: str) -> int:
    """Size the session from the host through the package's own
    ``SPARK_GRAFT_CPUS``/``SPARK_GRAFT_DRIVER_MEM`` overrides (values
    already set by the caller win) and point every temp location at the
    scratch root. Must run before pyspark starts a JVM. Returns the host's
    core count.

    Task slots are half the cores: the driver JVM's scheduler, JIT and GC
    threads, this process and its Python workers need the rest. On a
    4-vCPU VM with a slot per core, the warm query pass (without the
    k-means entry) spread 0.27 of its median over five seeds, against
    0.06 with two slots, and ran 10 % slower."""
    cores = host_cores()
    heap_mb = min(host_memory_mb() // 4, 8192)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(cores // 2, 1)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{heap_mb}m")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ.pop("SPARK_MASTER", None)
    import tempfile

    tempfile.tempdir = tmp
    return cores


def start_session(scratch: str, app: str):
    from weather_data_ingestion_gcp_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    spark = get_spark(
        app,
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — best effort; the process wait below decides
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share of
    time the hypervisor ran something else on this host's vCPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def host_block(spark, cores: int) -> dict:
    import platform

    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "cores": cores,
        "memory_mb": host_memory_mb(),
        "master": spark.sparkContext.master,
        "driver_heap": conf.get("spark.driver.memory", "?"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "java": spark._jvm.System.getProperty("java.version"),
    }


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent id) recorded around calls
    into the package. Disabled tracers record nothing. The stack is
    shared across threads on purpose: a foreachBatch body runs on a
    callback thread while the thread that opened the enclosing span is
    blocked waiting for it, so the body's spans nest under that span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        #: seconds spent in tracing bookkeeping (status-store reads etc.)
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
                   "name": name, "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            with self._lock:
                self._stack.remove(sid)

    def with_self_times(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the part its children
        cover (children of one parent never overlap here)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = []
        for s in self.spans:
            dur = (s["end"] or s["start"]) - s["start"]
            out.append({**s, "dur_s": dur, "self_s": max(dur - child_s.get(s["id"], 0.0), 0.0)})
        return out


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


class SparkCounters:
    """Job/stage/task counts and stage metrics from the status store for
    the jobs submitted between two ``take`` calls. Job and stage ids are
    allocated sequentially by the DAG scheduler, so a delta is the id
    range since the previous mark. The time ``take`` spends is charged to
    the tracer's overhead."""

    def __init__(self, spark, tracer: Tracer):
        self._tracer = tracer
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._job = int(self._dag.nextJobId())
        self._stage = int(self._dag.nextStageId())

    def take(self) -> dict:
        t = time.time()
        # stage metrics arrive through the listener bus; drain it first
        self._bus.waitUntilEmpty(30_000)
        job, stage = int(self._dag.nextJobId()), int(self._dag.nextStageId())
        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        out["jobs"] = job - self._job
        for sid in range(self._stage, stage):
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — id allocated but never submitted
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 1e6
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
        self._job, self._stage = job, stage
        self._tracer.overhead_s += time.time() - t
        return out


def catalyst_phases(df) -> dict:
    """Analysis/optimization/planning seconds of a DataFrame's
    QueryExecution (``tracker().phases()``)."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = kv._2().durationMs() / 1e3
    return out


def storage_info(spark) -> tuple[int, float]:
    """(persisted RDD count, cached MB) from the SparkContext."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 1e6


# ---------------------------------------------------------------------------
# statistics + output
# ---------------------------------------------------------------------------

def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples above) for the highest percentile
    that still has at least ten samples above it. With ten samples or
    fewer no percentile qualifies, and the maximum is returned with
    percentile 100 and zero samples above; the record says which."""
    s = sorted(xs)
    n = len(s)
    if n > 10:
        k = n - 11
        return s[k], 100.0 * (k + 1) / n, n - k - 1
    return (s[-1] if s else 0.0), 100.0, 0


def emit(record: dict, correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """Print the detail record, then the one-line result (the last line
    of stdout)."""
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
