"""Pinned Spark runtime for the benchmark: environment, session start and
stop, process-tree memory sampling and Spark status/plan metrics.

Everything the benchmark writes stays under its work directory inside
the checkout (Spark local dirs, JVM and Python temp files, warehouse).
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

DRIVER_MEM_CAP_MB = 2048


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat.
    Steal is time the host ran something else while this machine's
    CPUs had work; it slows every phase of a run alike."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def driver_mem_mb() -> int:
    """A quarter of the box, at most ``DRIVER_MEM_CAP_MB``: the inputs are
    small and the box is shared."""
    return min(DRIVER_MEM_CAP_MB, mem_total_mb() // 4)


def pin_environment(repo_root: str, work_dir: str) -> dict:
    """Set the environment the Spark JVM and its Python workers inherit.
    Returns the settings for the report."""
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    mem = f"{driver_mem_mb()}m"
    # UDF-backed tools run in Python workers that import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = mem
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in /tmp, from the launcher JVM or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_UI", None)  # UI off
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
        "pyspark-shell",
    ])
    return {
        "master": f"local[{cpu_count()}]",
        "driver_memory": mem,
        "ui": False,
        "spark_local_dirs": os.path.relpath(local, repo_root),
        "pythonpath": "repo root",
    }


def start_session(cpus: int):
    from secure_agent_api_vector_search_spark.session import get_session

    spark = get_session("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then shut the JVM down and wait for it (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — TimeoutExpired: force it
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children_map() -> dict[int, list[int]]:
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


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _kind(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return None
    if not cmd:  # exiting
        return None
    return "jvm" if b"java" in cmd.split(b"\0")[0] else "python_workers"


class RssSampler:
    """Peak resident memory of this process plus all its descendants
    (Spark JVM, Python workers): every ``period`` seconds each live
    process's kernel-tracked peak (VmHWM) is read, and the result is the
    sum of those peaks over every process seen. Per-process peaks do not
    depend on when the sample lands."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self._peaks: dict[int, int] = {}
        self._names: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        pid = os.getpid()
        for p in [pid] + descendants(pid):
            hwm = _hwm_kb(p)
            if hwm > self._peaks.get(p, 0):
                self._peaks[p] = hwm
            # re-read: the JVM starts as a launcher script, then execs java
            kind = "driver" if p == pid else _kind(p)
            if kind is not None:
                self._names[p] = kind

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_mb(self, exclude: str | None = None) -> float:
        """Summed peaks, leaving out processes of kind ``exclude``."""
        return sum(kb for p, kb in self._peaks.items() if self._names.get(p) != exclude) / 1024.0

    def breakdown_mb(self) -> dict:
        """Summed peaks by process kind, for the report."""
        out: dict[str, float] = {}
        names = self._names
        for p, kb in self._peaks.items():
            kind = names.get(p, "other")
            out[kind] = out.get(kind, 0.0) + kb / 1024.0
        return out


def wait_children_gone(timeout: float = 30.0) -> None:
    """Wait for every process this one started to end; kill stragglers."""
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except OSError:
            pass
    end = time.monotonic() + 10
    while descendants(os.getpid()) and time.monotonic() < end:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        time.sleep(0.1)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---- Spark status store ---------------------------------------------------

def job_ids(sc) -> list[int]:
    return sorted(int(j) for j in sc.statusTracker().getJobIdsForGroup(None))


def stage_metrics(sc, jobs) -> list[dict]:
    """Per-stage numbers for the given job ids, from the status store."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    seen: set[int] = set()
    out = []
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            if s in seen:
                continue
            seen.add(s)
            try:
                d = store.lastStageAttempt(int(s))
            except Exception:  # noqa: BLE001 — skipped stages have no attempt data
                continue
            if d.status().toString() != "COMPLETE":
                continue
            sub, first = d.submissionTime(), d.firstTaskLaunchedTime()
            out.append({
                "tasks": int(d.numTasks()),
                "run_ms": int(d.executorRunTime()),
                "input_bytes": int(d.inputBytes()),
                "shuffle_write_bytes": int(d.shuffleWriteBytes()),
                "sched_wait_ms": (
                    first.get().getTime() - sub.get().getTime()
                    if sub.isDefined() and first.isDefined() else 0
                ),
            })
    return out


def jvm_gc_s(sc) -> float:
    """Total collection time of every JVM garbage collector so far (local
    mode: driver and executors share the JVM)."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, int(beans.get(i).getCollectionTime())) for i in range(beans.size())) / 1000.0


def jvm_retained_mb(sc) -> float:
    """Memory the JVM holds after a full collection: live heap, non-heap
    (metaspace, code cache) and NIO buffer pools. The JVM's RSS instead
    follows how far the collector let the heap grow, which varies from run
    to run and hides what a change keeps in the JVM (a cache, say)."""
    mgmt = sc._jvm.java.lang.management
    mem = mgmt.ManagementFactory.getMemoryMXBean()
    mem.gc()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    pools = mgmt.ManagementFactory.getPlatformMXBeans(
        sc._jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean"))
    used += sum(int(pools.get(i).getMemoryUsed()) for i in range(pools.size()))
    return used / 2**20


def plan_nodes(df) -> list[tuple[str, dict]]:
    """(node name, SQL metric values) for every operator of the executed
    plan of an already-collected DataFrame, adaptive stages unwrapped."""
    out: list[tuple[str, dict]] = []

    def walk(p) -> None:
        name = p.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            walk(p.executedPlan())
            return
        vals = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = int(kv._2().value())
        out.append((name, vals))
        if "QueryStage" in name:
            walk(p.plan())
        ch = p.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def plan_sum(nodes, name_prefix: str, metric: str) -> int:
    return sum(m.get(metric, 0) for n, m in nodes if n.startswith(name_prefix))
