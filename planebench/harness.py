"""Run isolation, the Spark session, host/JVM probes and statistics.

Everything a run writes goes under one per-run directory inside the
working directory (removed at exit): Spark local dirs, the JVM's
java.io.tmpdir, Python's tempfile dir (inherited by Python workers), the
warehouse dir, generated inputs, change logs, checkpoints and view
stores.
"""

from __future__ import annotations

import math
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time

RUN_ROOT = ".planebench_tmp"


class RunDir:
    """Per-run scratch directory; `close()` removes it."""

    def __init__(self) -> None:
        os.makedirs(RUN_ROOT, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-",
                                     dir=os.path.abspath(RUN_ROOT))
        self.tmp = self.sub("tmp")
        # children (the JVM, then its Python workers) inherit these
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        # the engine's own default heap, whatever the caller's shell sets
        os.environ.pop("SPARK_DRIVER_MEMORY", None)
        tempfile.tempdir = self.tmp

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(RUN_ROOT)  # only succeeds once no other run is live
        except OSError:
            pass


def start_session(run: RunDir, cores: int):
    """The engine's own session builder at a fixed local[cores]; the
    benchmark adds only isolation settings, passed to spark-submit
    ahead of the builder's confs.  Returns (spark, seconds)."""
    java_opts = f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--driver-java-options", java_opts,
        "--conf", f"spark.local.dir={os.environ['SPARK_LOCAL_DIRS']}",
        "--conf", f"spark.sql.warehouse.dir={run.sub('warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    from ozone_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("planebench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _ended(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is None or f[0] in ("Z", "X")


def _kill(pid: int) -> None:
    try:
        os.kill(pid, signal.SIGKILL)
    except OSError:
        pass


def stop_engine(spark, grace_s: float = 30.0) -> None:
    """Stop the session and end every process it started, waiting for
    each: the gateway JVM (it exits once its stdin closes) and its Python
    daemon and workers (they exit once the JVM is gone).  Whatever has
    not ended within `grace_s` is killed.  Safe to call when the session
    never started or only the gateway did."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    if spark is not None:
        try:
            spark.stop()
        except Exception as ex:  # still end the processes below
            log(f"spark.stop failed: {ex!r}")
    if gateway is None:
        return
    if proc is not None:
        tree += [p for p in descendants(proc.pid) if p not in tree]
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=grace_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    live = tree
    while True:
        live = [p for p in live if not _ended(p)]
        if not live:
            return
        # the daemon outlives the JVM briefly and may still fork workers
        live += [p for p in descendants(*live) if p not in live]
        if time.monotonic() >= deadline:
            for p in live:
                _kill(p)
            deadline = time.monotonic() + grace_s
        time.sleep(0.05)


class JvmProbe:
    """Cumulative JIT, GC and CPU counters of the driver JVM."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def snapshot(self) -> dict[str, float]:
        gc = sum(b.getCollectionTime()
                 for b in self._mf.getGarbageCollectorMXBeans())
        return {
            "jit_ms": float(self._mf.getCompilationMXBean()
                            .getTotalCompilationTime()),
            "gc_ms": float(gc),
            "cpu_s": proc_cpu_s(self.pid),
            "driver_cpu_s": time.process_time(),
            "workers_cpu_s": workers_cpu_s(self.pid),
        }


_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    return data[data.rindex(")") + 2:].split()


def proc_cpu_s(pid: int, with_children: bool = False) -> float:
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])           # utime, stime
    if with_children:
        ticks += int(f[13]) + int(f[14])      # cutime, cstime
    return ticks / _TICK


def descendants(*pids: int) -> list[int]:
    """All live descendants of `pids` (one pass over /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, stack = [], list(pids)
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def workers_cpu_s(jvm_pid: int) -> float:
    """CPU of the JVM's Python worker tree, reaped workers included."""
    return sum(proc_cpu_s(p, with_children=True) for p in descendants(jvm_pid))


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process has exited
        pass
    return 0


def retained_bytes(spark, jvm_pid: int) -> int:
    """Memory the engine holds once its garbage is collected: the driver
    JVM's heap in use after a full collection plus its non-heap memory in
    use (metaspace, code cache), and the proportional set size of this
    Python driver and the JVM's Python workers (shared pages count once).

    The JVM's resident set is not used: it holds whatever uncollected
    garbage the collector's adaptive young-generation sizing lets build
    up, and on one workload its peak varied from 3.4 to 5.4 GB between
    runs of the same code."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    held = (mem.getHeapMemoryUsage().getUsed()
            + mem.getNonHeapMemoryUsage().getUsed())
    return held + sum(_pss_bytes(p)
                      for p in [os.getpid(), *descendants(os.getpid())]
                      if p != jvm_pid)


def calibrate_ms(spark) -> float:
    """The repo's fixed-size pure-CPU JVM probe, in ms."""
    from ozone_spark.session import jvm_calibrate
    return jvm_calibrate(spark, reps=1) * 1000.0


def geomean_of_kind_medians(ops: list) -> float:
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op.latency_s)
    meds = [statistics.median(v) for v in by_kind.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)
