"""Session lifecycle and process-level measurements for the benchmark.

One benchmark run owns one JVM at a time: ``start`` launches it through
``netml_spark.session.get_spark`` sized for this host, ``stop`` shuts it
down and waits until the JVM and every Python worker it forked have
exited, so set-up can be repeated cold inside one run.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager, nullcontext

# One local-mode heap shared by all task threads, sized to fit a 15 GB host.
# The heap and its young generation are fixed (-Xms, -Xmn) so that G1's
# adaptive sizing does not make the JVM's resident set differ from run to
# run: left adaptive, its high-water mark spread over 1.8-2.6 GB for the
# same ops.
HEAP = "3g"
YOUNG = "1g"
SHUFFLE_PARTITIONS = 16


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start(work_dir: str):
    """A fresh SparkSession on local[<cores>] whose scratch files stay
    under ``work_dir``."""
    from netml_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench",
        master=f"local[{cores()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -Xmn{YOUNG} -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop(spark, timeout: float = 60.0) -> None:
    """Stop the session, end its JVM and wait for all its processes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    children = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in children):
        if time.monotonic() > deadline:
            raise TimeoutError(f"Spark processes still running: {children}")
        time.sleep(0.05)


def clear_cache(spark) -> None:
    """Drop every cached table and check that no RDD stays persisted."""
    spark.catalog.clearCache()
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    if persisted:
        raise RuntimeError(f"{persisted} RDDs still persisted after clearCache()")


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


# -- /proc ----------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def vm_hwm_mb(pid: int) -> float:
    """The process's resident-set high-water mark (VmHWM) in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> tuple[float, float]:
    """(JVM VmHWM, summed VmHWM of the Python workers under it) in MiB."""
    pid = jvm_pid()
    return vm_hwm_mb(pid), sum(vm_hwm_mb(p) for p in descendants(pid))


# -- JVM management beans ---------------------------------------------------


def gc_seconds(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def _heap_pools(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    return [pools.get(i) for i in range(pools.size())
            if pools.get(i).getType().toString() == "Heap memory"]


def reset_heap_peak(spark) -> None:
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()


def heap_peak_mb(spark) -> float:
    """Sum of the heap pools' peak usage since the last reset (an upper
    bound on the true heap peak: pools peak at different moments)."""
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark)) / 2 ** 20


# -- spans ----------------------------------------------------------------


class Tracer:
    """In-memory spans (id, name, parent, start, end) around engine calls."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


class _NoTrace:
    def span(self, name: str):
        return nullcontext()


NO_TRACE = _NoTrace()
