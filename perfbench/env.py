"""Process-level plumbing for the benchmark: the Spark session at a
fixed core count, its teardown, the /proc memory sampler, the CPU
canary, Spark stage accounting and the in-memory span recorder.

Importing this module starts nothing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

PAGE = os.sysconf("SC_PAGE_SIZE")


# -- CPU canary ---------------------------------------------------------------

_BURN = """
import hashlib, time
t0 = time.perf_counter()
h = b"x" * 4096
for _ in range(25000):
    h = hashlib.md5(h).digest()[:16] * 256
print(time.perf_counter() - t0)
"""


def cpu_canary(procs: int) -> float:
    """Seconds for a fixed md5 loop run at once in ``procs`` processes
    (the slowest one; interpreter start-up excluded). It is not a
    compared metric: it tells a host stall from a code change."""
    kids = [subprocess.Popen([sys.executable, "-c", _BURN],
                             stdout=subprocess.PIPE, text=True)
            for _ in range(procs)]
    return max(float(k.communicate()[0]) for k in kids)


def cpu_ticks() -> list[int]:
    """The host-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests: a slow run on a shared host shows
    here, not in the code."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d[:8]), 1)


# -- memory ----------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(path: str) -> tuple[str, int]:
    """(command name, utime + stime + cutime + cstime) of a
    ``/proc/<pid>`` or ``/proc/<pid>/task/<tid>`` entry."""
    with open(f"{path}/stat") as f:
        stat = f.read()
    fields = stat[stat.rindex(")") + 2:].split()
    return (stat[stat.index("(") + 1:stat.rindex(")")],
            sum(int(x) for x in fields[11:15]))


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so
    far by this process and every live descendant: the driver, the JVM
    and the Python workers. Time the hypervisor steals is not in it,
    nor is the JVM's JIT compiler threads' time: when HotSpot compiles
    swings with the host's load, and would put up to a third on a
    call's CPU time at random."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            name, ticks = _cpu_ticks(f"/proc/{pid}")
            total += ticks
            if name == "java":
                for tid in os.listdir(f"/proc/{pid}/task"):
                    name, ticks = _cpu_ticks(f"/proc/{pid}/task/{tid}")
                    if "CompilerThre" in name:
                        total -= ticks
        except OSError:
            continue
    return total / TICK


class RssSampler:
    """Summed RSS of this process and all its descendants (the JVM and
    the Python workers it forks), sampled every ``period_s``; ``take``
    returns the peak since the previous ``take``."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
            with self._lock:
                self._peak = max(self._peak, total)
            self._stop.wait(self.period_s)

    def take(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# -- Spark session -----------------------------------------------------------

def prepare_env(root: str, work: str) -> None:
    """Point every file Spark, the JVM and the Python workers write at
    ``work`` and make the package importable in the workers. Must run
    before the first session starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files under /tmp from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")


def start_spark(cores: int, work: str):
    """A session at ``local[cores]`` built by the package's own factory,
    with shuffle partitions equal to the core count."""
    from ferenda_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # compiler threads that live as long as the JVM, so that
            # tree_cpu_s can leave out all of their time
            "spark.driver.extraJavaOptions":
                f"-Xms1g -XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={tmp}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for every process this
    one started to end."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    workers = descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()                  # the JVM exits on stdin EOF
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") for p in workers):
        if time.time() > deadline:
            for p in workers:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            break
        time.sleep(0.05)


def restart_spark(spark, cores: int, work: str):
    """Same JVM, new context at another core count."""
    spark.stop()
    return start_spark(cores, work)


def force(df) -> None:
    """Compute every column of ``df`` and write nothing."""
    df.write.format("noop").mode("overwrite").save()


# -- Spark accounting --------------------------------------------------------

class StageMeter:
    """Sums the shuffle bytes written by the stages that completed since
    the meter was last read, from Spark's status store."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._seen = self._ids()

    def _stages(self):
        st = self._store
        seq = st.stageList(None, False, False,
                           getattr(st, "stageList$default$4")(), None)
        return [seq.apply(i) for i in range(seq.size())]

    def _ids(self) -> set:
        return {(s.stageId(), s.attemptId()) for s in self._stages()}

    def take(self) -> int:
        total = 0
        for s in self._stages():
            key = (s.stageId(), s.attemptId())
            if key in self._seen or str(s.status()) != "COMPLETE":
                continue
            self._seen.add(key)
            total += s.shuffleWriteBytes()
        return total


def plan_metrics(df) -> tuple[float, list]:
    """Run ``df``'s physical plan to completion (every column computed,
    nothing written, like a noop sink) and return (wall seconds,
    [(operator, {metric: value})]) for the executed plan top-down,
    query stages included."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.toRdd().count()
    wall = time.perf_counter() - t0
    out, todo = [], [qe.executedPlan()]
    while todo:
        node = todo.pop(0)
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.insert(0, node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.insert(0, node.plan())
            continue
        it, m = node.metrics().iterator(), {}
        while it.hasNext():
            kv = it.next()
            m[kv._1()] = kv._2().value()
        out.append((node.nodeName(), m))
        kids = node.children()
        todo[:0] = [kids.apply(i) for i in range(kids.size())]
    return wall, out


# -- spans -----------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent), written at the end.
    A disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
