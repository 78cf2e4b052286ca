"""Host-sized Spark session and process-tree memory sampling.

The session is sized from this host, not from the 32-CPU machine the
``bench.py`` records were taken on: ``local[N]`` with N from the CPUs this
process may run on, a fixed JVM heap of an eighth of physical memory,
scratch and event logs inside the benchmark's work directory, and no UI.
The heap is fixed (initial = maximum) and touched at start, because a
growing heap, and a fixed one whose pages the collector had touched more
or less of, made the process tree's peak RSS differ by a quarter from run
to run.
"""

from __future__ import annotations

import os
import threading
import time


def host() -> dict:
    """CPU count the session uses and physical memory, for every record."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return {"cpus": cpus, "mem_mb": mem_kb // 1024,
            "heap_mb": mem_kb // 1024 // 8}


def make_spark(work: str, event_log: str | None = None):
    """Start a ``local[N]`` session whose files all live under ``work``."""
    from pyspark.sql import SparkSession
    h = host()
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    b = (SparkSession.builder.master(f"local[{h['cpus']}]")
         .appName("nmalign_spark-perfbench")
         .config("spark.driver.memory", f"{h['heap_mb']}m")
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{h['heap_mb']}m -XX:+AlwaysPreTouch "
                 f"-Djava.io.tmpdir={local} "
                 f"-Dderby.system.home={local}")
         .config("spark.local.dir", local)
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(max(h["cpus"], 8)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "200")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false"))
    return b.getOrCreate()


def _tree_rss(root: int, min_age_s: float = 1.0) -> dict[str, list[int]]:
    """RSS of ``root`` and all its descendants from /proc, summed per
    command name: name -> [bytes, processes].

    Processes younger than ``min_age_s`` are left out: a child the JVM has
    just forked reports the JVM's shared pages as its own RSS until it
    execs, which once in a few runs doubled the sum."""
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, int]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0])
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:  # the process ended while we looked
            continue
        comm, rest = stat.split(" (", 1)[1].rsplit(")", 1)
        fields = rest.split()
        children.setdefault(int(fields[1]), []).append(int(name))
        young = now - int(fields[19]) / tick < min_age_s
        info[int(name)] = (comm, 0 if young else pages * page)
    out: dict[str, list[int]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in info and info[pid][1]:
            acc = out.setdefault(info[pid][0], [0, 0])
            acc[0] += info[pid][1]
            acc[1] += 1
        todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Background thread recording the peak summed RSS of this process
    tree (this Python process, the Spark JVM and its Python workers) and
    which processes made it up at that moment."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, list[int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        tree = _tree_rss(os.getpid())
        total = sum(b for b, _ in tree.values())
        if total > self.peak:
            self.peak, self.at_peak = total, tree

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        return False


def wait_children(timeout: float = 30.0) -> None:
    """Reap every child this process started (the Spark JVM exits after
    ``SparkContext.stop``); returns when none is left or on timeout."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.1)
