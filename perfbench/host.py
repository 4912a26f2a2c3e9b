"""Host context and process hygiene: the CPU probe, the process-tree
memory sampler, and the shutdown that leaves no child process behind."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")

# runs in a fresh interpreter, whose pool is forked before any thread
# exists: a pool forked from the benchmark process copies locks that its
# allocator and library threads (pyarrow, DuckDB) may hold at that
# moment, and a worker forked that way hung for good
_PROBE_MAIN = """
import multiprocessing as mp, sys, time
from bench import _probe_work
nproc, per_worker, repeats = (int(a) for a in sys.argv[1:])
times = []
with mp.Pool(nproc) as pool:
    pool.map(_probe_work, [1] * nproc)  # start + warm the pool
    for _ in range(repeats):
        t0 = time.perf_counter()
        pool.map(_probe_work, [per_worker] * nproc)
        times.append(time.perf_counter() - t0)
print(sorted(times)[repeats // 2])
"""


def cpu_probe(nproc: int, per_worker: int = 100, repeats: int = 3,
              timeout: float = 60.0) -> float:
    """Median wall seconds of ``repeats`` rounds in which ``nproc`` pool
    processes each run the same fixed regex work (``bench._probe_work``,
    ~0.2 s a round on a 4-core host). Context only, never a gated
    metric: it lets a reader tell host drift from a regression. Call it
    only while no Spark JVM is alive, so it measures the host alone."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _PROBE_MAIN, str(nproc), str(per_worker), str(repeats)],
        cwd=root, capture_output=True, text=True, timeout=timeout, check=True)
    return float(out.stdout.split()[-1])


def cpu_ticks() -> list[int]:
    """This host's cumulative CPU time per state (``/proc/stat``)."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests (the ``steal`` state): context that
    shows a slow period of a shared host."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def descendants(pid: int | None = None) -> list[int]:
    """Every live descendant of ``pid`` (default: this process)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # comm may hold spaces and parens: the ppid follows the LAST ')'
        kids.setdefault(int(stat[stat.rindex(")") + 2 :].split()[1]), []).append(int(d))
    out, todo = [], list(kids.get(os.getpid() if pid is None else pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes() -> int:
    """Resident memory of this process and its descendants that run
    Java or Python: this process, the Spark JVM and its Python workers.
    A child the JVM has forked but not yet exec'd (its ``chmod`` and
    worker spawns) carries a thread name and shares the whole JVM image,
    so counting it would add the JVM a second time."""
    total = 0
    for p in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{p}/comm", encoding="ascii", errors="replace") as f:
                comm = f.read().strip()
            if comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{p}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue  # exited between listing and reading
    return total


class MemSampler:
    """Peak of ``tree_rss_bytes``, sampled in a background thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, grace: float = 30.0) -> None:
    """Stop the session, end its JVM, and wait until every process this
    run started has exited; stragglers get SIGTERM, then SIGKILL."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    started = descendants()  # JVM children reparent once the JVM exits
    if spark is not None:
        try:
            spark.stop()
        except Py4JError:  # JVM gone or interrupted mid-call: end it below
            pass
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin pipe closes
            try:
                proc.wait(timeout=grace)
            except subprocess.TimeoutExpired:
                pass
    for sig, wait in ((None, grace), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for p in ([] if sig is None else started):
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            started = sorted({p for p in [*started, *descendants()] if _alive(p)})
            if not started:
                return
            time.sleep(0.1)
    raise RuntimeError(f"processes still alive after shutdown: {started}")
