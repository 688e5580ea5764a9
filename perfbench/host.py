"""Host-side helpers: capacity probe, process-tree memory, directory sizes,
and shutting the Spark JVM down so no process outlives a run."""

from __future__ import annotations

import os
import subprocess
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def burn(seconds: float = 0.25) -> float:
    """Aggregate numpy sort throughput (it/s) over ``nproc`` threads.

    A diagnostic of host capacity, recorded before and after a run so that a
    depressed run can be attributed to the host. It never gates a run."""
    a = np.random.default_rng(0).standard_normal(200_000)

    def work(span: float) -> int:
        n, t_end = 0, time.perf_counter() + span
        while time.perf_counter() < t_end:
            np.sort(a)
            n += 1
        return n

    with ThreadPoolExecutor(nproc()) as pool:
        list(pool.map(lambda _: work(0.05), range(nproc())))  # warm the threads
        t0 = time.perf_counter()
        total = sum(pool.map(work, [seconds] * nproc()))
        return total / (time.perf_counter() - t0)


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants (driver, JVM, Python workers)."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared one divided among
    the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _rss_bytes(pid: int) -> int:
    """Resident set size, read in constant time from ``statm``."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_memory_bytes(root: int | None = None) -> int:
    """Resident memory of ``root`` and its descendants, each page counted
    once. Python processes count their PSS, so that workers forked from one
    daemon do not count their shared pages twice. The JVM shares no pages
    with the rest of the tree and counts its RSS: PSS would walk its whole
    heap's page tables at every sample (about 30 ms of kernel time for a
    2 GB heap), load that lands on the run being measured. A JVM child still
    running the JVM's own binary is skipped: it is a helper (chmod, rm,
    setsid) between vfork and exec, which shares the JVM's address space, so
    it would count the whole JVM a second time."""
    total, todo = 0, [(root or os.getpid(), None)]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        is_java = exe is not None and os.path.basename(exe) == "java"
        if is_java and exe == parent_exe:
            continue
        total += _rss_bytes(pid) if is_java else _pss_bytes(pid)
        todo.extend((child, exe) for child in _children(pid))
    return total


class RssSampler:
    """Peak resident memory of this process tree (``tree_memory_bytes``),
    sampled on a thread. ``busy_s`` is that thread's CPU time."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.busy_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        t0 = time.thread_time()
        self.peak_bytes = max(self.peak_bytes, tree_memory_bytes())
        self.busy_s += time.thread_time() - t0

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the JVM it runs in, and wait for every process
    this run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in process_tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
