"""Process-tree accounting: memory high-water sampling, the environment
record, and a shutdown that waits for every process the run started.

The tree is this Python driver, the Spark JVM it launches, and the
JVM's Python workers. Read straight from ``/proc`` (Linux)."""

from __future__ import annotations

import os
import threading
import time
from typing import Dict, List, Optional


def _ppid_map() -> Dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesized command name
        rest = stat.rsplit(")", 1)[1].split()
        out[int(d)] = int(rest[1])
    return out


def descendants(root: int) -> List[int]:
    kids: Dict[int, List[int]] = {}
    for pid, ppid in _ppid_map().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes split among them. Python workers are forked from one
    daemon, so plain RSS would count the shared pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    return sum(_pss_bytes(pid) for pid in [root] + descendants(root))


class MemSampler:
    """Background thread tracking the tree's resident-memory (PSS)
    high-water mark while ``active`` is set (the timed runs only)."""

    def __init__(self, root: Optional[int] = None, period_s: float = 0.2):
        self.root = root or os.getpid()
        self.period_s = period_s
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            if self.active.is_set():
                self.peak = max(self.peak, tree_pss_bytes(self.root))


def environment(cores: int, local_dirs: str, heap: str) -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "cores": cores,
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "pyspark": pyspark.__version__,
        "driver_heap": heap,
        "spark_local_dirs": local_dirs,
        "loadavg": list(os.getloadavg()),
    }


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, close the JVM gateway, and wait until every
    process this one started has exited (killing stragglers last)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the gateway JVM exits on EOF of its stdin
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_children(timeout_s)


def wait_children(timeout_s: float) -> None:
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while descendants(me) and time.monotonic() < deadline:
        try:  # reap our own exited children
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)
    for pid in descendants(me):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants(me) and time.monotonic() < deadline + 10:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)
