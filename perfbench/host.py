"""Host context, process-tree memory sampling and teardown, from /proc."""

from __future__ import annotations

import os
import platform
import threading
import time
from pathlib import Path


def _ppids() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # process exited while we listed
            continue
        # comm may contain spaces/parens: fields resume after the last ')'
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (not ``pid`` itself)."""
    kids: dict[int, list[int]] = {}
    for child, parent in _ppids().items():
        kids.setdefault(parent, []).append(child)
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages count once across the tree, so
    a child forked from the JVM (or a Python worker forked from its
    daemon) does not count the parent's memory again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # process exited while we sampled
        pass
    return 0


class RssSampler:
    """Samples the summed PSS of this process and its descendants (the
    driver JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if Path(f"/proc/{p}").exists()]
    return alive


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def context() -> dict:
    """Host facts that decide whether two results may be compared."""
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_total_mb(),
        "load1_start": os.getloadavg()[0],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }
