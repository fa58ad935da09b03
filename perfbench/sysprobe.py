"""Machine-side measurements that are not engine metrics: a short
delivered-hardware probe that brackets each run, and a /proc sampler for the
peak resident memory of the Spark JVM plus its Python workers."""

from __future__ import annotations

import os
import threading
import time

PROBE_SECONDS = 0.3  # per half (CPU, then memcpy), after one spin-up round


def _cpu_burn(_) -> int:
    t_end = time.perf_counter() + PROBE_SECONDS
    n = 0
    while time.perf_counter() < t_end:
        n += 1
    return n


def _mem_burn(_) -> int:
    import numpy as np

    buf = np.ones(32 << 20, dtype=np.uint8)
    t_end = time.perf_counter() + PROBE_SECONDS
    n = 0
    while time.perf_counter() < t_end:
        buf.copy()
        n += 1
    return n


def hardware_probe(workers: int) -> dict:
    """CPU loop iterations and 32 MiB copies per second summed over one
    process per core. Two runs of the benchmark are comparable only when
    their probes agree; a contended window shows up here first."""
    import multiprocessing as mp

    with mp.get_context("spawn").Pool(workers) as pool:
        # a fresh worker runs slower for its first few hundred ms
        # (first-touch page faults); discard that round
        pool.map(_cpu_burn, range(workers))
        cpu = sum(pool.map(_cpu_burn, range(workers)))
        mem = sum(pool.map(_mem_burn, range(workers)))
    return {
        "cpu_loops_per_s": round(cpu / PROBE_SECONDS),
        "memcpy_gib_per_s": round(mem * 32 / 1024 / PROBE_SECONDS, 2),
    }


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of every descendant of this process (the
    Spark JVM, the PySpark daemon and its workers) and keeps the peak.
    The benchmark's own Python process is excluded: it holds the oracle's
    inputs, which are not engine memory."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
