"""Host-side measurement: process-tree CPU and memory read from /proc,
session sizing from the machine, and the co-tenant window probe.

CPU-seconds are summed over the whole process tree rooted at this
benchmark process: the driver Python, the JVM it launches, and the
PySpark daemon with its forked Python workers. Each live process
contributes ``utime + stime + cutime + cstime`` (children that exited
and were reaped are folded into their parent's ``cutime``/``cstime``).
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_WORKER_TAGS = (b"pyspark.daemon", b"pyspark/daemon.py", b"pyspark.worker")


def _stat(pid: int) -> tuple[int, str, float, int] | None:
    """(ppid, state, cpu seconds incl. reaped children, rss bytes), or
    None if the process vanished."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rindex(b")") + 2:].split()
    cpu = sum(int(x) for x in f[11:15]) / _TICK
    return int(f[1]), f[0].decode(), cpu, int(f[21]) * _PAGE


def _is_py_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return False
    return any(tag in cmd for tag in _WORKER_TAGS)


def _tree(root: int) -> dict[int, tuple[int, str, float, int]]:
    """/proc stats of ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out[pid] = stats[pid]
            stack.extend(children.get(pid, ()))
    return out


def tree_sample() -> dict[str, float]:
    """One snapshot of this process's tree: total CPU-seconds,
    Python-worker CPU-seconds (the PySpark daemon and the workers it
    forks) and total resident bytes."""
    tree = _tree(os.getpid())
    return {
        "cpu_s": sum(st[2] for st in tree.values()),
        # forked workers carry the daemon's command line
        "py_cpu_s": sum(st[2] for pid, st in tree.items() if _is_py_worker(pid)),
        "rss_bytes": sum(st[3] for st in tree.values()),
    }


class PeakRss:
    """Background sampler of the process tree's resident memory; the
    peak of the summed RSS is the host-memory figure (the tree's own
    footprint, not one process's high-water mark)."""

    interval_s = 0.25

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_sample()["rss_bytes"])
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_shape() -> tuple[int, int]:
    """(cores, heap MiB) pinned from the machine: ``local[cores]`` with
    at most 4 cores and no more than this process may run on, and a
    driver heap of 30% of MemTotal, between 1 and 6 GiB (the program's
    48g default exceeds a 15 GB host and gets the JVM OOM-killed)."""
    cores = min(4, len(os.sched_getaffinity(0)))
    heap_mb = int(min(6144, max(1024, 0.3 * mem_total_bytes() / 2**20)))
    return cores, heap_mb


def window_probe(burn: bool = True) -> dict[str, float]:
    """The co-tenant window probe of tools/window_sentinel: a fixed 1-core
    burn (about 1.9 s on a quiet host) and a DRAM copy bandwidth."""
    from tools.window_sentinel import _mem_bw, _timed_burn

    out = {"burn_s": _timed_burn()} if burn else {}
    return dict(out, dram_gbs=_mem_bw(), ts=round(time.time(), 1))


def stop_descendants(timeout_s: float = 30.0) -> None:
    """Wait for every process this one started to end, reaping exited
    children; after ``timeout_s`` terminate what is left, then kill it."""
    me = os.getpid()

    def alive() -> list[int]:
        while True:  # reap exited children so they leave the table
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        return [pid for pid, st in _tree(me).items() if pid != me and st[1] != "Z"]

    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in alive() if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + (timeout_s if sig is None else 10)
        while alive() and time.time() < deadline:
            time.sleep(0.2)
        if not alive():
            return
    raise RuntimeError(f"processes still running: {alive()}")
