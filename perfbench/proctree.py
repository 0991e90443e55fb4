"""CPU and memory of the benchmark's process tree, read from ``/proc``.

Every process below the driver is put in one class:

- ``driver``: the benchmark's own Python process;
- ``jvm``: the Spark JVM the driver launched;
- ``pyworker``: Python processes under that JVM (the pyspark daemon and
  its Arrow/UDF workers);
- ``sidecar``: JVMs started by a Python worker (the decoder sidecars).

A process that exits keeps its last reading, so a worker that ends
between two samples still counts the CPU it used up to the earlier one
and never makes a class total go backwards.
"""

from __future__ import annotations

import os
import threading

CLASSES = ("driver", "jvm", "pyworker", "sidecar")

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode("utf-8", "replace")
    except OSError:
        return None


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        text = _read(f"/proc/{pid}/task/{tid}/children")
        if text:
            out.extend(int(c) for c in text.split())
    return out


def _stat(pid: int) -> tuple[str, int, float, int] | None:
    """(comm, starttime ticks, cpu seconds, rss bytes) of ``pid``."""
    text = _read(f"/proc/{pid}/stat")
    if text is None:
        return None
    lpar, rpar = text.index("("), text.rindex(")")
    comm = text[lpar + 1 : rpar]
    f = text[rpar + 2 :].split()
    # fields after "(comm) ": state=0 ppid=1 ... utime=11 stime=12
    # starttime=19 rss=21 (proc(5), counted from 0)
    cpu = (int(f[11]) + int(f[12])) / _CLK
    return comm, int(f[19]), cpu, int(f[21]) * _PAGE


def _classify(comm: str, parent_cls: str | None) -> str:
    if parent_cls is None:
        return "driver"
    is_java = comm == "java"
    is_python = comm.startswith("python")
    if is_java:
        return "sidecar" if parent_cls in ("pyworker", "sidecar") else "jvm"
    if is_python and parent_cls in ("jvm", "pyworker"):
        return "pyworker"
    return parent_cls


class ProcessTree:
    """Samples the tree below ``root`` every ``interval`` seconds on a
    background thread; ``read()`` takes one more sample and returns the
    totals. Use as a context manager so the thread is always joined."""

    def __init__(self, root: int | None = None, interval: float = 0.25):
        self._root = root or os.getpid()
        self._interval = interval
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        # (pid, starttime) -> (class, last cpu seconds read)
        self._seen: dict[tuple[int, int], tuple[str, float]] = {}
        self._peak_rss = 0
        self._peak_java = 0

    def __enter__(self) -> ProcessTree:
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        rss = 0
        java = 0
        stack: list[tuple[int, str | None]] = [(self._root, None)]
        readings = []
        while stack:
            pid, parent_cls = stack.pop()
            st = _stat(pid)
            if st is None:
                continue
            comm, start, cpu, proc_rss = st
            cls = _classify(comm, parent_cls)
            readings.append(((pid, start), cls, cpu))
            rss += proc_rss
            java += comm == "java"
            stack.extend((c, cls) for c in _children(pid))
        with self._lock:
            for key, cls, cpu in readings:
                self._seen[key] = (cls, cpu)
            self._peak_rss = max(self._peak_rss, rss)
            self._peak_java = max(self._peak_java, java)

    def read(self) -> dict:
        """Cumulative CPU seconds per class (exited processes included),
        plus the peak tree RSS and peak java process count so far."""
        self.sample()
        with self._lock:
            cpu = dict.fromkeys(CLASSES, 0.0)
            for cls, sec in self._seen.values():
                cpu[cls] += sec
            return {
                "cpu": cpu,
                "peak_rss_bytes": self._peak_rss,
                "peak_java": self._peak_java,
            }

    def reset_peaks(self) -> None:
        with self._lock:
            self._peak_rss = 0
            self._peak_java = 0


def descendants(root: int) -> list[tuple[int, int]]:
    """(pid, starttime) of every live process below ``root``."""
    out = []
    stack = _children(root)
    while stack:
        pid = stack.pop()
        st = _stat(pid)
        if st is not None:
            out.append((pid, st[1]))
            stack.extend(_children(pid))
    return out


def _alive(pid: int, start: int) -> bool:
    text = _read(f"/proc/{pid}/stat")
    if text is None:
        return False
    f = text[text.rindex(")") + 2 :].split()
    return int(f[19]) == start and f[0] != "Z"


def stop_descendants(root: int | None = None, timeout: float = 20.0) -> None:
    """Terminate every process below ``root`` and wait until all have
    ended, killing those still running after ``timeout`` seconds."""
    import signal
    import time

    root = root or os.getpid()
    procs = descendants(root)
    for sig, wait in ((signal.SIGTERM, timeout), (signal.SIGKILL, 5.0)):
        for pid, _start in procs:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            procs = [p for p in procs if _alive(*p)]
            if not procs:
                return
            time.sleep(0.05)
