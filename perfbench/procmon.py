"""Process-tree memory sampling, the load witness, and JVM shutdown.

psutil is not available, so everything here reads ``/proc`` directly.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _stat(pid: int) -> tuple[int, str, str] | None:
    """(parent pid, command name, state letter) of ``pid``, or None if it
    has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    name = raw[raw.index("(") + 1 : raw.rindex(")")]
    state, ppid = raw[raw.rindex(")") + 2 :].split()[:2]
    return int(ppid), name, state


def descendants(root: int) -> dict[int, str]:
    """Every live process below ``root`` (not ``root`` itself): pid -> name."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(st[0], []).append((int(entry), st[1]))
    out: dict[int, str] = {}
    todo = [root]
    while todo:
        for pid, name in children.get(todo.pop(), []):
            out[pid] = name
            todo.append(pid)
    return out


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_MB
    except OSError:
        return 0.0


class TreeSampler:
    """Samples the resident memory of this process, its JVM and the JVM's
    Python workers.

    ``peak_python_mb`` is the peak of the summed RSS of this Python process
    and the Python workers below the JVM, ``peak_pyworker_mb`` that of the
    workers alone, ``peak_jvm_mb`` that of the JVM. Only Python processes
    below the JVM count as workers: a child the JVM forks to run a command
    briefly shows the JVM's whole RSS and is skipped. Shared pages of
    forked workers count once per process, as RSS does."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_python_mb = 0.0
        self.peak_pyworker_mb = 0.0
        self.peak_jvm_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        me = os.getpid()
        tree = descendants(me)
        jvms = [p for p, n in tree.items() if n == "java" and _stat(p)[0] == me]
        workers = sum(
            rss_mb(p)
            for jvm in jvms
            for p, n in descendants(jvm).items()
            if n.startswith("python")
        )
        jvm = sum(rss_mb(p) for p in jvms)
        self.peak_python_mb = max(self.peak_python_mb, rss_mb(me) + workers)
        self.peak_pyworker_mb = max(self.peak_pyworker_mb, workers)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.sample()


_BURN = """
import time
t0 = time.perf_counter()
x = 0
for i in range(2_000_000):
    x += i
print(time.perf_counter() - t0)
"""


def load_witness(cpus: int) -> dict:
    """Host-load context for one run: a fixed pure-Python CPU burn run
    alone, then in ``cpus`` interpreters at once, and ``/proc/loadavg``.
    It is recorded next to the metrics, never used as one."""
    import subprocess
    import sys

    def burns(n: int) -> list[float]:
        procs = [
            subprocess.Popen([sys.executable, "-c", _BURN], stdout=subprocess.PIPE,
                             text=True)
            for _ in range(n)
        ]
        return [float(p.communicate()[0]) for p in procs]

    single = burns(1)[0]
    parallel = burns(cpus)
    with open("/proc/loadavg") as f:
        loadavg = f.read().split()[:3]
    return {
        "cpus": cpus,
        "single_s": round(single, 4),
        "parallel_median_s": round(statistics.median(parallel), 4),
        "parallel_max_s": round(max(parallel), 4),
        "loadavg": [float(v) for v in loadavg],
    }


def wait_gone(pids, timeout_s: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if (st := _stat(p)) is not None and st[2] != "Z"]
        if alive:
            time.sleep(0.05)
    return alive
