"""Host record and peak resident memory of the benchmark's process tree."""

from __future__ import annotations

import hashlib
import os
import platform
import threading

# ROADMAP aim 1: a wall-time figure taken at load1 >= 0.3 is flagged
BUSY_LOAD1 = 0.3


def load1() -> float:
    with open("/proc/loadavg", encoding="ascii") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, all CPUs: the share of
    steal between two readings is the time other guests on the host
    took from this one."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def code_fingerprint(root: str) -> str:
    """Hash of every Python file of the package, the benchmark and the
    tools, and of BENCHMARK.json: two runs with the same fingerprint ran
    the same code."""
    h = hashlib.sha256()
    for top in ("adsmasterpipeline_spark", "perfbench", "tools"):
        for d, dirs, files in sorted(os.walk(os.path.join(root, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    with open(os.path.join(root, "BENCHMARK.json"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


def record(seed: int, sizes: dict, root: str) -> dict:
    """Host facts known before the session starts; the caller adds the
    JVM's version once it runs. Unset environment settings are
    recorded as None: the package's defaults apply."""
    import pyspark
    l1 = load1()
    return {"nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM"),
            "code": code_fingerprint(root),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "seed": seed, "sizes": sizes, "load1_before": l1,
            "busy": l1 >= BUSY_LOAD1}


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children",
                      encoding="ascii") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _rss_kb(pid: int) -> int:
    """Resident set from ``/proc/<pid>/status``, which the kernel keeps
    as a counter. (``smaps_rollup``'s proportional size would split
    the pages forked Python workers share, but it walks the page
    tables of a multi-GB JVM under its memory-map lock.)"""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss(root: int) -> dict[str, float]:
    """Resident MB of ``root`` and its descendants, summed per command
    name (``python3``, ``java``, ...).

    A JVM starts helper processes with vfork: until the child execs it
    runs on the parent's memory, which would count twice, so a JVM's
    child still running the JVM's executable is skipped."""
    out: dict[str, float] = {}
    todo, seen = [(root, "")], set()
    while todo:
        pid, parent_exe = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        exe = _exe(pid)
        if exe == parent_exe and os.path.basename(exe) == "java":
            continue
        try:
            with open(f"/proc/{pid}/comm", encoding="ascii") as f:
                comm = f.read().strip()
        except OSError:
            continue
        out[comm] = out.get(comm, 0.0) + _rss_kb(pid) / 1024.0
        todo += [(c, exe) for c in _children(pid)]
    return out


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (the JVM and Python workers) every ``interval``
    seconds; ``peak_mb`` is the largest sum seen and ``peak_by_comm``
    its split by command name."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_by_comm: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            by_comm = tree_rss(pid)
            total = sum(by_comm.values())
            if total > self.peak_mb:
                self.peak_mb, self.peak_by_comm = total, by_comm
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
