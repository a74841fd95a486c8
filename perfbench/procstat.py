"""Process-tree CPU time and resident memory, read from /proc, plus the
environment record attached to every result."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading
import time
from typing import Dict, List, Optional, Tuple

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: split after it
        fields = stat[stat.rindex(b")") + 2 :].split()
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids(root: Optional[int] = None) -> List[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _cpu_s(pid: int) -> Optional[Tuple[str, float]]:
    """(command name, CPU seconds of ``pid`` and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return None
    comm = stat[stat.index(b"(") + 1 : stat.rindex(b")")].decode(errors="replace")
    fields = stat[stat.rindex(b")") + 2 :].split()
    # utime, stime, cutime, cstime are fields 14-17 of stat(5)
    return comm, sum(int(x) for x in fields[11:15]) / _CLK_TCK


def tree_cpu_s() -> float:
    """CPU seconds of the tree; a worker that exits is still counted
    through its parent's cumulative times."""
    return sum(c[1] for c in map(_cpu_s, tree_pids()) if c is not None)


def cpu_by_role() -> Dict[str, float]:
    """Tree CPU seconds split into this (driver) process, the JVM, and
    the Python workers the JVM forks. The driver's own time comes from
    ``time.process_time`` for its finer resolution."""
    me = os.getpid()
    out = {"driver": time.process_time(), "jvm": 0.0, "python_workers": 0.0}
    for pid in tree_pids():
        c = _cpu_s(pid)
        if c is not None and pid != me:
            out["jvm" if c[0] == "java" else "python_workers"] += c[1]
    return out


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 1e6


def host_cpu_ticks() -> List[int]:
    """The aggregate ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_cpu_shares(t0: List[int], t1: List[int]) -> Dict[str, float]:
    """Share of host CPU time spent busy, idle and stolen by the
    hypervisor between two ``host_cpu_ticks`` readings."""
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d) or 1
    return {"busy": (d[0] + d[1] + d[2]) / total, "idle": (d[3] + d[4]) / total, "steal": d[7] / total}


class TreeSampler:
    """Polls the tree's RSS on a thread between ``start`` and ``stop``;
    ``peak_rss_mb`` is the largest sum seen, ``host`` the host's CPU
    shares over the interval."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None
        self._host0: List[int] = []
        self.host: Dict[str, float] = {}

    def _poll(self) -> None:
        while not self._stop.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._host0 = host_cpu_ticks()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())
        self.host = host_cpu_shares(self._host0, host_cpu_ticks())


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (tmpfs, ext4, ...)."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fstype = mnt, parts[2]
    return fstype


def source_digest(root: str) -> str:
    """sha256 over the package sources: identifies the code measured
    when the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "pangeo_forge_recipes_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit(root: str) -> Optional[str]:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def environment(root: str, work_dir: str, cpus: int, driver_mem: str) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": cpus,
        "mem_total_mb": round(_meminfo_kb("MemTotal") / 1024),
        "driver_heap": driver_mem,
        "master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
        "stores_on": _fs_type(work_dir),
        "spark": pyspark.__version__,
        "arrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
        "git_commit": _git_commit(root),
        "source_sha256": source_digest(root),
        "loadavg_1_5_15": list(os.getloadavg()),
    }
