"""Process-tree CPU, RSS, CPU steal and process shutdown, read from /proc.

The engine runs as three kinds of process: this Python driver, the JVM it
launches, and the Python workers the JVM forks. CPU and memory are summed
over that whole tree, so work moved between them still shows.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields after it are space-separated
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21])  # rss in pages (stat field 24)
    return total * _PAGE / (1 << 20)


def cpu_counters() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def filesystem_of(path: str) -> str:
    """'<mountpoint> (<fstype> on <device>)' of the mount holding ``path``."""
    path = os.path.realpath(path)
    best = ("", "?", "?")
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[0]):
                best = (mnt, fstype, dev)
    return f"{best[0]} ({best[1]} on {best[2]})"


def dir_bytes_files(path: str) -> tuple[int, int]:
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(dirpath, n)).st_size
                files += 1
            except OSError:
                pass
    return total, files


def stop_descendants(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to exit; SIGTERM, then SIGKILL, whatever outlives
    ``timeout_s``. Returns once every one has ended."""

    def alive() -> list[int]:
        out = []
        for p in pids:
            f = _stat_fields(p)
            if f is not None and f[0] != "Z":
                out.append(p)
        return out

    deadline = time.monotonic() + timeout_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in alive():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        while alive() and time.monotonic() < deadline:
            time.sleep(0.1)
        if not alive():
            return
