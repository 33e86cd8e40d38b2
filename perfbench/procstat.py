"""Process-tree CPU time and peak memory, read from /proc."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU seconds of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def _procs() -> dict[int, tuple[int, float]]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            procs[int(name)] = st
    return procs


def children(parent: int) -> list[int]:
    return [pid for pid, (ppid, _) in _procs().items() if ppid == parent]


def _tree(root: int) -> dict[int, float]:
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid][1]
            todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every descendant: the
    Python driver, the JVM and the Python workers. A child that exited
    and was reaped is counted in its parent's children time."""
    return sum(_tree(root).values())


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def peak_rss_mb(root: int) -> float:
    """Peak resident memory of the Python driver plus its JVM."""
    jvms = [pid for pid in _tree(root) if pid != root and _comm(pid) == "java"]
    return (_hwm_kb(root) + sum(_hwm_kb(pid) for pid in jvms)) / 1024.0


def settled_count(count, collect_garbage, interval: float = 0.1, timeout: float = 2.0) -> int:
    """Run the JVM garbage collector, then read ``count()`` until two
    reads in a row agree, so the context cleaner has released what the
    collection freed."""
    collect_garbage()
    deadline = time.monotonic() + timeout
    last = count()
    while time.monotonic() < deadline:
        time.sleep(interval)
        now = count()
        if now == last:
            return now
        last = now
    return last
