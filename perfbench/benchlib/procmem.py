"""Resident memory of a process tree, read from /proc (no psutil).

The sampler follows the tree under one root pid (driver Python, the JVM
it launches, and the JVM's Python workers) and keeps the peak of the
tree's summed proportional set size (Pss): pages shared between processes,
such as those of the forked Python workers, are split between their
sharers instead of being counted once per process as VmRSS would. Every
pid it has seen is remembered with its start time so the caller can wait
for the whole tree to exit."""

from __future__ import annotations

import os
import threading


def pss_kb(pid: int) -> int | None:
    """Proportional set size of ``pid`` in KiB (None if gone)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    return None


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm (field 2) may contain spaces/parens: split after the last ')'
    return data[data.rindex(")") + 2:].split()


def start_time(pid: int) -> int | None:
    """Kernel start time of ``pid`` (clock ticks since boot)."""
    f = _stat_fields(pid)
    return int(f[19]) if f else None


def children_map() -> dict[int, list[int]]:
    """ppid → [pid] for every process visible in /proc."""
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f:
            out.setdefault(int(f[1]), []).append(int(name))
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except OSError:
        return "other"
    return "jvm" if comm == "java" else (
        "python_workers" if comm.startswith("python") else comm
    )


class TreeRssSampler:
    """Background sampler of a process tree's summed Pss."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_parts: dict[str, list[int]] = {}  # at the peak sample
        self.seen: dict[int, int] = {}  # pid -> start time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total = 0
        parts: dict[str, list[int]] = {}
        for pid in tree_pids(self.root):
            kb = pss_kb(pid)
            if kb is None:
                continue
            total += kb
            parts.setdefault(_kind(pid, self.root), []).append(kb)
            if pid not in self.seen:
                st = start_time(pid)
                if st is not None:
                    self.seen[pid] = st
        if total > self.peak_kb:
            self.peak_kb, self.peak_parts = total, parts
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "TreeRssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def alive(self) -> list[int]:
        """Pids seen in the tree that still run (same pid, same start)."""
        return [
            p for p, st in self.seen.items() if start_time(p) == st
        ]
