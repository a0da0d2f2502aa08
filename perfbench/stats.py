"""Summary statistics and process-tree sampling for the benchmark."""

from __future__ import annotations

import math
import os
import threading

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile
_TICK = os.sysconf("SC_CLK_TCK")


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-quantile (nearest rank) of ``values``, or ``None`` unless
    at least ``MIN_BEYOND`` samples lie strictly above its rank."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_mb(root: int) -> float:
    """Resident memory of the tree, each shared page counted once (PSS).

    Plain RSS summed over the tree counts pages shared after a fork in
    every process: the JVM's short-lived fork children and the forked
    PySpark workers would each add the parent's full size.
    """
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue  # the process ended
    return total_kb / 1e3


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the live tree, reaped children included."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])  # utime..cstime
    return total / _TICK


class RssSampler:
    """Background thread that records the peak memory of a process tree."""

    def __init__(self, root: int, interval_s: float = 0.2) -> None:
        self.root, self.interval_s = root, interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
