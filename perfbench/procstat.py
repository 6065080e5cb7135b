"""Process-tree readings from /proc: memory in use by the driver JVM and
its Python workers, and the CPU time those Python workers have spent.

The JVM is a child of this process and the Python workers descend from
the JVM, so "every descendant of this process" is exactly the set the
benchmark reports on.
"""

from __future__ import annotations

import os
import re
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    """Every process below this one."""
    kids = _children_map()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _read_stat(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    comm = stat[stat.index("(") + 1 : stat.rindex(")")]
    return comm, stat.rsplit(")", 1)[1].split()


def wait_exited(pids: list[int], timeout_s: float = 60.0) -> None:
    """Wait until none of ``pids`` is running (gone, or a zombie)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        states = [_read_stat(p) for p in pids]
        if all(st is None or st[1][0] == "Z" for st in states):
            return
        time.sleep(0.1)


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _pss_split_bytes(pid: int, lo: int, hi: int) -> tuple[int, int]:
    """(PSS outside [lo, hi), PSS inside it) of one process, from the
    per-mapping lines of /proc/<pid>/smaps."""
    out = [0, 0]
    inside = False
    try:
        with open(f"/proc/{pid}/smaps") as f:
            for line in f:
                if line[0] in "0123456789abcdef":  # a mapping's header line
                    start, end = line.split(" ", 1)[0].split("-")
                    inside = int(start, 16) >= lo and int(end, 16) <= hi
                elif line.startswith("Pss:"):
                    out[inside] += int(line.split()[1]) * 1024
    except OSError:
        pass
    return out[0], out[1]


def java_heap_range(log_path: str) -> tuple[int, int] | None:
    """Address range the JVM reserved for its heap, from the line that
    ``-Xlog:gc+heap+coops=debug`` writes at start-up."""
    try:
        with open(log_path) as f:
            for line in f:
                m = re.search(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB", line)
                if m:
                    lo = int(m.group(1), 16)
                    return lo, lo + int(m.group(2)) * 2**20
    except OSError:
        pass
    return None


def python_worker_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) of every
    Python process below the JVM: the Arrow/pandas UDF workers."""
    total = 0
    for pid in descendants():
        st = _read_stat(pid)
        if st is None or not st[0].startswith("python"):
            continue
        f = st[1]
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


class PeakMemorySampler:
    """Background sampler of the resident memory of the process tree
    outside the JVM's heap; ``peak_mb`` is the largest sample seen
    between start() and stop().

    A sample sums proportional set sizes (pages shared between processes,
    such as a Python worker and the daemon it forked from, count once).
    The JVM's heap is left out: how many of its pages are resident, and
    how much garbage it holds at any moment, follow the collector's
    sizing policy, not the program (perfbench/README.md). Until the JVM
    has logged where its heap is, its whole PSS counts."""

    def __init__(self, heap_log: str, interval_s: float = 0.25):
        self.heap_log = heap_log
        self.interval_s = interval_s
        self.heap_range: tuple[int, int] | None = None
        self.peak = 0
        self.peak_parts_mb: dict[str, float] = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def _tree_bytes(self) -> dict[str, int]:
        if self.heap_range is None:
            self.heap_range = java_heap_range(self.heap_log)
        parts = {"other": 0, "jvm_outside_heap": 0}
        for pid in descendants():
            st = _read_stat(pid)
            if st is None:
                continue
            if st[0] != "java" or self.heap_range is None:
                parts["other"] += _pss_bytes(pid)
            else:
                parts["jvm_outside_heap"] += _pss_split_bytes(pid, *self.heap_range)[0]
        return parts

    def sample(self) -> None:
        parts = self._tree_bytes()
        total = sum(parts.values())
        if total > self.peak:
            self.peak = total
            self.peak_parts_mb = {k: round(v / 2**20, 1) for k, v in parts.items()}
        self.samples += 1

    def start(self) -> "PeakMemorySampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
