"""CPU time and resident memory of the engine's processes, from /proc.

The engine is the benchmark's main thread (the program's driver-side Python
runs on it) plus the driver JVM and every process below it (the PySpark
daemon and its Python workers). CPU time, unlike wall time, does not
stretch when the host's other tenants take the CPU, so the benchmark's
per-call CPU metrics stay comparable across runs on a shared host.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree(root_pid: int) -> list[int]:
    """``root_pid`` and every process below it."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                kids.setdefault(int(_stat_fields(int(d))[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class EngineCpu:
    """``now()`` is the CPU seconds used so far by the calling thread and the
    JVM's process tree, counting workers that already exited (their time is in
    the reaping parent's cutime/cstime), less the JVM's JIT compiler
    threads: compilation runs in the background of a young JVM and would
    otherwise land in whichever call is being timed. A compiler thread that
    exits keeps its last reading, since its time stays in the JVM's total."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._jit: dict[str, int] = {}

    def _jit_ticks(self) -> int:
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            if "CompilerThre" in raw[raw.index("(") + 1 : raw.rindex(")")]:
                fields = raw.rsplit(")", 1)[1].split()
                self._jit[tid] = int(fields[11]) + int(fields[12])
        return sum(self._jit.values())

    def now(self) -> float:
        ticks = -self._jit_ticks()
        for pid in tree(self.jvm_pid):
            try:
                f = _stat_fields(pid)
            except (OSError, IndexError):
                continue
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        return ticks / _TICK + time.thread_time()


def _status_bytes(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1]) * 1024
    return 0


class RssSampler(threading.Thread):
    """Peak resident set of the driver JVM plus every process below it (the
    Python workers): the JVM's own high-water mark (VmHWM, exact) plus the
    largest sum of the workers' VmRSS seen by sampling /proc until stopped.
    Worker peaks shorter than the sampling period can be missed."""

    def __init__(self, root_pid: int, period: float = 0.5):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.period = period
        self.peak = 0  # workers' largest VmRSS sum
        self.jvm_hwm = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = 0
        for pid in tree(self.root_pid)[1:]:
            try:
                total += _status_bytes(pid, "VmRSS:")
            except OSError:
                continue
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            self.sample()

    def stop(self) -> int:
        self.sample()
        self._stop_evt.set()
        self.join(timeout=10)
        self.jvm_hwm = _status_bytes(self.root_pid, "VmHWM:")
        return self.jvm_hwm + self.peak
