"""Host fit and host record: driver heap from MemTotal, CPU time and peak
RSS from /proc, and a probe of the host's current speed."""

from __future__ import annotations

import hashlib
import os
import pathlib
import platform
import subprocess
import threading
import time

# the keys two results must share before their numbers may be compared
HOST_KEYS = ("nproc", "mem_total_mb", "machine", "pyspark", "java")


def mem_total_kb() -> int:
    for line in pathlib.Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """A quarter of RAM, 1-4 GiB: the inputs are small, and the machine is
    shared; the session default (48g) does not fit a small host."""
    gib = mem_total_kb() // (4 * 1024 * 1024)
    return f"{max(1, min(4, gib))}g"


def loadavg() -> list[float]:
    return [float(x) for x in pathlib.Path("/proc/loadavg").read_text().split()[:3]]


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0] if first else "unknown"


def host_record() -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_total_kb() // 1024,
        "machine": platform.machine(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "python": platform.python_version(),
    }


def _children(pid: int) -> list[int]:
    kids = []
    for task in pathlib.Path(f"/proc/{pid}/task").glob("*"):
        try:
            kids += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            pass
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        for line in pathlib.Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += _children(p)
    return out


def cpu_s(pid: int) -> float:
    """CPU seconds used by ``pid``, its live descendants (the JVM, the
    Python daemon and workers), and the descendants they already reaped."""
    total = 0
    for p in _tree(pid):
        try:
            fields = pathlib.Path(f"/proc/{p}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JIT compiler threads of ``pid``'s process tree.
    The session keeps them alive for the JVM's life
    (-XX:-UseDynamicNumberOfCompilerThreads), so none of their time is
    lost with a thread that exits."""
    total = 0
    for p in _tree(pid):
        for task in pathlib.Path(f"/proc/{p}/task").glob("*"):
            try:
                if not (task / "comm").read_text().startswith(("C1 Compiler", "C2 Compiler")):
                    continue
                fields = (task / "stat").read_text().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of VmHWM over the JVM and every process below it (the Python
    daemon and its workers)."""
    return sum(_vm_hwm_kb(pid) for pid in _tree(jvm_pid)) / 1024


class SpeedProbe:
    """Host-speed probe: a thread of the benchmark's driver process that
    runs a fixed CPU task (hash 256 KiB, 1 000 Python loop steps, ~0.75 ms)
    every ``every_s`` seconds and records the CPU time it took.

    Other tenants of the host slow every thread on it, so the same pass
    costs more CPU time in a busy minute than in a quiet one. The probe
    runs while the work does, on the same cores, so its cost rises and
    falls with the work's. Its thread also runs in the process whose CPU
    time the run counts; ``window`` returns the samples of a time span so
    their CPU time can be left out of it."""

    def __init__(self, every_s: float = 0.025):
        self.every_s = every_s
        self.samples: list[tuple[float, float]] = []  # (end time, CPU s)
        self._buf = bytes(range(256)) * 1024
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="speed-probe", daemon=True)

    def _task(self) -> None:
        hashlib.blake2b(self._buf).digest()
        x = 0
        for i in range(1000):
            x += i * i % 7

    def _loop(self) -> None:
        while not self._stop.wait(self.every_s):
            c0 = time.thread_time()
            self._task()
            self.samples.append((time.perf_counter(), time.thread_time() - c0))

    def start(self) -> "SpeedProbe":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def window(self, t0: float, t1: float) -> list[float]:
        """CPU seconds of each probe that ended between ``t0`` and ``t1``."""
        return [c for t, c in self.samples if t0 <= t <= t1]
