"""Host state and memory, read from /proc (Linux)."""

from __future__ import annotations

import os
import threading
import time


def cpu_times() -> list[int]:
    """Aggregate jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and iowait as shares of all CPU time between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = max(sum(d), 1)
    return {"steal_frac": d[7] / total, "iowait_frac": d[4] / total}


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def process_start_uptime() -> float:
    """Seconds since boot at which this process started."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[19]) / os.sysconf("SC_CLK_TCK")


def uptime() -> float:
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0])


def since_process_start() -> float:
    return uptime() - process_start_uptime()


def _status_kb(pid: int, key: str, file: str = "status") -> int:
    try:
        with open(f"/proc/{pid}/{file}") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak resident memory of a JVM plus its Python worker processes.

    The JVM's own peak is its kernel high-water mark (VmHWM). Workers
    are forked from one daemon and share most pages, so they are summed
    as PSS (each shared page split between its sharers, not counted
    once per process); they come and go, so the sum is sampled on a
    timer and the largest kept."""

    def __init__(self, jvm_pid: int, period_s: float = 0.25):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.workers_peak_kb = 0
        self.workers_at_peak = 0
        self.jvm_hwm_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _sample(self) -> None:
        self.jvm_hwm_kb = max(self.jvm_hwm_kb, _status_kb(self.jvm_pid, "VmHWM"))
        # only Python processes: the JVM also forks short-lived helpers
        # (e.g. chmod for state-store files) whose pre-exec copy of the
        # JVM would otherwise be counted as a second JVM
        pss = [_status_kb(p, "Pss:", "smaps_rollup")
               for p in descendants(self.jvm_pid) if _comm(p).startswith("python")]
        if sum(pss) > self.workers_peak_kb:
            self.workers_peak_kb, self.workers_at_peak = sum(pss), len(pss)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def stop(self) -> float:
        """Final sample; returns peak MB (JVM high-water mark + workers)."""
        self._sample()
        self._stop.set()
        self._thread.join()
        return (self.jvm_hwm_kb + self.workers_peak_kb) / 1024


class HostWindow:
    """CPU steal/iowait share and load average over a timed window."""

    def __init__(self):
        self.t0 = cpu_times()

    def close(self) -> dict[str, float]:
        out = cpu_shares(self.t0, cpu_times())
        out["loadavg_1m"] = loadavg_1m()
        return out


def wait_gone(pid: int, timeout_s: float = 30.0) -> None:
    """Block until a process has exited (or is a zombie awaiting its
    parent's reap)."""
    deadline = time.time() + timeout_s
    while time.time() < deadline and os.path.exists(f"/proc/{pid}"):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                    return
        except OSError:
            return
        time.sleep(0.05)
