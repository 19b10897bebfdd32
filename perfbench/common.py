"""Helpers shared by the workload processes: percentiles, /proc
readings (host steal, load, process-tree memory) and the hand-off of a
workload's result to the orchestrator."""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def pct(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100); 0.0 when empty."""
    if not values:
        return 0.0
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (k - lo))


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


# -- host record ---------------------------------------------------------


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    return [int(x) for x in fields]


class HostWindow:
    """CPU steal share and load average over a run's window, from /proc,
    so a noisy host can be told from a slow program."""

    def __init__(self) -> None:
        self._t0 = _cpu_times()
        self._load0 = os.getloadavg()[0]

    def record(self) -> dict:
        t1 = _cpu_times()
        delta = [b - a for a, b in zip(self._t0, t1)]
        total = sum(delta[:8]) or 1
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "steal_pct": round(100.0 * steal / total, 3),
            "loadavg_1m_start": self._load0,
            "loadavg_1m_end": os.getloadavg()[0],
            "ncpu": ncpu(),
        }


# -- process tree ----------------------------------------------------------


def session_pids(sid: int) -> list[int]:
    """Every live process whose session id is ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces: fields resume after the last ')'
        fields = stat[stat.rfind(")") + 2 :].split()
        if fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(name))
    return out


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except OSError:
        return 0.0


class TreeMemory:
    """Samples the summed RSS of all processes in this process's session
    (the driver, the JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.1) -> None:
        self.peak_mb = 0.0
        self._sid = os.getsid(0)
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(rss_mb(p) for p in session_pids(self._sid))
            self.peak_mb = max(self.peak_mb, total)
            self._stop.wait(self._interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()


# -- result hand-off -------------------------------------------------------


class Outcome:
    """Attempted/failed counts per operation type plus check failures."""

    def __init__(self) -> None:
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.mismatches: list[str] = []
        self._lock = threading.Lock()

    def count(self, op: str, ok: bool, n: int = 1) -> None:
        with self._lock:
            self.attempted[op] = self.attempted.get(op, 0) + n
            if not ok:
                self.failed[op] = self.failed.get(op, 0) + n

    def mismatch(self, what: str) -> None:
        with self._lock:
            if len(self.mismatches) < 20:
                self.mismatches.append(what)
            else:
                self.mismatches[-1] = f"... and more, last: {what}"


def write_result(path: str, outcome: Outcome, metrics: dict, detail: dict) -> None:
    doc = {
        "correct": not outcome.mismatches,
        "attempted": sum(outcome.attempted.values()),
        "failed": sum(outcome.failed.values()),
        "metrics": metrics,
        "detail": {
            "ops": {
                op: {"attempted": n, "failed": outcome.failed.get(op, 0)}
                for op, n in sorted(outcome.attempted.items())
            },
            "mismatches": outcome.mismatches,
            **detail,
        },
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, path)

