"""Readings from /proc: the benchmark's process tree and host noise.

The tree is this Python process (the Spark driver's Python side), its JVM
child and the JVM's Python workers.  CPU seconds are `utime + stime` of the
live processes plus `cutime + cstime`, which holds the CPU of children
already reaped (short-lived Python workers land there).
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at index 2 (state)
    return raw[raw.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    fields = _stat_fields(os.getpid())
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _TICK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree() -> dict[str, list[int]]:
    """This process's tree split into roles: `driver` (this process),
    `jvm` (java descendants) and `workers` (every other descendant)."""
    kids = _children()
    roles: dict[str, list[int]] = {"driver": [os.getpid()], "jvm": [], "workers": []}
    stack = list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        roles["jvm" if _comm(pid) == "java" else "workers"].append(pid)
        stack.extend(kids.get(pid, []))
    return roles


def cpu_by_role() -> dict[str, float]:
    """CPU seconds so far of each role of the tree, plus the worker count.

    Processes that are not Java nor this one (the launcher shell, the
    worker daemon and its forks) count as `workers`.
    """
    out: dict[str, float] = {}
    roles = tree()
    for role, pids in roles.items():
        total = 0
        for pid in pids:
            fields = _stat_fields(pid)
            if fields is not None:
                total += sum(int(x) for x in fields[11:15])
        out[role] = total / _TICK
    out["n_workers"] = float(len(roles["workers"]))
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


def host_counters() -> dict[str, float]:
    """Host-wide steal and iowait ticks so far, and the 1-minute load."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"iowait_ticks": float(cpu[5]), "steal_ticks": float(cpu[8]), "load1": load1}


def host_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {
        "iowait_ticks": after["iowait_ticks"] - before["iowait_ticks"],
        "steal_ticks": after["steal_ticks"] - before["steal_ticks"],
        "load1": after["load1"],
    }


class RssSampler:
    """Samples the tree's RSS on a thread while sampling is on; `peak_mb`
    is the highest total seen.  The tree's membership is re-read once a
    second, so new workers are counted."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def sampling(self, on: bool) -> None:
        if on:
            self._on.set()
        else:
            self._on.clear()

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def _loop(self) -> None:
        pids: list[int] = []
        refreshed = 0.0
        while not self._stop.is_set():
            self._on.wait()
            if self._stop.is_set():
                return
            now = time.monotonic()
            if now - refreshed > 1.0:
                pids = [p for ps in tree().values() for p in ps]
                refreshed = now
            self.peak_mb = max(self.peak_mb, rss_mb(pids))
            self._stop.wait(self.interval_s)
