"""The benchmark's own view of its processes: this one and every
process it started (the driver JVM and Python workers), read from
``/proc``."""

from __future__ import annotations

import os
import sys


def tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and the
    live processes it started."""
    ticks = 0
    for p in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """Seconds, summed over this machine's CPUs, that the hypervisor ran
    something else while they wanted to run (``steal`` in /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and everything it started
    (the driver JVM and Python workers): the highest total of the
    processes' resident sets, sampled every ``interval`` seconds and
    once more at the end from their high-water marks."""

    def __init__(self, interval: float = 0.5) -> None:
        import threading

        self.peak_kb = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,), daemon=True)
        self._thread.start()

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.sample("VmRSS")

    def sample(self, field: str) -> None:
        by_name: dict[str, int] = {}
        for p in tree_pids(os.getpid()):
            try:
                with open(f"/proc/{p}/comm") as fh:
                    name = fh.read().strip()
            except OSError:
                continue
            by_name[name] = by_name.get(name, 0) + _status_kb(p, field)
        total = sum(by_name.values())
        if total > self.peak_kb:
            self.peak_kb, self.peak_by_name = total, by_name

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample("VmHWM")
        print("peak rss by process: " + ", ".join(f"{k} {v / 1024:.0f} MB" for k, v in self.peak_by_name.items()),
              file=sys.stderr)
        return self.peak_kb / 1024.0
