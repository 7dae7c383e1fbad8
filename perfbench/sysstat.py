"""Host and process observations for one benchmark run, read from /proc.

- ``noise_stamp`` / ``noise_delta``: host steal seconds and load average,
  so a run measured on a busy host is visible next to its figures.
- ``tree_cpu_s``: CPU seconds of this process and every descendant.
- ``RssSampler``: peak resident memory of this process and every
  descendant (the Spark JVM and its Python workers), sampled on a thread.
- ``tree_bytes``: on-disk size of a directory tree.
"""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def noise_stamp() -> dict:
    """Cumulative host steal seconds and the 1-minute load average now."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    steal = int(cpu[8]) * _TICK_S if len(cpu) > 8 else 0.0
    with open("/proc/loadavg") as f:
        load1 = float(f.readline().split()[0])
    return {"steal_s": steal, "load1": load1, "t": time.monotonic()}


def noise_delta(start: dict, end: dict) -> dict:
    """Steal seconds accrued between two stamps, with both load averages."""
    return {
        "steal_s": round(end["steal_s"] - start["steal_s"], 3),
        "wall_s": round(end["t"] - start["t"], 3),
        "load1_start": start["load1"],
        "load1_end": end["load1"],
    }


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (user + system, with their reaped children's). Time the host steals
    from the machine is not in it."""
    me = os.getpid()
    total = 0
    for pid in [me, *descendants(me)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        # utime stime cutime cstime are fields 14-17 of stat
        total += sum(int(x) for x in fields[11:15])
    return total * _TICK_S


def _parent_map() -> dict[int, int]:
    parents: dict[int, int] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between scandir and open
        # the command name may hold spaces; fields after ')' are fixed
        fields = stat[stat.rfind(")") + 2:].split()
        parents[int(entry.name)] = int(fields[1])
    return parents


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for child, parent in _parent_map().items():
        children.setdefault(parent, []).append(child)
    out: list[int] = []
    todo = [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it. Summing RSS instead would count a
    forked child's copy-on-write pages twice (the JVM forks briefly for
    every shell command Hadoop runs)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident memory of this process tree every
    ``period_s``, as the sum of the processes' proportional set sizes.
    ``cpu_s`` is the CPU time the sampling thread itself has used, so it
    can be left out of the process tree's CPU time."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_bytes = 0
        self.peak_procs: list[int] = []  # MB per process at the peak
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, name="rss-sampler", daemon=True
        )

    def sample(self) -> None:
        me = os.getpid()
        sizes = {p: _pss_bytes(p) for p in [me, *descendants(me)]}
        total = sum(sizes.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_procs = sorted(
                (b // 2**20 for b in sizes.values()), reverse=True
            )

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()
            self.cpu_s = time.thread_time()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def tree_bytes(path: str | Path) -> int:
    """Apparent size of every regular file under ``path``."""
    return sum(
        p.stat().st_size for p in Path(path).rglob("*") if p.is_file()
    )
