"""Process-tree readings from ``/proc``: resident memory and CPU time of the
Spark driver JVM and the PySpark worker processes it forks."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return s[s.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def hwm_bytes(pid: int) -> int:
    """Kernel-tracked peak resident size of one process."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids`` and of their children already reaped."""
    ticks = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def cpu_ticks() -> tuple[int, int]:
    """Busy and stolen ticks of the whole machine (``/proc/stat``): time
    the hypervisor ran other guests on this VM's CPUs shows as steal."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def python_workers(jvm_pid: int) -> list[int]:
    """The PySpark daemon and workers: every process below the JVM."""
    return [p for p in descendants(jvm_pid) if p != jvm_pid]


class PeakRss:
    """Samples the summed RSS of a process tree on a background thread."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(descendants(self.root)))
            self._stop.wait(self.interval)

    def close(self) -> int:
        """Stop sampling; the peak, never below the root's own high-water mark."""
        self._stop.set()
        self._thread.join(timeout=5)
        return max(self.peak, hwm_bytes(self.root))


def wait_gone(pids: list[int], timeout: float) -> bool:
    """Wait until none of ``pids`` is alive (zombies count as gone)."""
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if (_stat_fields(p) or ["Z"])[0] != "Z"]
        if not alive or time.monotonic() > deadline:
            return not alive
        time.sleep(0.05)
