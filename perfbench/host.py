"""Host facts the benchmark sizes its Spark session from, host diagnostics
recorded beside (never inside) the metrics, and process-tree meters."""

from __future__ import annotations

import os
import threading
import time


def cpus() -> int:
    """Cores this process may run on (the affinity mask, not the machine)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A quarter of the host's memory: local mode runs every executor thread
    inside the driver JVM, and the Python workers live beside it."""
    return max(1024, mem_total_mb() // 4)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


class StealMeter:
    """Hypervisor steal as a share of all CPU time since construction."""

    def __init__(self) -> None:
        self._s0, self._t0 = _cpu_ticks()

    def pct(self) -> float:
        s1, t1 = _cpu_ticks()
        return 100.0 * (s1 - self._s0) / max(t1 - self._t0, 1)


def diagnostics(steal: StealMeter) -> dict:
    return {
        "cpus": cpus(),
        "driver_heap_mb": driver_heap_mb(),
        "mem_total_mb": mem_total_mb(),
        "steal_pct": round(steal.pct(), 3),
        "loadavg": list(os.getloadavg()),
    }


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (which may hold
    spaces): index 0 is the state, 1 the parent pid, 11/12 user/system CPU."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` runs any more (zombies count as gone)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        states = [_stat_fields(pid) for pid in pids]
        if all(f is None or f[0] == "Z" for f in states):
            return
        time.sleep(0.1)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeMeter:
    """Samples this process and all its descendants (the JVM and its Python
    workers) on a background thread: the peak of their summed resident
    memory, and the CPU time they used while the meter ran."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.peak_rss_mb = 0.0
        self._interval = interval_s
        self._cpu0: dict[int, int] = {}
        self._cpu: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pids = descendants(os.getpid())
        self.peak_rss_mb = max(self.peak_rss_mb, sum(_rss_kb(p) for p in pids) / 1024.0)
        for pid in pids:
            fields = _stat_fields(pid)
            if fields is not None:
                # a process that exits keeps its last sample
                self._cpu[pid] = max(self._cpu.get(pid, 0), int(fields[11]) + int(fields[12]))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self._interval)

    @property
    def cpu_s(self) -> float:
        used = sum(v - self._cpu0.get(pid, 0) for pid, v in self._cpu.items())
        return used / os.sysconf("SC_CLK_TCK")

    def __enter__(self) -> "TreeMeter":
        self._sample()
        self._cpu0 = dict(self._cpu)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            try:
                total += os.lstat(os.path.join(root, fn)).st_size
            except OSError:
                pass
    return total


def engine_scratch_bytes(local_dir: str) -> int:
    """Bytes the engine keeps under the Spark local dir, beside Spark's own
    block-manager and session dirs."""
    if not os.path.isdir(local_dir):
        return 0
    return sum(
        dir_bytes(os.path.join(local_dir, name))
        for name in os.listdir(local_dir)
        if not name.startswith(("blockmgr-", "spark-"))
    )
