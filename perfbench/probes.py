"""Host and process probes read from /proc: CPU by process kind, peak RSS
of the process tree, and host noise (hypervisor steal and CPU burned by
processes outside the tree) over a measured window."""

from __future__ import annotations

import os
import time

HZ = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int, str] | None:
    """(ppid, utime+stime+cutime+cstime jiffies, comm) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw.rsplit(") ", 1)[1].split()
    # reaped children's time lives in cutime/cstime: a Python worker that
    # exits inside the window stays counted through its parent
    return int(fields[1]), sum(int(x) for x in fields[11:15]), comm


def tree() -> dict[int, tuple[int, str]]:
    """{pid: (cpu jiffies, comm)} for this process and all descendants."""
    me = os.getpid()
    info: dict[int, tuple[int, int, str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            s = _stat(int(d))
            if s is not None:
                info[int(d)] = s
    out = {}
    for pid, (_, cpu, comm) in info.items():
        p = pid
        for _ in range(64):
            if p == me:
                out[pid] = (cpu, comm)
                break
            p = info.get(p, (0, 0, ""))[0]
            if p <= 1:
                break
    return out


def kind(pid: int, comm: str) -> str:
    if pid == os.getpid():
        return "driver"
    return "jvm" if comm == "java" else "pyworker"


def cpu_by_kind() -> dict[str, float]:
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (cpu, comm) in tree().items():
        out[kind(pid, comm)] += cpu / HZ
    return out


def peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak resident set
    (VmHWM)."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def host_jiffies() -> tuple[int, int, int]:
    """(total, steal, busy) jiffies of the whole host from /proc/stat;
    busy = user + nice + system + irq + softirq."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), steal, sum(vals[i] for i in (0, 1, 2, 5, 6))


class Window:
    """CPU and noise accounting between ``start()`` and ``stop()``."""

    def start(self) -> None:
        self.t0 = time.perf_counter()
        self.cpu0 = cpu_by_kind()
        self.host0 = host_jiffies()

    def stop(self) -> dict[str, float]:
        wall = time.perf_counter() - self.t0
        cpu1 = cpu_by_kind()
        host1 = host_jiffies()
        cpu = {k: max(cpu1[k] - self.cpu0[k], 0.0) for k in cpu1}
        total = max(host1[0] - self.host0[0], 1)
        tree_j = sum(cpu.values()) * HZ
        cores = len(os.sched_getaffinity(0))
        return {
            "cpu.driver_s": cpu["driver"],
            "cpu.jvm_s": cpu["jvm"],
            "cpu.pyworker_s": cpu["pyworker"],
            "cpu.busy_frac": sum(cpu.values()) / max(wall * cores, 1e-9),
            "host.steal_pct": 100.0 * (host1[1] - self.host0[1]) / total,
            "host.foreign_pct": 100.0
            * max((host1[2] - self.host0[2]) - tree_j, 0.0)
            / total,
            "window_s": wall,
        }
