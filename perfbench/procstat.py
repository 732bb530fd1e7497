"""CPU time and resident memory of a process tree, read from /proc.

The tree is the benchmark process, the Spark JVM it launches and the
JVM's Python workers. CPU includes ``cutime``/``cstime``, so a child
that exits and is reaped inside a measured window still counts."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, reaped children included."""
    ticks = 0
    for pid in tree(root):
        fields = _stat(pid)
        if fields is not None:
            # utime stime cutime cstime are fields 14-17 of stat(5)
            ticks += sum(int(f) for f in fields[11:15])
    return ticks / _TICK


def peak_rss_mb(root: int) -> float:
    """Sum over the live tree of each process's peak RSS (VmHWM)."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def process_start_wall() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    start_ticks = int(_stat(os.getpid())[19])
    return btime + start_ticks / _TICK


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return any still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _stat(p) is not None and _stat(p)[0] != "Z"]
        if alive:
            time.sleep(0.05)
    return alive


def machine_ticks() -> tuple[int, int, int]:
    """(all, idle, steal) CPU ticks of the whole machine so far, from
    the first line of /proc/stat. Busy time includes other tenants of
    the machine, and steal is time the hypervisor gave to other guests:
    both explain a run that got less CPU than its neighbours."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal
    return sum(v), v[3] + v[4], v[7]


def host_share(before: tuple[int, int, int], after: tuple[int, int, int]) -> dict:
    """Busy cores and steal share of the machine between two readings."""
    total = max(after[0] - before[0], 1)
    idle, steal = after[1] - before[1], after[2] - before[2]
    return {"busy_cores": (total - idle) / total * (os.cpu_count() or 1),
            "steal_pct": 100.0 * steal / total}
