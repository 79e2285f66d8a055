"""CPU time, memory high-water marks and process trees read from ``/proc``."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def cpu_seconds(pid: int, children: bool = False) -> float:
    """utime+stime of ``pid`` (plus reaped children's when ``children``)."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


# JVM threads that compile code in the background: the HotSpot JIT compilers
# and the code-cache sweeper
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def thread_cpu(pid: int) -> dict[int, tuple[str, float]]:
    """utime+stime of each live thread of ``pid``: tid -> (name, seconds)."""
    out: dict[int, tuple[str, float]] = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:  # the thread ended
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        out[int(tid)] = (raw[raw.index("(") + 1:raw.rindex(")")],
                         (int(fields[11]) + int(fields[12])) / _TICK)
    return out


def jvm_cpu_split(pid: int) -> tuple[float, float]:
    """(non-JIT, JIT) CPU seconds of a JVM so far. Exact only when the JVM
    keeps a fixed set of compiler threads (``-XX:-UseDynamicNumberOfCompilerThreads``):
    the CPU of a thread that has ended stays in the process total but
    leaves the per-thread list."""
    jit = sum(secs for name, secs in thread_cpu(pid).values() if name.startswith(JIT_THREADS))
    return cpu_seconds(pid) - jit, jit


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def python_workers_cpu(jvm_pid: int) -> float:
    """CPU of the JVM's Python worker processes, including reaped workers
    (their time is in the daemon's children counters)."""
    return sum(
        cpu_seconds(p, children=True)
        for p in descendants(jvm_pid)
        if comm(p).startswith("python")
    )


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def host_cpu_ticks() -> list[int]:
    """The machine's summed CPU time counters (the ``cpu`` line of
    ``/proc/stat``: user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _running(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"  # a zombie has exited


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait for processes that are not our children to exit; SIGKILL any
    still alive at ``timeout`` and return those."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return alive
