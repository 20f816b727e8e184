"""Process-tree memory and clean-up from ``/proc`` (psutil is not used).

Counted processes: this Python driver and every live descendant, which
under ``local[N]`` are the JVM launched by pyspark, the Python worker
daemon it forks and the daemon's forked workers. Each one's ``VmHWM``
(peak resident set) is summed, so pages shared copy-on-write between the
daemon and its workers are counted once per process.
"""

from __future__ import annotations

import os
import signal
import time


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # the command name is parenthesised and may hold spaces
        fields = stat.rsplit(")", 1)[1].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for child, parent in _ppid_map().items():
        children.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def peak_rss_mb(pid: int | None = None, exclude=()) -> tuple[float, list]:
    """(Σ VmHWM of ``pid`` and its descendants but ``exclude``, in MB, and
    each counted process's ``(pid, command, MB)``)."""
    pid = pid or os.getpid()
    parts = [(p, _comm(p), vm_hwm_kb(p) / 1024.0)
             for p in [pid, *descendants(pid)] if p not in exclude]
    return sum(mb for _p, _c, mb in parts), parts


def process_age_s() -> float:
    """Seconds since this process started (``/proc`` clock ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def reap_descendants(timeout_s: float = 20.0) -> list[int]:
    """TERM, then KILL, every descendant still alive; wait for each to
    end. Returns the pids that had to be signalled."""
    left = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s / 2
        while time.monotonic() < deadline:
            _reap_children()
            alive = [p for p in left if _alive(p)]
            if not alive:
                return left
            time.sleep(0.05)
    return left


def _reap_children() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def cpu_steal() -> tuple[int, int]:
    """(all CPU ticks, stolen ticks) of the machine since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]
