"""Process-tree accounting from /proc.

A job's work runs in its driver, the JVM the driver launches, the
pyspark daemon the JVM launches and the Python workers the daemon forks.
``getrusage`` misses the JVM and the daemon, because the driver never
waits on them, so CPU and memory are summed over the whole tree.  A
process that exits is reaped by its parent, and its CPU moves into the
parent's cutime/cstime, so tree CPU read at two instants is a difference
of live totals with nothing lost in between.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    """Summed resident set of the tree, in MB."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError):
            continue
    return total * _PAGE / 1e6


def become_subreaper() -> None:
    """Adopt orphaned descendants (PR_SET_CHILD_SUBREAPER): the JVM, the
    pyspark daemon and the Python workers a job process leaves behind,
    and anything they start, stay below this process, where
    ``end_descendants`` finds and reaps them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def die_with_parent() -> None:
    """SIGKILL this process when its parent dies (PR_SET_PDEATHSIG), so
    a job process does not outlive a benchmark that is killed."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL, 0, 0, 0)


def end_descendants(timeout_s: float = 20.0) -> None:
    """SIGKILL every process below this one and wait until each has ended
    and been reaped.  The tree is listed again until it is empty, so a
    process forked while the others were being killed (a Python worker
    the daemon starts) is not missed.  Needs ``become_subreaper``: every
    orphan is then this process's child and is reaped here."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while True:
        below = [pid for pid in descendants(me) if pid != me]
        for pid in below:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        if not below or time.monotonic() > deadline:
            return
        time.sleep(0.05)


def cpu_times() -> list[int]:
    """The host's aggregate CPU line from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_context(before: list[int]) -> dict:
    """1-minute load, and the share of CPU time stolen by the hypervisor
    since ``before`` (a ``cpu_times`` reading).  Context only: a run is
    never dropped or repeated because of them."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    # user nice system idle iowait irq softirq steal
    delta = [a - b for a, b in zip(cpu_times()[:8], before[:8])]
    return {"host.load1": load1, "host.steal_frac": delta[7] / sum(delta) if sum(delta) else 0.0}
