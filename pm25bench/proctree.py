"""CPU time and peak memory of a process tree, read from /proc.

The tree is the benchmark's own process, the JVM it starts and the
Python workers the JVM forks. CPU includes the reaped children of each
live process (cutime/cstime), so workers that exited still count.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return text[text.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for child in children.get(pid, []):
            out.append(child)
            todo.append(child)
    return out


def tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    return [root] + descendants(root)


def cpu_seconds(pids: list[int]) -> float:
    """user + system CPU of the processes and their reaped children."""
    total = 0
    for pid in pids:
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until the processes have exited; kill what is left after the
    timeout. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in alive:
        while _running(pid) and time.monotonic() < deadline + 5.0:
            time.sleep(0.05)
    return alive


def _running(pid: int) -> bool:
    fields = _stat(pid)
    # a zombie has exited; its parent reaps it
    return fields is not None and fields[0] != "Z"
