"""Process-tree accounting from /proc: CPU seconds of this process and
every descendant (Spark JVM, pyspark daemon and Python workers), and a
wait for the tree to exit."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime+stime+cutime+cstime in seconds)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited while listing
            continue
        # the command name may hold spaces and parens: fields follow the
        # last ')'; ppid is field 4, utime..cstime are fields 14-17
        fields = raw[raw.rindex(")") + 2 :].split()
        ticks = sum(int(v) for v in fields[11:15])
        table[int(name)] = (int(fields[1]), ticks / _TICK)
    return table


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = _stat_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for child in children.get(pid, []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` and its live descendants.

    A child that exits is reaped by a live parent, whose cutime/cstime
    then carry its time, so the total only grows."""
    root = os.getpid() if root is None else root
    table = _stat_table()
    pids = [root, *descendants(root, table)]
    return sum(table[p][1] for p in pids if p in table)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"  # a zombie has ended


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has ended; SIGKILL what is left at timeout
    and wait a little more. Returns the pids still running."""
    alive = list(pids)
    for sig in (None, signal.SIGKILL):
        if sig is not None:
            for p in alive:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + (timeout_s if sig is None else 5.0)
        while alive and time.monotonic() < deadline:
            alive = [p for p in alive if _running(p)]
            time.sleep(0.05)
        alive = [p for p in alive if _running(p)]
        if not alive:
            break
    return alive
