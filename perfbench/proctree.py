"""The benchmark's process tree (driver JVM and Python workers) from /proc:
peak resident memory, and waiting for the tree to end."""

from __future__ import annotations

import os
import time
from pathlib import Path


def _ppid(pid: str) -> int | None:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # the command name may hold spaces and parentheses; fields follow the last ')'
    return int(stat[stat.rindex(")") + 2 :].split()[1])


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            ppid = _ppid(entry)
            if ppid is not None:
                children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reset_peaks(pids: list[int]) -> None:
    """Reset each process's peak RSS (VmHWM) to its current RSS."""
    for pid in pids:
        try:
            Path(f"/proc/{pid}/clear_refs").write_text("5")
        except OSError:
            pass  # process already gone


def peak_rss(pids: list[int]) -> dict[str, float]:
    """Peak RSS (VmHWM) in MB (1e6 bytes) per process, keyed "pid name".
    Their sum bounds the tree's peak from above, since the processes need
    not peak at the same moment."""
    out = {}
    for pid in pids:
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in status.splitlines() if ":" in line)
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[f"{pid} {name}"] = int(fields["VmHWM"].split()[0]) * 1024 / 1e6
    return out


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited (or is a zombie); kill what is left
    after ``timeout`` and return the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    return alive


def _running(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"



def cpu_steal() -> float:
    """CPU seconds the host has taken from this machine since boot, summed
    over CPUs (/proc/stat); the difference of two readings shows how
    contended a measurement was."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")
