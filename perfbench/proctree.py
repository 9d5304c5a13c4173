"""CPU time and peak resident memory of a process tree, from /proc.

The tree is the Spark JVM and everything it forks (the PySpark daemon
and its Python workers). CPU sums user+system time of every live
member plus the time of children they have already reaped, so a
worker that exits between two readings is still counted.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields_path(path: str) -> list[str] | None:
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces or parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _stat_fields(pid: int) -> list[str] | None:
    return _stat_fields_path(f"/proc/{pid}/stat")


def tree_pids(root: int) -> list[int]:
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
        todo.extend(children.get(pid, ()))
    return out


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the live JIT compiler threads of ``pid``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if "CompilerThre" not in fh.read():
                    continue
        except OSError:
            continue
        fields = _stat_fields_path(f"/proc/{pid}/task/{tid}/stat")
        if fields is not None:
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def cpu_seconds(root: int) -> float:
    """utime + stime + cutime + cstime over the tree, in seconds, less
    the JVM's JIT compiler threads: their work is warm-up, and how much
    of it lands in one op is noise. Exact only while compiler threads
    never exit (the run turns dynamic compiler threads off)."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11..14] = utime, stime, cutime, cstime (stat 14-17)
            ticks += sum(int(f) for f in fields[11:15])
    return (ticks - _jit_ticks(root)) / _TICK


def peak_rss_mb(root: int) -> dict[int, float]:
    """Each live member's peak resident set (VmHWM), in MiB."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out


def reset_peak_rss(root: int) -> None:
    """Restart every live member's VmHWM from its current RSS."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue
