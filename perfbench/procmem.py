"""Peak resident memory of the driver JVM and its Python workers.

Reads ``/proc`` directly: every descendant of this process (the JVM
that ``spark-submit`` launches, the PySpark daemon and its forked
workers) has its ``VmHWM`` high-water mark reset before a timed call
(``clear_refs`` value 5) and summed after it.
"""

from __future__ import annotations

import os


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue  # process exited while listing
        # comm may hold spaces/parens: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def reset_peaks() -> None:
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
                fh.write("5")
        except OSError:
            pass  # exited, or not ours to reset


def peak_rss_mb() -> float:
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
