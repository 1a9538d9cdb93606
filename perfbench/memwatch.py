"""High-water mark of the summed proportional set size (PSS) of a
process's descendants: the driver JVM and its Python workers.

    python3 perfbench/memwatch.py <pid>

Samples every 100 ms until its standard input closes, then prints the
peak in MB. It runs as a process of its own, so walking ``/proc`` does
not hold the benchmark's interpreter lock while calls are being timed.
PSS, not RSS: the Python workers are forked from one daemon, and summing
their RSS would count each shared page once per worker alive at the time.
The JVM's share is its RSS (see ``pss``).
"""

from __future__ import annotations

import os
import select
import sys


def descendants(root: int) -> list[int]:
    """PIDs of every process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pss(pid: int) -> int:
    """Proportional set size of ``pid`` in bytes. For the JVM this is its
    resident set size: no other process shares its memory (up to shared
    library pages), and its PSS would need a walk of every page of the
    pre-touched heap, about 35 ms of kernel time under the JVM's memory
    map lock per sample."""
    try:
        with open(f"/proc/{pid}/comm") as fh:
            field, path = ("VmRSS:", "status") if fh.read().strip() == "java" else ("Pss:", "smaps_rollup")
        with open(f"/proc/{pid}/{path}") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def main() -> None:
    root, me = int(sys.argv[1]), os.getpid()
    peak = 0
    # stdin turns readable when the benchmark closes it
    while not select.select([sys.stdin], [], [], 0.1)[0]:
        peak = max(peak, sum(pss(p) for p in descendants(root) if p != me))
    print(peak / 2**20)


if __name__ == "__main__":
    main()
