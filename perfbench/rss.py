"""Process-tree memory sampler, run as a separate process so sampling
never competes with the measured Python process for its GIL.

    python3 perfbench/rss.py <root-pid>

Samples the summed proportional set size (PSS) of <root-pid> and its
descendants (itself excluded) every INTERVAL_S until its stdin closes,
then prints one JSON line:
{"peak_bytes": ..., "peak_by_comm": {...}, "pids": [...every pid seen...]},
where peak_by_comm splits the peak by process name (java, python3, ...).
"""

from __future__ import annotations

import json
import os
import sys
import threading
from pathlib import Path

INTERVAL_S = 0.1


def tree(root: int) -> list[int]:
    """``root`` and every live descendant, from one /proc scan."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            stat = Path(f"/proc/{entry.name}/stat").read_text()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes mapping it. Summing plain RSS over a tree counts pages
    shared after fork once per process, and counts a parent's whole heap
    again for a child caught between fork and exec."""
    try:
        for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def comm(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/comm").read_text().strip()
    except OSError:
        return "?"


def main() -> None:
    root, me = int(sys.argv[1]), os.getpid()
    done = threading.Event()
    threading.Thread(target=lambda: (sys.stdin.read(), done.set()), daemon=True).start()
    peak, peak_by_comm, seen = 0, {}, set()
    while True:
        pids = [p for p in tree(root) if p != me]
        seen.update(pids)
        sizes = {p: pss_bytes(p) for p in pids}
        total = sum(sizes.values())
        if total > peak:
            peak, peak_by_comm = total, {}
            for p, b in sizes.items():
                name = comm(p)
                peak_by_comm[name] = peak_by_comm.get(name, 0) + b
        if done.wait(INTERVAL_S):
            break
    print(json.dumps({"peak_bytes": peak, "peak_by_comm": peak_by_comm, "pids": sorted(seen)}))


if __name__ == "__main__":
    main()
