"""Process-tree readings from /proc: resident memory and storage writes
of a process and every descendant (the JVM and its Python workers)."""

from __future__ import annotations

import os


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (forked Python workers) split among them, so a tree's sum
    counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def write_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_write_bytes(pid: int) -> dict[int, int]:
    """{pid: cumulative write_bytes} over the tree rooted at ``pid``."""
    return {p: write_bytes(p) for p in tree(pid)}


def written_between(before: dict[int, int], after: dict[int, int]) -> int:
    """Bytes written by the tree between two ``tree_write_bytes``
    readings; processes that started in between count from zero."""
    return sum(v - before.get(p, 0) for p, v in after.items())
