"""Process-tree CPU and memory from /proc: the Python driver, the
local-mode JVM under it and every live Python worker. Kept in the
benchmark (not imported from the repo's own harness) so that both sides
of an A/B measure with identical code."""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, stat fields after the command name)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue  # raced with process exit
        rest = raw[raw.rfind(")") + 2:].split()
        out[int(d)] = (int(rest[1]), rest)
    return out


def _members(tree) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in tree.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in tree:
            found.append(pid)
            todo += children.get(pid, [])
    return found


def tree_cpu_s() -> float:
    """User+system CPU seconds of the live tree, plus what its reaped
    children used (a Python worker reaped by the JVM daemon moves into
    the daemon's cutime/cstime, so the sum stays monotone)."""
    tree = _tree()
    return sum(sum(int(x) for x in tree[p][1][11:15])
               for p in _members(tree)) / _CLK


def tree_rss_mb() -> float:
    """Resident memory of the live tree, in MiB."""
    tree = _tree()
    return sum(int(tree[p][1][21]) for p in _members(tree)) * _PAGE / 2**20


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot: steal is
    time the hypervisor gave the machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def descendants() -> list[int]:
    tree = _tree()
    return [p for p in _members(tree) if p != os.getpid()]


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for ``pids`` to exit (they may have been re-parented away
    from this process already); kill any still alive at ``timeout``."""
    import signal
    import time

    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return "Z"
    return raw[raw.rfind(")") + 2:].split()[0]
