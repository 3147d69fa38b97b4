"""Process-tree accounting from /proc: CPU seconds, RSS, CPU steal.

A Spark run is a tree: the driver's Python process, the JVM it launches,
and the JVM's Python daemon plus forked workers. CPU is summed as
utime+stime+cutime+cstime over the live tree, so a worker that exited
and was reaped still counts through its parent's cutime. Steal time is
not in these counters, so a noisy neighbour cannot inflate them.
"""

from __future__ import annotations

import os
import signal
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int, str] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes, comm)."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14 rss=21
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
    return int(f[1]), cpu, int(f[21]) * _PAGE, comm


def _all() -> dict[int, tuple[int, float, int, str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def tree(root: int) -> dict[int, tuple[int, float, int, str]]:
    """Every live process under `root`, `root` included."""
    procs = _all()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(kids.get(pid, []))
    return out


def _is_python_worker(pid: int, procs: dict) -> bool:
    """A Python process whose ancestry includes the JVM."""
    if not procs[pid][3].startswith("python"):
        return False
    ppid = procs[pid][0]
    while ppid in procs:
        if procs[ppid][3] == "java":
            return True
        ppid = procs[ppid][0]
    return False


def _pss(pid: int, rss: int) -> int:
    """Proportional set size: pages shared copy-on-write between the
    Python daemon and the workers it forks count once, not per process."""
    try:
        for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss


def sample(root: int, memory: bool = False) -> dict[str, float]:
    """CPU seconds of the tree and of its Python workers; with `memory`,
    also their resident MB (PSS for Python processes, RSS for the JVM)."""
    procs = tree(root)
    workers = [p for p in procs if _is_python_worker(p, procs)]
    out = {"cpu_s": sum(v[1] for v in procs.values()),
           "py_cpu_s": sum(procs[p][1] for p in workers)}
    if memory:
        # a helper the JVM spawns (jspawnhelper, sh) shares the JVM's pages
        # until it execs, so its RSS would count the heap twice
        mem = {p: _pss(p, v[2]) if v[3].startswith("python") else v[2] for p, v in procs.items()
               if v[3].startswith("python") or procs.get(v[0], (0, 0, 0, ""))[3] != "java"}
        out["rss_mb"] = sum(mem.values()) / 2**20
        out["py_rss_mb"] = sum(mem[p] for p in workers) / 2**20
        out["by_process"] = {f"{procs[p][3]}:{p}": round(m / 2**20) for p, m in mem.items()}
    return out


def cpu_times() -> tuple[int, int]:
    """(total jiffies, steal jiffies) of the whole machine."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return sum(f[:8]), f[7]


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total > 0 else 0.0


def pids_with_env(marker: str) -> list[int]:
    """Processes whose environment carries `marker` (NAME=value)."""
    needle = marker.encode() + b"\0"
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            env = Path(f"/proc/{name}/environ").read_bytes()
        except OSError:
            continue
        if needle in env:
            out.append(int(name))
    return out


def kill_marked(marker: str, timeout_s: float = 20.0) -> None:
    """SIGKILL every process carrying `marker` and wait until all are gone."""
    deadline = time.monotonic() + timeout_s
    while True:
        pids = pids_with_env(marker)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still alive: {pids}")
        time.sleep(0.1)
