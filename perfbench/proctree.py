"""Process-tree CPU and memory accounting read from ``/proc``.

A workload's process tree is the Python process that submits jobs, the
JVM it launches and the Python workers the JVM forks. CPU is read per
process as
utime + stime + cutime + cstime: when a worker exits and its parent
reaps it, the worker's CPU moves into the parent's ``cutime``/``cstime``
instead of vanishing, so tree totals stay monotonic across worker exits
(``ps``'s ``cputime`` omits the children's share and can go backwards).

Peak memory is the sum, over every process ever seen in the tree, of its
own high-water mark (``VmHWM``), tracked at each snapshot.
"""

from __future__ import annotations

import os
import signal
import time
from typing import NamedTuple

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def read_stat(pid: int) -> tuple[str, int, int, float, float] | None:
    """(state, ppid, session, own CPU s, own + reaped-children CPU s),
    or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            data = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may hold spaces and parentheses: fields resume after the last ')'
    rest = data[data.rindex(b")") + 2 :].split()
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    own = (utime + stime) / _CLK_TCK
    return (
        rest[0].decode(), int(rest[1]), int(rest[3]), own,
        own + (cutime + cstime) / _CLK_TCK,
    )


def read_hwm_kb(pid: int) -> int:
    """Resident-memory high-water mark of one process (0 if gone or zombie)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def read_comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return ""


def _all_pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it (by parent pid)."""
    children: dict[int, list[int]] = {}
    for pid in _all_pids():
        st = read_stat(pid)
        if st is not None:
            children.setdefault(st[1], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class Proc(NamedTuple):
    comm: str
    ppid: int
    own_cpu_s: float
    total_cpu_s: float  # own + reaped children


class ProcTree:
    """CPU snapshots and peak-memory tracking for one process tree."""

    def __init__(self, root: int) -> None:
        self.root = root
        self._hwm_kb: dict[int, int] = {}

    def snapshot(self) -> dict[int, Proc]:
        """The live tree by pid; also folds each process's VmHWM into
        the peak."""
        snap = {}
        for pid in descendants(self.root):
            st = read_stat(pid)
            if st is None:
                continue
            snap[pid] = Proc(read_comm(pid), st[1], st[3], st[4])
            hwm = read_hwm_kb(pid)
            if hwm > self._hwm_kb.get(pid, 0):
                self._hwm_kb[pid] = hwm
        return snap

    def cpu_s(self) -> float:
        """Total CPU seconds the tree has used so far."""
        return sum(p.total_cpu_s for p in self.snapshot().values())

    def peak_rss_mb(self) -> float:
        return sum(self._hwm_kb.values()) / 1024.0


def split_cpu(snap: dict[int, Proc]) -> dict[str, float]:
    """CPU of the JVM's own threads, and of the Python workers below it
    (the Python process above the JVM is in neither)."""
    jvm = {pid for pid, p in snap.items() if p.comm == "java"}
    below = set()
    for pid, p in snap.items():
        up = p.ppid
        while up in snap and up not in jvm:
            up = snap[up].ppid
        if up in jvm and pid not in jvm:
            below.add(pid)
    return {
        "jvm": sum(snap[p].own_cpu_s for p in jvm),
        "python_workers": sum(snap[p].total_cpu_s for p in below),
    }


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``: a worker started
    with ``start_new_session`` keeps its JVM and Python workers in it."""
    out = []
    for pid in _all_pids():
        st = read_stat(pid)
        if st is not None and st[2] == sid and st[0] != "Z":
            out.append(pid)
    return out


def reap_session(sid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of session ``sid`` to end; kill the ones
    still alive after ``grace_s`` (at once when it is 0)."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline:
        if not session_pids(sid):
            return
        time.sleep(0.1)
    for pid in session_pids(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while session_pids(sid):
        time.sleep(0.05)
