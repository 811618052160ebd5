"""CPU and memory of a process tree, read from /proc.

CPU accounting is monotone by construction. A process that vanishes
keeps the CPU it was last seen with. A parent's children-time
(``cutime + cstime``) only adds what its reaped children had not
already been seen using, so a child is never counted twice. A child
that exits without being reaped into a parent we watch (a daemon that
ignores SIGCHLD) keeps its last-seen CPU instead of dropping out of the
sum, which would make a per-round delta negative.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class ProcStat:
    pid: int
    ppid: int
    comm: str
    start: int  # clock ticks since boot; (pid, start) names one process
    self_s: float  # utime + stime
    kids_s: float  # cutime + cstime: reaped children


def parse_stat(text: str) -> ProcStat:
    """Parse one /proc/<pid>/stat line (``comm`` may hold spaces and
    parentheses, so split at the last ``)``)."""
    head, _, rest = text.rpartition(")")
    pid_s, _, comm = head.partition(" (")
    f = rest.split()
    return ProcStat(
        pid=int(pid_s),
        ppid=int(f[1]),
        comm=comm,
        start=int(f[19]),
        self_s=(int(f[11]) + int(f[12])) / CLK_TCK,
        kids_s=(int(f[13]) + int(f[14])) / CLK_TCK,
    )


def read_all(proc: str = "/proc") -> dict[int, ProcStat]:
    out: dict[int, ProcStat] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as f:
                out[int(name)] = parse_stat(f.read())
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
    return out


def subtree(stats: dict[int, ProcStat], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for s in stats.values():
        kids.setdefault(s.ppid, []).append(s.pid)
    out, todo = [], [root] if root in stats else []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


@dataclass
class _Tracked:
    role: str
    self_s: float
    kids_s: float
    ppid_key: tuple[int, int] | None
    pending: float = 0.0  # seen CPU of this process's vanished children


@dataclass
class TreeCPU:
    """Monotone CPU seconds per role over the tree under ``root``.

    ``classify(stat, parent_role)`` names the role of a newly seen
    process; ``kid_role[role]`` names the role that CPU from a process's
    unseen reaped children belongs to.
    """

    root: int
    classify: object
    kid_role: dict[str, str]
    tracked: dict[tuple[int, int], _Tracked] = field(default_factory=dict)
    banked: dict[str, float] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)

    def update(self, stats: dict[int, ProcStat]) -> list[int]:
        live = subtree(stats, self.root)
        keys = {p: (p, stats[p].start) for p in live}
        live_keys = set(keys.values())
        # Vanished processes first, children before parents (reverse of
        # first-seen order), so that what each one was seen using is
        # pending on its parent before the parent's children-time is read.
        for key in reversed([k for k in self.tracked if k not in live_keys]):
            gone = self.tracked.pop(key)
            self.banked[gone.role] = self.banked.get(gone.role, 0.0) + gone.self_s
            parent = self.tracked.get(gone.ppid_key) if gone.ppid_key else None
            if parent is not None:
                parent.pending += gone.self_s + gone.kids_s + gone.pending
        for p in live:  # a parent comes before its children
            st = stats[p]
            rec = self.tracked.get(keys[p])
            if rec is None:
                parent = self.tracked.get(keys.get(st.ppid, (-1, -1)))
                role = self.classify(st, parent.role if parent else None)
                self.tracked[keys[p]] = _Tracked(
                    role, st.self_s, st.kids_s, keys.get(st.ppid)
                )
                continue
            rec.self_s = max(rec.self_s, st.self_s)
            d_kids = st.kids_s - rec.kids_s
            if d_kids > 0:
                absorbed = min(d_kids, rec.pending)
                rec.pending -= absorbed
                role = self.kid_role.get(rec.role, rec.role)
                self.extra[role] = self.extra.get(role, 0.0) + d_kids - absorbed
                rec.kids_s = st.kids_s
        return live

    def by_role(self) -> dict[str, float]:
        out = dict(self.banked)
        for role, v in self.extra.items():
            out[role] = out.get(role, 0.0) + v
        for rec in self.tracked.values():
            out[rec.role] = out.get(rec.role, 0.0) + rec.self_s
        return out


class Sampler:
    """Background sampling of a :class:`TreeCPU` plus peak tree PSS.

    PSS is read only while ``track_pss(True)``, every sample: the peak
    moves with how many Python workers are alive at once, and a sparser
    read catches or misses it by chance. ``snapshot()`` samples
    synchronously, so round boundaries are exact.
    The sampler thread's own CPU is reported so the caller can take it
    out of the root process's share.
    """

    def __init__(self, tree: TreeCPU, interval: float = 0.25):
        self.tree = tree
        self.interval = interval
        self.peak_pss_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._own_cpu = 0.0
        self._pss_on = False

    def _sample(self, with_pss: bool) -> dict[str, float]:
        with self._lock:
            live = self.tree.update(read_all())
            if with_pss and self._pss_on:
                self.peak_pss_mb = max(
                    self.peak_pss_mb, sum(pss_mb(p) for p in live)
                )
            return self.tree.by_role()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample(True)
            self._own_cpu = time.thread_time()

    def start(self) -> "Sampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def track_pss(self, on: bool) -> None:
        self._pss_on = on

    def snapshot(self) -> dict[str, float]:
        return self._sample(True)

    def sampler_cpu_s(self) -> float:
        return self._own_cpu

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
