import os
import subprocess
import sys
import time

import pytest

import procfs
from procfs import ProcStat, TreeCPU


def _role(st, parent_role):
    return "root" if parent_role is None else "kid"


def _tree():
    return TreeCPU(1, _role, {"root": "kid", "kid": "kid"})


def _ps(pid, ppid, self_s, kids_s=0.0, start=None):
    return ProcStat(pid, ppid, "p", pid if start is None else start, self_s, kids_s)


def _sample(tree, *procs):
    tree.update({p.pid: p for p in procs})
    return tree.by_role()


def test_parse_stat_with_odd_comm():
    line = "42 (a) (b c) S 7 42 42 0 -1 0 0 0 0 0 150 50 30 20 20 0 1 0 999 0 0"
    st = procfs.parse_stat(line)
    assert (st.pid, st.ppid, st.comm, st.start) == (42, 7, "a) (b c", 999)
    assert st.self_s == pytest.approx(200 / procfs.CLK_TCK)
    assert st.kids_s == pytest.approx(50 / procfs.CLK_TCK)


def test_reaped_child_is_counted_once():
    t = _tree()
    _sample(t, _ps(1, 0, 1.0), _ps(2, 1, 0.5))
    _sample(t, _ps(1, 0, 1.0), _ps(2, 1, 1.5))
    # child exits; its final 1.6 s lands in the parent's children-time
    cpu = _sample(t, _ps(1, 0, 1.0, kids_s=1.6))
    assert cpu["root"] == pytest.approx(1.0)
    assert cpu["kid"] == pytest.approx(1.6)


def test_unreaped_child_keeps_its_cpu():
    t = _tree()
    _sample(t, _ps(1, 0, 1.0), _ps(3, 1, 0.7))
    # vanishes without reaching the parent's children-time (SIGCHLD ignored)
    cpu = _sample(t, _ps(1, 0, 1.0))
    assert cpu["kid"] == pytest.approx(0.7)
    cpu = _sample(t, _ps(1, 0, 1.2))
    assert cpu["kid"] == pytest.approx(0.7)


def test_unseen_short_lived_children_count_through_the_parent():
    t = _tree()
    _sample(t, _ps(1, 0, 1.0), _ps(2, 1, 0.1))
    _sample(t, _ps(1, 0, 1.0, kids_s=0.3), _ps(2, 1, 0.2))  # an unseen child reaped
    cpu = _sample(t, _ps(1, 0, 1.0, kids_s=0.3), _ps(2, 1, 0.2, kids_s=0.4))  # grandchild
    assert cpu["kid"] == pytest.approx(0.3 + 0.2 + 0.4)


def test_vanished_parent_and_child_in_one_sample():
    t = _tree()
    _sample(t, _ps(1, 0, 1.0), _ps(2, 1, 0.5), _ps(3, 2, 0.25))
    # 3 reaped by 2, then 2 reaped by 1, between two samples
    cpu = _sample(t, _ps(1, 0, 1.0, kids_s=0.6 + 0.3))
    assert cpu["kid"] == pytest.approx(0.9)


def test_totals_never_decrease():
    t = _tree()
    seq = [
        [_ps(1, 0, 1.0), _ps(2, 1, 0.5), _ps(3, 2, 2.0)],
        [_ps(1, 0, 1.1), _ps(2, 1, 0.6)],  # 3 gone, not reaped
        [_ps(1, 0, 1.2, kids_s=0.7)],  # 2 reaped, carrying nothing of 3
        [_ps(1, 0, 1.3, kids_s=0.7), _ps(4, 1, 0.1, start=77)],
        [_ps(1, 0, 1.3, kids_s=0.9)],
    ]
    last = 0.0
    for procs in seq:
        total = sum(_sample(t, *procs).values())
        assert total >= last - 1e-9
        last = total


def test_pid_reuse_is_a_new_process():
    t = _tree()
    _sample(t, _ps(1, 0, 1.0), _ps(5, 1, 0.5, start=10))
    cpu = _sample(t, _ps(1, 0, 1.0), _ps(5, 1, 0.1, start=20))
    assert cpu["kid"] == pytest.approx(0.6)


def test_live_child_cpu_is_counted():
    tree = TreeCPU(os.getpid(), _role, {"root": "kid", "kid": "kid"})
    before = tree.by_role().get("kid", 0.0)
    tree.update(procfs.read_all())
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"
    p = subprocess.Popen([sys.executable, "-c", burn])
    time.sleep(0.05)
    tree.update(procfs.read_all())
    p.wait(timeout=30)
    tree.update(procfs.read_all())
    assert tree.by_role().get("kid", 0.0) - before >= 0.25
