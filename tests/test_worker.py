"""Worker wire-protocol parity tests (C3/C4 + task execution).

Each test replays a reference worker unit test over REAL sockets (the
reference mocks socket.socket; here a live fake-manager harness listens
on ephemeral TCP/UDP ports). Most run on the in-repo corpus and
executables under ``tests/fixtures/mr``, whose file01/file02 carry the
two classic four-word lines, so the reference tests' own expected values
(cited per test) still apply. Tests that need the reference's own
client or slow scripts read them from the reference checkout at
runtime (never copied) and carry ``needs_reference``.

No Spark needed: the worker is a pure control/exec shim. The final test
wires a real MRManagerServer and real MRWorkers together to prove the
two halves of the protocol interoperate (register → ack → heartbeats →
liveness → shutdown fan-out) — the hop the reference can never test
because its framework is starter stubs.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import random
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager
from itertools import chain
from pathlib import Path

import pytest

from eeecs485_p4_mapreduce_spark.mrlite import worker as worker_module
from eeecs485_p4_mapreduce_spark.mrlite.worker import MRWorker, send_json
from tests.conftest import (
    MR_FIXTURES,
    QuietWorker,
    fixture_wordcount,
    read_lines,
)

# A file or socket a test leaves open is an error under
# ``-X dev -W error::ResourceWarning``, not a warning lost in the log.
pytestmark = pytest.mark.filterwarnings(
    "error::pytest.PytestUnraisableExceptionWarning"
)

REF_DATA = Path("/root/reference/tests/testdata")

needs_reference = pytest.mark.skipif(
    not REF_DATA.is_dir(), reason="reference testdata not available"
)

# Fast heartbeats for tests: shape-identical to the spec's 2 s cadence.
HB = 0.2


class FakeManager:
    """Test harness playing the manager's side of the wire: a TCP
    listener that records every JSON message (acking registers), and a
    UDP listener that records heartbeat datagrams with receive times."""

    def __init__(self, ack_registers: bool = True):
        self.ack_registers = ack_registers
        self.tcp_messages: list[dict] = []
        self.heartbeats: list[tuple[float, dict]] = []
        self.ack_time: float | None = None
        self._stop = threading.Event()
        self._cond = threading.Condition()

        self._tcp = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._tcp.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._tcp.bind(("localhost", 0))
        self.port = self._tcp.getsockname()[1]
        self._tcp.listen()
        self._tcp.settimeout(0.2)

        self._udp = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self._udp.bind(("localhost", 0))
        self.hb_port = self._udp.getsockname()[1]
        self._udp.settimeout(0.2)

        self._threads = [
            threading.Thread(target=self._tcp_loop, daemon=True),
            threading.Thread(target=self._udp_loop, daemon=True),
        ]
        for t in self._threads:
            t.start()

    def _tcp_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._tcp.accept()
            except socket.timeout:
                continue
            with conn:
                chunks = []
                while chunk := conn.recv(65536):
                    chunks.append(chunk)
            message = json.loads(b"".join(chunks).decode("utf-8"))
            with self._cond:
                self.tcp_messages.append(message)
                self._cond.notify_all()
            if (
                self.ack_registers
                and message.get("message_type") == "register"
            ):
                self.ack_time = time.monotonic()
                send_json(
                    message["worker_host"],
                    message["worker_port"],
                    {
                        "message_type": "register_ack",
                        "worker_host": message["worker_host"],
                        "worker_port": message["worker_port"],
                    },
                )
        self._tcp.close()

    def _udp_loop(self) -> None:
        while not self._stop.is_set():
            try:
                data, _ = self._udp.recvfrom(65536)
            except socket.timeout:
                continue
            self.heartbeats.append(
                (time.monotonic(), json.loads(data.decode("utf-8")))
            )
        self._udp.close()

    def wait_for(self, predicate, timeout: float = 10.0) -> None:
        with self._cond:
            assert self._cond.wait_for(
                lambda: predicate(self.tcp_messages), timeout=timeout
            ), f"timed out; got {self.tcp_messages}"

    def stop(self) -> None:
        self._stop.set()
        for t in self._threads:
            t.join(timeout=5)


@pytest.fixture()
def fake_manager():
    mgr = FakeManager()
    yield mgr
    mgr.stop()


@pytest.fixture()
def worker(fake_manager):
    w = MRWorker(
        port=0,
        manager_port=fake_manager.port,
        manager_hb_port=fake_manager.hb_port,
        heartbeat_interval=HB,
    ).start()
    yield w
    w.stop()
    w.join(timeout=5)


def _non_heartbeat(messages):
    return [m for m in messages if m.get("message_type") != "heartbeat"]


def test_register_then_heartbeats(fake_manager, worker):
    """Reference test_worker_01 + test_worker_02: the worker registers
    with the exact message shape, starts heartbeating only AFTER the
    ack, at one per interval, and exits 0 on shutdown."""
    fake_manager.wait_for(lambda ms: len(_non_heartbeat(ms)) >= 1)
    assert _non_heartbeat(fake_manager.tcp_messages) == [
        {
            "message_type": "register",
            "worker_host": "localhost",
            "worker_port": worker.port,
        }
    ]
    # 1.5 intervals after the ack the reference expects 2-3 heartbeats
    # (one immediate + one per interval) — tests/test_worker_02.py:92.
    # The upper bound is computed from MEASURED elapsed time so a loaded
    # CI box that overslept can't flake it (cadence, not wall clock).
    time.sleep(1.5 * HB)
    beats = list(fake_manager.heartbeats)
    assert fake_manager.ack_time is not None
    elapsed = time.monotonic() - fake_manager.ack_time
    assert 2 <= len(beats) <= elapsed / HB + 2
    for when, beat in beats:
        assert beat == {
            "message_type": "heartbeat",
            "worker_host": "localhost",
            "worker_port": worker.port,
        }
        assert fake_manager.ack_time is not None
        assert when >= fake_manager.ack_time  # none before the ack
    send_json("localhost", worker.port, {"message_type": "shutdown"})
    worker.join(timeout=5)
    assert not worker.is_alive()
    assert worker.exit_code == 0
    # Heartbeats stop after shutdown.
    n = len(fake_manager.heartbeats)
    time.sleep(2 * HB)
    assert len(fake_manager.heartbeats) == n


def test_no_heartbeat_without_ack():
    """The worker must stay silent on the UDP port until the manager
    acks its registration (reference test_worker_01 sequencing)."""
    mgr = FakeManager(ack_registers=False)
    w = MRWorker(
        port=0,
        manager_port=mgr.port,
        manager_hb_port=mgr.hb_port,
        heartbeat_interval=HB,
    ).start()
    try:
        mgr.wait_for(lambda ms: len(ms) >= 1)
        time.sleep(3 * HB)
        assert mgr.heartbeats == []
        assert not w.registered.is_set()
    finally:
        w.stop()
        w.join(timeout=5)
        mgr.stop()


def test_map_task(fake_manager, worker, tmp_path):
    """Reference test_worker_03/04: a map task runs wc_map.sh,
    md5-routes by the pre-tab key, writes one file per partition, and
    reports finished with the exact message shape."""
    fake_manager.wait_for(lambda ms: len(_non_heartbeat(ms)) >= 1)
    out = tmp_path / "output"
    out.mkdir()
    send_json(
        "localhost",
        worker.port,
        {
            "message_type": "new_map_task",
            "task_id": 0,
            "executable": str(MR_FIXTURES / "exec/wc_map.sh"),
            "input_paths": [str(MR_FIXTURES / "input/file01")],
            "output_directory": str(out),
            "num_partitions": 2,
            "worker_host": "localhost",
            "worker_port": worker.port,
        },
    )
    fake_manager.wait_for(
        lambda ms: any(m.get("message_type") == "finished" for m in ms)
    )
    finished = [
        m
        for m in fake_manager.tcp_messages
        if m.get("message_type") == "finished"
    ]
    assert finished == [
        {
            "message_type": "finished",
            "task_id": 0,
            "output_paths": [
                str(out / "maptask00000-part00000"),
                str(out / "maptask00000-part00001"),
            ],
            "worker_host": "localhost",
            "worker_port": worker.port,
        }
    ]
    # Reference goldens (tests/test_worker_08.py:196-209): md5 routing
    # sends {"", bye, hello} to part 0 and {world} to part 1.
    part0 = (out / "maptask00000-part00000").read_text().splitlines()
    part1 = (out / "maptask00000-part00001").read_text().splitlines()
    assert sorted(part0) == ["\t1", "bye\t1", "hello\t1"]
    assert sorted(part1) == ["world\t1", "world\t1"]


def test_reduce_task(fake_manager, worker, tmp_path):
    """Reference test_worker_07: reduce over two UNSORTED intermediates
    of partition 0 through wc_reduce.sh must produce the reference's
    exact golden part-00000 — proving the worker sorts reduce input
    rather than trusting map-side order."""
    inter = tmp_path / "inter"
    out = tmp_path / "output"
    inter.mkdir()
    out.mkdir()
    inputs = {
        "maptask00000-part00000": "hello\t1\n\t1\nbye\t1\n",
        "maptask00001-part00000": "hello\t1\n\t1\n",
    }
    for name, text in inputs.items():
        (inter / name).write_text(text)
    fake_manager.wait_for(lambda ms: len(_non_heartbeat(ms)) >= 1)
    send_json(
        "localhost",
        worker.port,
        {
            "message_type": "new_reduce_task",
            "task_id": 0,
            "executable": str(MR_FIXTURES / "exec/wc_reduce.sh"),
            "input_paths": [str(inter / name) for name in inputs],
            "output_directory": str(out),
            "worker_host": "localhost",
            "worker_port": worker.port,
        },
    )
    fake_manager.wait_for(
        lambda ms: any(m.get("message_type") == "finished" for m in ms)
    )
    # Golden from reference tests/test_worker_07.py:120-125, which is
    # also the word count of the inputs above.
    golden = "\t2\nbye\t1\nhello\t2\n"
    counts = Counter(
        line.partition("\t")[0]
        for text in inputs.values()
        for line in text.splitlines()
    )
    assert golden == "".join(f"{k}\t{counts[k]}\n" for k in sorted(counts))
    assert (out / "part-00000").read_text() == golden


def test_map_then_reduce_end_to_end(fake_manager, worker, tmp_path):
    """Reference test_worker_08: two map tasks then two reduce tasks on
    the worker's own intermediates reproduce the reference's golden
    per-partition word counts byte-for-byte."""
    fake_manager.wait_for(lambda ms: len(_non_heartbeat(ms)) >= 1)
    inter = tmp_path / "intermediate"
    out = tmp_path / "output"
    inter.mkdir()
    out.mkdir()

    def wait_finished(n: int) -> None:
        fake_manager.wait_for(
            lambda ms: sum(
                m.get("message_type") == "finished" for m in ms
            )
            >= n
        )

    for task_id, infile in enumerate(["input/file01", "input/file02"]):
        send_json(
            "localhost",
            worker.port,
            {
                "message_type": "new_map_task",
                "task_id": task_id,
                "executable": str(MR_FIXTURES / "exec/wc_map.sh"),
                "input_paths": [str(MR_FIXTURES / infile)],
                "output_directory": str(inter),
                "num_partitions": 2,
                "worker_host": "localhost",
                "worker_port": worker.port,
            },
        )
        wait_finished(task_id + 1)
    for task_id in (0, 1):
        send_json(
            "localhost",
            worker.port,
            {
                "message_type": "new_reduce_task",
                "task_id": task_id,
                "executable": str(MR_FIXTURES / "exec/wc_reduce.sh"),
                "input_paths": [
                    str(inter / f"maptask00000-part{task_id:05d}"),
                    str(inter / f"maptask00001-part{task_id:05d}"),
                ],
                "output_directory": str(out),
                "worker_host": "localhost",
                "worker_port": worker.port,
            },
        )
        wait_finished(3 + task_id)
    # Goldens from reference tests/test_worker_08.py:226-242.
    assert (out / "part-00000").read_text() == "\t2\nbye\t1\nhello\t2\n"
    assert (
        out / "part-00001"
    ).read_text() == "goodbye\t1\nhadoop\t2\nworld\t2\n"


def test_manager_worker_cluster():
    """Both halves interoperate live: workers register with a real
    MRManagerServer (which acks — reference test_manager_02:126-133),
    heartbeat over UDP into its liveness table, die out of it after 5
    missed intervals, and receive the shutdown fan-out (reference
    test_manager_00 test_shutdown_workers)."""
    from eeecs485_p4_mapreduce_spark.mrlite import MRManagerServer

    # engine=None: no jobs are submitted in this test, only control.
    server = MRManagerServer(
        None, port=0, hb_port=0, heartbeat_interval=HB
    ).start()
    workers = [
        MRWorker(
            port=0,
            manager_port=server.port,
            manager_hb_port=server.hb_port,
            heartbeat_interval=HB,
        ).start()
        for _ in range(2)
    ]
    try:
        for w in workers:
            assert w.registered.wait(timeout=10)
        deadline = time.monotonic() + 10
        while len(server.alive_workers()) < 2:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        assert {w.port for w in workers} == {
            r.port for r in server.alive_workers()
        }

        # Kill one worker silently: after 5 missed intervals it must
        # drop out of the liveness table (C4's miss-5-and-dead rule).
        workers[0].stop()
        workers[0].join(timeout=5)
        time.sleep(6 * HB)
        alive = server.alive_workers()
        assert [r.port for r in alive] == [workers[1].port]

        # Shutdown via the manager's public TCP endpoint must fan out
        # to the surviving registered worker, which exits 0.
        send_json("localhost", server.port, {"message_type": "shutdown"})
        workers[1].join(timeout=10)
        assert not workers[1].is_alive()
        assert workers[1].exit_code == 0
        server.join(timeout=10)
        assert not server.is_alive()
    finally:
        for w in workers:
            w.stop()
        server.stop()


def _golden_wordcount() -> list[str]:
    return (
        (REF_DATA / "correct/word_count_correct.txt")
        .read_text()
        .splitlines()
    )


def _wait_job_done(server, timeout: float = 60.0):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if server.jobs and server.jobs[0].done.is_set():
            return server.jobs[0]
        time.sleep(0.05)
    raise TimeoutError(f"job not finished: {server.jobs}")


def test_cluster_runs_reference_wc_job(tmp_path):
    """C5 end-to-end: a manager with a live registered fleet executes a
    new_manager_job by dispatching map/reduce tasks to the workers —
    the reference's own execution model — and the union of part files
    equals the golden multiset (reference test_integration_02's check).
    K2: the map tasks write the reference's scratch layout,
    ``<cwd>/tmp/job-{id}/intermediate/maptask%05d-part%05d``, and the
    job removes its intermediate directory when it ends."""
    import re

    from eeecs485_p4_mapreduce_spark.mrlite import MRManagerServer

    server = MRManagerServer(
        None, port=0, hb_port=0, heartbeat_interval=HB
    ).start()
    workers = [
        MRWorker(
            port=0,
            manager_port=server.port,
            manager_hb_port=server.hb_port,
            heartbeat_interval=HB,
        ).start()
        for _ in range(2)
    ]
    try:
        for w in workers:
            assert w.registered.wait(timeout=10)
        out = tmp_path / "out"
        send_json(
            "localhost",
            server.port,
            {
                "message_type": "new_manager_job",
                "input_directory": str(MR_FIXTURES / "input"),
                "output_directory": str(out),
                "mapper_executable": str(MR_FIXTURES / "exec/wc_map.sh"),
                "reducer_executable": str(MR_FIXTURES / "exec/wc_reduce.sh"),
                "num_mappers": 2,
                "num_reducers": 2,
            },
        )
        rec = _wait_job_done(server)
        assert rec.error is None
        assert rec.result is not None
        assert [Path(p).name for p in rec.result.output_paths] == [
            "part-00000",
            "part-00001",
        ]
        lines = [
            line
            for p in rec.result.output_paths
            for line in Path(p).read_text().splitlines()
        ]
        assert sorted(lines) == sorted(fixture_wordcount())
        # Both workers did map work (2 tasks, 2 idle workers).
        map_events = server.task_events[:2]
        assert {ev["worker_port"] for ev in map_events} == {
            w.port for w in workers
        }
        # K2 layout; a fleet sharing this cwd may force the nested
        # m{port} fallback inside tmp/job-0.
        inter = re.escape(str(Path.cwd() / "tmp" / "job-0")) + (
            r"(/m\d+)?/intermediate"
        )
        for ev in map_events:
            tid = ev["task_id"]
            for p, path in enumerate(ev["output_paths"]):
                assert re.fullmatch(
                    rf"{inter}/maptask{tid:05d}-part{p:05d}", path
                ), path
                assert not Path(path).exists()
    finally:
        for w in workers:
            w.stop()
            w.join(timeout=5)
        server.stop()
        server.join(timeout=10)


class _ZombieWorker(MRWorker):
    """Registers and heartbeats like a real worker, then 'crashes'
    (stops heartbeating, never replies) on its first map task — the C7
    failure the reference fork never tests."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.got_task = threading.Event()

    def _run_map_task(self, message: dict) -> None:
        self.got_task.set()
        self._shutdown.set()  # silent death: no finished, no heartbeats


def test_dead_worker_task_reassigned(tmp_path, caplog):
    """C7: a worker that takes a task and dies silently falls out of
    liveness after 5 missed heartbeats; the manager requeues its task
    to the survivor, logs the requeue and the eviction at WARNING, and
    the job still completes with the golden output."""
    import logging

    from eeecs485_p4_mapreduce_spark.mrlite import MRManagerServer

    caplog.set_level(
        logging.WARNING, logger="eeecs485_p4_mapreduce_spark.mrlite.manager"
    )

    server = MRManagerServer(
        None, port=0, hb_port=0, heartbeat_interval=HB
    ).start()
    zombie = _ZombieWorker(
        port=0,
        manager_port=server.port,
        manager_hb_port=server.hb_port,
        heartbeat_interval=HB,
    ).start()
    worker = MRWorker(
        port=0,
        manager_port=server.port,
        manager_hb_port=server.hb_port,
        heartbeat_interval=HB,
    ).start()
    try:
        assert zombie.registered.wait(timeout=10)
        assert worker.registered.wait(timeout=10)
        out = tmp_path / "out"
        send_json(
            "localhost",
            server.port,
            {
                "message_type": "new_manager_job",
                "input_directory": str(MR_FIXTURES / "input"),
                "output_directory": str(out),
                "mapper_executable": str(MR_FIXTURES / "exec/wc_map.sh"),
                "reducer_executable": str(MR_FIXTURES / "exec/wc_reduce.sh"),
                "num_mappers": 2,
                "num_reducers": 2,
            },
        )
        rec = _wait_job_done(server)
        assert zombie.got_task.is_set()  # the zombie really took a task
        assert rec.error is None
        lines = [
            line
            for p in rec.result.output_paths
            for line in Path(p).read_text().splitlines()
        ]
        assert sorted(lines) == sorted(fixture_wordcount())
        # The zombie was evicted from the fleet when its task requeued.
        assert (zombie.host, zombie.port) not in server.workers
        # Every finished event came from the survivor.
        assert {ev["worker_port"] for ev in server.task_events} == {
            worker.port
        }
        zkey = f"localhost:{zombie.port}"
        messages = [
            r.getMessage() for r in caplog.records
            if r.levelno == logging.WARNING
        ]
        assert any(
            "requeue task" in m and zkey in m and "worker dead" in m
            for m in messages
        ), messages
        assert f"evict worker {zkey}: missed 5 heartbeats" in messages
    finally:
        zombie.stop()
        worker.stop()
        for w in (zombie, worker):
            w.join(timeout=5)
        server.stop()
        server.join(timeout=10)


@needs_reference
def test_reference_submit_client_drives_worker_fleet(tmp_path):
    """Full drop-in parity with ZERO Spark: the reference's OWN
    mapreduce-submit client (run as a subprocess) submits to our
    manager, which dispatches to our workers over the reference wire
    protocol, producing the reference's golden word count. This is the
    reference's entire deployment story — client, manager, workers —
    spoken end-to-end by this repo's native control plane."""
    import subprocess
    import sys

    from eeecs485_p4_mapreduce_spark.mrlite import MRManagerServer

    server = MRManagerServer(
        None, port=0, hb_port=0, heartbeat_interval=HB
    ).start()
    workers = [
        MRWorker(
            port=0,
            manager_port=server.port,
            manager_hb_port=server.hb_port,
            heartbeat_interval=HB,
        ).start()
        for _ in range(2)
    ]
    try:
        for w in workers:
            assert w.registered.wait(timeout=10)
        out = tmp_path / "out"
        proc = subprocess.run(
            [
                sys.executable,
                "/root/reference/mapreduce/submit.py",
                "--port", str(server.port),
                "--input", str(REF_DATA / "input"),
                "--output", str(out),
                "--mapper", str(REF_DATA / "exec/wc_map.sh"),
                "--reducer", str(REF_DATA / "exec/wc_reduce.sh"),
            ],
            capture_output=True,
            text=True,
            timeout=60,
        )
        assert proc.returncode == 0, proc.stderr
        rec = _wait_job_done(server)
        assert rec.error is None
        assert sorted(read_lines(rec.result)) == sorted(_golden_wordcount())
    finally:
        for w in workers:
            w.stop()
            w.join(timeout=5)
        server.stop()
        server.join(timeout=10)


def test_task_failure_reported_not_fatal(fake_manager, worker, tmp_path):
    """A bad executable must neither kill the worker nor go silent: the
    worker reports finished-with-error (an extra field reference
    tooling ignores) and stays fully alive for the next task."""
    fake_manager.wait_for(lambda ms: len(_non_heartbeat(ms)) >= 1)
    out = tmp_path / "out"
    out.mkdir()
    send_json(
        "localhost",
        worker.port,
        {
            "message_type": "new_map_task",
            "task_id": 7,
            "executable": "/nonexistent/mapper.sh",
            "input_paths": [str(MR_FIXTURES / "input/file01")],
            "output_directory": str(out),
            "num_partitions": 1,
            "worker_host": "localhost",
            "worker_port": worker.port,
        },
    )
    fake_manager.wait_for(
        lambda ms: any(m.get("message_type") == "finished" for m in ms)
    )
    ev = [
        m
        for m in fake_manager.tcp_messages
        if m.get("message_type") == "finished"
    ][0]
    assert ev["task_id"] == 7
    assert ev["output_paths"] == []
    assert "error" in ev and "mapper" in ev["error"].lower() or ev["error"]
    # Worker still serves tasks afterwards.
    send_json(
        "localhost",
        worker.port,
        {
            "message_type": "new_map_task",
            "task_id": 8,
            "executable": str(MR_FIXTURES / "exec/wc_map.sh"),
            "input_paths": [str(MR_FIXTURES / "input/file01")],
            "output_directory": str(out),
            "num_partitions": 1,
            "worker_host": "localhost",
            "worker_port": worker.port,
        },
    )
    fake_manager.wait_for(
        lambda ms: sum(m.get("message_type") == "finished" for m in ms) >= 2
    )
    ok = [
        m
        for m in fake_manager.tcp_messages
        if m.get("message_type") == "finished" and not m.get("error")
    ]
    assert ok and ok[0]["task_id"] == 8


def test_bad_job_fails_cleanly_on_fleet(tmp_path):
    """End-to-end C7 bound: a deterministically-failing mapper must
    fail the JOB after bounded attempts — never hang the submitter,
    never kill the fleet."""
    from eeecs485_p4_mapreduce_spark.mrlite import MRManagerServer

    server = MRManagerServer(
        None, port=0, hb_port=0, heartbeat_interval=HB
    ).start()
    worker = MRWorker(
        port=0,
        manager_port=server.port,
        manager_hb_port=server.hb_port,
        heartbeat_interval=HB,
    ).start()
    try:
        assert worker.registered.wait(timeout=10)
        send_json(
            "localhost",
            server.port,
            {
                "message_type": "new_manager_job",
                "input_directory": str(MR_FIXTURES / "input"),
                "output_directory": str(tmp_path / "out"),
                "mapper_executable": "/nonexistent/mapper.sh",
                "reducer_executable": str(MR_FIXTURES / "exec/wc_reduce.sh"),
                "num_mappers": 2,
                "num_reducers": 1,
            },
        )
        rec = _wait_job_done(server, timeout=60)
        assert rec.error is not None
        assert "failed" in rec.error
        assert worker.is_alive()  # the fleet survives the bad job
    finally:
        worker.stop()
        worker.join(timeout=5)
        server.stop()
        server.join(timeout=10)


def test_reduce_handles_missing_trailing_newline(
    fake_manager, worker, tmp_path
):
    """A mapper whose last output line lacks its newline must not
    concatenate two records in the merged reduce input."""
    inter = tmp_path / "inter"
    out = tmp_path / "out"
    inter.mkdir()
    out.mkdir()
    (inter / "maptask00000-part00000").write_text("b\t1\na\t1")  # no \n
    (inter / "maptask00001-part00000").write_text("a\t1\nb\t1\n")
    fake_manager.wait_for(lambda ms: len(_non_heartbeat(ms)) >= 1)
    send_json(
        "localhost",
        worker.port,
        {
            "message_type": "new_reduce_task",
            "task_id": 0,
            "executable": str(MR_FIXTURES / "exec/wc_reduce.sh"),
            "input_paths": [
                str(inter / "maptask00000-part00000"),
                str(inter / "maptask00001-part00000"),
            ],
            "output_directory": str(out),
            "worker_host": "localhost",
            "worker_port": worker.port,
        },
    )
    fake_manager.wait_for(
        lambda ms: any(m.get("message_type") == "finished" for m in ms)
    )
    assert (out / "part-00000").read_text() == "a\t2\nb\t2\n"


@pytest.mark.parametrize(
    "reducer, n_lines",
    [("false", 10), ("false", 200_000), ("true", 10), ("true", 200_000)],
)
def test_reducer_exit_reported_without_output(
    fake_manager, worker, tmp_path, reducer, n_lines
):
    """A reducer that exits non-zero is reported as ``reducer exited N``
    whether it died before or after the worker's last write into its
    stdin; one that exits 0 while input is still unread (200k lines,
    well past the 64 KiB pipe buffer) is an error too. Either way the
    task is reported, not fatal, and leaves neither a ``part-*`` nor a
    ``.tmp-*`` file. With 10 lines the pipe buffer can take the whole
    input before ``true`` exits, so success with an empty part is the
    one other outcome allowed there."""
    inter = tmp_path / "inter"
    out = tmp_path / "out"
    inter.mkdir()
    out.mkdir()
    inputs = []
    for i in range(3):
        path = inter / f"maptask{i:05d}-part00000"
        path.write_bytes(b"".join(b"w%d\t1\n" % j for j in range(n_lines)))
        inputs.append(str(path))
    fake_manager.wait_for(lambda ms: len(_non_heartbeat(ms)) >= 1)
    send_json(
        "localhost",
        worker.port,
        {
            "message_type": "new_reduce_task",
            "task_id": 0,
            "executable": shutil.which(reducer),
            "input_paths": inputs,
            "output_directory": str(out),
            "worker_host": "localhost",
            "worker_port": worker.port,
        },
    )
    fake_manager.wait_for(
        lambda ms: any(m.get("message_type") == "finished" for m in ms),
        timeout=30.0,
    )
    (ev,) = [
        m
        for m in fake_manager.tcp_messages
        if m.get("message_type") == "finished"
    ]
    if reducer == "false":
        assert ev.get("error") == "RuntimeError: reducer exited 1"
    elif n_lines > 10 or ev.get("error"):
        assert ev.get("error") == (
            "RuntimeError: reducer exited 0 before reading all its input"
        )
    else:
        assert ev["output_paths"] == [str(out / "part-00000")]
        assert (out / "part-00000").read_bytes() == b""
        return
    assert ev["output_paths"] == []
    assert list(out.iterdir()) == []
    assert worker.is_alive()


_MERGE_POOL = [
    b"", b"a", b"a\t1", b"a\t2", b"a\tb", b"ab", b"b", b"b\r",
    b"\x0c", b"\r", b"caf\xe9", b"\xff\xfe", b"\t", b"z\x0cz",
]


def _random_run(rng: random.Random) -> list[bytes]:
    """Newline-terminated lines, from none to ~100 blocks of 64 bytes,
    drawn from a small pool (so runs share duplicates and lines equal to
    the merge fence) plus random bytes."""
    n = rng.choice([0, 1, 1, 2, 5, 30, 200, 2_000])
    alphabet = b"ab\t\r\x0c\xe9\xff "
    return [
        (
            rng.choice(_MERGE_POOL)
            if rng.random() < 0.7
            else bytes(rng.choices(alphabet, k=rng.randint(0, 6)))
        )
        + b"\n"
        for _ in range(n)
    ]


def test_reduce_merge_is_one_sort_of_all_lines(tmp_path, monkeypatch):
    """Property: over seeded random runs, the reduce task feeds ``cat``
    exactly the sorted concatenation of all input lines, byte for byte.
    Covers k = 0..6 inputs (empty files included), 1-line runs, runs of
    many blocks, duplicates and fence-equal lines across runs, tab
    (0x09) sorting below newline (0x0a), carriage returns, form feeds,
    non-UTF-8 bytes, and a final line missing its newline. Blocks are
    shrunk to 64 bytes so that small runs take many merge steps."""
    monkeypatch.setattr(worker_module, "CHUNK_BYTES", 64)
    rng = random.Random(485)
    cat = shutil.which("cat")
    w = QuietWorker(port=0)
    for trial in range(150):
        inter = tmp_path / f"inter{trial}"
        out = tmp_path / f"out{trial}"
        inter.mkdir()
        out.mkdir()
        all_lines, paths = [], []
        for i in range(rng.randint(0, 6)):
            run = _random_run(rng)
            all_lines += run
            data = b"".join(run)
            # Drop the final newline, but never of an empty final line:
            # that would delete the record, not unterminate it.
            if run and run[-1] != b"\n" and rng.random() < 0.3:
                data = data[:-1]
            path = inter / f"maptask{i:05d}-part00000"
            path.write_bytes(data)
            paths.append(str(path))
        w._run_reduce_task({
            "task_id": 0,
            "executable": cat,
            "input_paths": paths,
            "output_directory": str(out),
        })
        expected = b"".join(sorted(all_lines))
        assert (out / "part-00000").read_bytes() == expected, trial
        assert [p.name for p in out.iterdir()] == ["part-00000"]


def _contract_wordcount(texts: list[bytes], n: int) -> dict[str, bytes]:
    """The job contract for wc_map.sh/wc_reduce.sh, over bytes: split
    each file on newline only, tokenize on space and tab (ASCII
    lowercase, as ``tr`` under LC_ALL=C), route ``token<TAB>1`` by
    md5(token) % n, sort each partition's whole lines, count runs."""
    parts: list[list[bytes]] = [[] for _ in range(n)]
    for text in texts:
        for line in text.split(b"\n")[:-1]:
            for tok in line.lower().replace(b"\t", b" ").split(b" "):
                p = int(hashlib.md5(tok).hexdigest(), 16) % n
                parts[p].append(tok + b"\t1\n")
    out = {}
    for p, lines in enumerate(parts):
        counts = Counter(line.partition(b"\t")[0] for line in lines)
        out[f"maptask00000-part{p:05d}"] = b"".join(sorted(lines))
        out[f"part-{p:05d}"] = b"".join(
            b"%s\t%d\n" % (k, counts[k]) for k in sorted(counts)
        )
    return out


def test_records_split_on_newline_only(fake_manager, worker, tmp_path):
    """A record ends at a newline byte only. Carriage returns and form
    feeds (which text-mode reads and ``str.splitlines`` treat as line
    ends) stay inside their token, through map routing, the reduce
    sort and the reducer. Mapper output that is not UTF-8 passes
    through as bytes: md5-routed on its raw key bytes, sorted bytewise."""
    texts = [
        b"alpha be\x0cta gamma\nde\rlta alpha\n",
        b"caf\xe9 na\xefve caf\xe9\n",  # Latin-1, not UTF-8
    ]
    inp = tmp_path / "in"
    inter = tmp_path / "inter"
    out = tmp_path / "out"
    for d in (inp, inter, out):
        d.mkdir()
    for i, text in enumerate(texts):
        (inp / f"file{i:02d}").write_bytes(text)
    golden = _contract_wordcount(texts, 2)
    fake_manager.wait_for(lambda ms: len(_non_heartbeat(ms)) >= 1)

    def run(message: dict, n_finished: int) -> None:
        send_json("localhost", worker.port, {
            **message, "worker_host": "localhost", "worker_port": worker.port,
        })
        fake_manager.wait_for(
            lambda ms: sum(m.get("message_type") == "finished" for m in ms)
            >= n_finished
        )

    run({
        "message_type": "new_map_task",
        "task_id": 0,
        "executable": str(MR_FIXTURES / "exec/wc_map.sh"),
        "input_paths": [str(inp / "file00"), str(inp / "file01")],
        "output_directory": str(inter),
        "num_partitions": 2,
    }, 1)
    for p in (0, 1):
        run({
            "message_type": "new_reduce_task",
            "task_id": p,
            "executable": str(MR_FIXTURES / "exec/wc_reduce.sh"),
            "input_paths": [str(inter / f"maptask00000-part{p:05d}")],
            "output_directory": str(out),
        }, 2 + p)
    errors = [
        m.get("error") for m in fake_manager.tcp_messages if m.get("error")
    ]
    assert errors == []
    for p in (0, 1):
        name = f"maptask00000-part{p:05d}"
        lines = (inter / name).read_bytes().split(b"\n")
        assert lines.pop() == b""
        assert b"".join(sorted(ln + b"\n" for ln in lines)) == golden[name]
        name = f"part-{p:05d}"
        assert (out / name).read_bytes() == golden[name]


@pytest.fixture()
def spawned(monkeypatch) -> list[subprocess.Popen]:
    """The processes started through ``subprocess.Popen`` during the
    test, in start order."""
    procs: list[subprocess.Popen] = []

    class Recorded(subprocess.Popen):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            procs.append(self)

    monkeypatch.setattr(subprocess, "Popen", Recorded)
    return procs


def _script(tmp_path: Path, name: str, body: str) -> Path:
    exe = tmp_path / name
    exe.write_text("#!/bin/sh\n" + body)
    exe.chmod(0o755)
    return exe


def test_reducer_starts_before_its_input_is_sorted(tmp_path, monkeypatch):
    """The reduce task starts the reducer before it reads and sorts any
    input file, so its start-up overlaps that work."""
    exe, marker = _marked_cat(tmp_path)
    real = worker_module._sorted_blocks
    calls = []

    def sorted_blocks(path):
        if not calls:
            deadline = time.monotonic() + 3
            while not marker.exists() and time.monotonic() < deadline:
                time.sleep(0.01)
            assert marker.exists(), "input sorted before the reducer ran"
        calls.append(path)
        return real(path)

    monkeypatch.setattr(worker_module, "_sorted_blocks", sorted_blocks)
    paths = []
    for i, data in enumerate([b"b\t1\na\t1\n", b"c\t1\na\t1"]):
        path = tmp_path / f"maptask{i:05d}-part00000"
        path.write_bytes(data)
        paths.append(str(path))
    out = tmp_path / "out"
    out.mkdir()
    QuietWorker(port=0)._run_reduce_task({
        "task_id": 0,
        "executable": str(exe),
        "input_paths": paths,
        "output_directory": str(out),
    })
    assert calls == paths
    assert (out / "part-00000").read_bytes() == b"a\t1\na\t1\nb\t1\nc\t1\n"


@pytest.mark.parametrize("missing", [0, 1])
def test_missing_reduce_input_fails_without_output(tmp_path, spawned, missing):
    """An input file that cannot be read fails the reduce task, whether
    it is spilled (first) or merged from memory (last): no ``part-*``
    or temp file is left, and the reducer, started first, is killed
    before it sees the end of its input, and reaped."""
    exe = _script(tmp_path, "reduce.sh", 'cat >/dev/null\ntouch "$0.done"\n')
    paths = [tmp_path / f"maptask{i:05d}-part00000" for i in (0, 1)]
    paths[1 - missing].write_bytes(b"a\t1\n")
    out = tmp_path / "out"
    out.mkdir()
    with pytest.raises(FileNotFoundError):
        QuietWorker(port=0)._run_reduce_task({
            "task_id": 0,
            "executable": str(exe),
            "input_paths": [str(p) for p in paths],
            "output_directory": str(out),
        })
    assert list(out.iterdir()) == []
    assert not (tmp_path / "reduce.sh.done").exists()
    assert [proc.returncode for proc in spawned] == [-signal.SIGKILL]


def _cat_map(tmp_path: Path, texts: list[bytes], n: int) -> list[bytes]:
    """Run one map task of ``cat`` over files holding ``texts`` into
    ``n`` partitions and return the partition files' bytes."""
    paths = []
    for i, text in enumerate(texts):
        path = tmp_path / f"in{i}"
        path.write_bytes(text)
        paths.append(str(path))
    out = tmp_path / "inter"
    out.mkdir()
    QuietWorker(port=0)._run_map_task({
        "task_id": 0,
        "executable": shutil.which("cat"),
        "input_paths": paths,
        "output_directory": str(out),
        "num_partitions": n,
    })
    return [
        (out / f"maptask00000-part{p:05d}").read_bytes() for p in range(n)
    ]


def test_one_partition_map_writes_mapper_output(tmp_path):
    """With one partition, mapper output that repeats its lines and
    holds fewer than ``MEMO_KEYS`` distinct ones is written as one
    sorted run of the mappers' stdout, byte for byte, with a newline
    after the first file's unterminated, non-UTF-8 last line. The
    second file spans many chunks."""
    texts = [
        b"a\tb\xff\r\n\nc\xe9 d\x0c\n" * 2 + b"a\tb\xff\r\n\nc\xe9 d\x0c",
        b"".join(b"w%d\t\xfe%d\n" % (i % 97, i % 3) for i in range(20_000)),
    ]
    lines = texts[0].split(b"\n") + texts[1].split(b"\n")[:-1]
    assert (
        _cat_map(tmp_path, texts, 1)
        == [b"".join(sorted(line + b"\n" for line in lines))]
    )


def test_map_runs_sort_lines_in_reduce_order(tmp_path):
    """A run's lines are ordered as the reduce orders them, whole line
    plus newline: ``a\\tb`` and ``a\\x00`` sort before ``a``, which a
    sort of the bare lines would put first."""
    texts = [b"ab\na\na\tb\na\x00\na\n" * 2]
    assert _cat_map(tmp_path, texts, 1) == [
        b"a\x00\n" * 2 + b"a\tb\n" * 2 + b"a\n" * 4 + b"ab\n" * 2
    ]


def _md5_route(line: bytes, n: int) -> int:
    return int(hashlib.md5(line.partition(b"\t")[0]).hexdigest(), 16) % n


@pytest.mark.parametrize("n", [1, 3])
@pytest.mark.parametrize("distinct_tail", [False, True])
def test_map_output_is_written_as_counted_runs(
    tmp_path, monkeypatch, n, distinct_tail
):
    """Both writers of a map task. With ``MEMO_KEYS`` patched to 8 and
    ``CHUNK_BYTES`` to 64 (eight 8-byte lines a chunk), each two chunks
    of repeated lines fill the counter and are written as one sorted
    run per partition, so the output is several runs. With
    ``distinct_tail``, the output then turns to distinct lines: the
    first chunk of them is written as a run, and every later line is
    routed as it comes. Each partition then reduces to the sorted
    lines routed to it."""
    monkeypatch.setattr(worker_module, "MEMO_KEYS", 8)
    monkeypatch.setattr(worker_module, "CHUNK_BYTES", 64)
    rng = random.Random(13)
    runs = []
    for _ in range(5):
        lines = [b"k00\t000\n"]
        while len(lines) < 8:
            line = b"k%02d\t%03d\n" % (rng.randrange(1, 99),
                                         rng.randrange(1000))
            if line not in lines:
                lines.append(line)
        chunks = [lines[:4] * 2, lines[4:] * 2]
        for chunk in chunks:
            rng.shuffle(chunk)
        runs.append(chunks[0] + chunks[1])
    tail = []
    if distinct_tail:
        tail = [b"t%02d\t%03d\n" % (99 - i, i) for i in range(40)]
        runs.append(tail[:8])
    expected = [b"" for _ in range(n)]
    for run in runs:
        for line in sorted(run):
            expected[_md5_route(line, n)] += line
    for line in tail[8:]:
        expected[_md5_route(line, n)] += line
    text = b"".join(chain.from_iterable(runs)) + b"".join(tail[8:])
    assert _cat_map(tmp_path, [text], n) == expected
    # several runs: no partition is one sort of its lines
    assert all(part != b"".join(sorted(part.splitlines(True)))
               for part in expected if part)
    out = tmp_path / "out"
    out.mkdir()
    w = QuietWorker(port=0)
    for p in range(n):
        w._run_reduce_task({
            "task_id": p,
            "executable": shutil.which("cat"),
            "input_paths": [str(tmp_path / f"inter/maptask00000-part{p:05d}")],
            "output_directory": str(out),
        })
        assert (out / f"part-{p:05d}").read_bytes() == b"".join(
            sorted(line for line in text.splitlines(keepends=True)
                   if _md5_route(line, n) == p)
        )


def test_map_writer_is_chosen_per_input_file(tmp_path):
    """A first file of a few distinct lines is written as a run and
    leaves the writer of the next file to its own lines: the second
    file's repeated lines are counted into one sorted run, not routed
    in mapper order."""
    texts = [b"c\nb\na\n", b"y\nx\n" * 100]
    assert _cat_map(tmp_path, texts, 1) == [
        b"a\nb\nc\n" + b"x\n" * 100 + b"y\n" * 100
    ]


@pytest.mark.parametrize(
    "line, count",
    [(b"x\t1\n", 10**6), (b"y" * 40_000 + b"\n", 20)],
    ids=["short", "long"],
)
def test_hot_line_copies_are_written_in_chunks(
    tmp_path, monkeypatch, line, count
):
    """A line repeated many times reaches its partition file intact,
    with no write larger than ``CHUNK_BYTES`` or, for a line longer
    than that, than one copy of the line."""
    sizes: list[int] = []
    real = worker_module.replaced

    class Recorded:
        def __init__(self, f):
            self.f = f

        def write(self, data):
            sizes.append(len(data))
            return self.f.write(data)

    @contextmanager
    def replaced(path, tag):
        with real(path, tag) as f:
            yield Recorded(f)

    monkeypatch.setattr(worker_module, "replaced", replaced)
    text = line * count
    assert _cat_map(tmp_path, [text], 1) == [text]
    assert sum(sizes) == len(text)
    assert max(sizes) <= max(worker_module.CHUNK_BYTES, len(line))


@needs_reference
def test_worker_sigkilled_mid_task_is_reassigned(tmp_path):
    """C7, the hard case: a worker dies AFTER receiving a map task but
    BEFORE sending finished (SIGKILL mid-``sleep`` inside the
    reference's own wc_map_slow.sh). The victim is a REAL subprocess
    (`python -m ...mrlite --worker`), so the kill is a genuine process
    death: no finished message, no more heartbeats, its mapper child
    orphaned mid-write. The manager's miss-5 liveness rule plus the
    epoch/requeue path must hand the task to the survivor and the job
    must still produce correct output — and the atomic temp-name write
    discipline means the victim's half-written partition files never
    pollute the replacement attempt's output."""
    import subprocess
    import sys

    from eeecs485_p4_mapreduce_spark.mrlite import MRManagerServer

    server = MRManagerServer(
        None, port=0, hb_port=0, heartbeat_interval=HB
    ).start()
    victim = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "eeecs485_p4_mapreduce_spark.mrlite",
            "--worker",
            "--port",
            "0",
            "--manager-port",
            str(server.port),
            "--manager-hb-port",
            str(server.hb_port),
            "--heartbeat-interval",
            str(HB),
        ],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        # any cwd works: the manager dispatches ABSOLUTE intermediate
        # paths, so the victim need not share the manager's directory
        # (PYTHONPATH keeps the package importable from the foreign cwd)
        cwd=tmp_path,
        env={
            **os.environ,
            "PYTHONPATH": str(Path(__file__).resolve().parents[1]),
        },
    )
    survivor = MRWorker(
        port=0,
        manager_port=server.port,
        manager_hb_port=server.hb_port,
        heartbeat_interval=HB,
    ).start()
    try:
        import re

        line = victim.stdout.readline()
        m = re.search(r"worker on [\w.]+:(\d+)", line)
        assert m, line
        victim_port = int(m.group(1))
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and not (
            ("localhost", victim_port) in server.workers
            and survivor.registered.is_set()
        ):
            time.sleep(0.05)
        assert ("localhost", victim_port) in server.workers
        assert survivor.registered.is_set()

        out = tmp_path / "out"
        send_json(
            "localhost",
            server.port,
            {
                "message_type": "new_manager_job",
                "input_directory": str(REF_DATA / "input_small"),
                "output_directory": str(out),
                "mapper_executable": str(
                    REF_DATA / "exec/wc_map_slow.sh"
                ),
                "reducer_executable": str(REF_DATA / "exec/wc_reduce.sh"),
                "num_mappers": 2,
                "num_reducers": 1,
            },
        )
        # Wait until the victim has demonstrably STARTED its map task:
        # each attempt opens private maptask*-part*.tmp-{port} files in
        # the job's intermediate dir the moment it begins (the mapper
        # then sleeps 3 s before emitting anything).
        deadline = time.monotonic() + 20
        victim_tmp = []
        while time.monotonic() < deadline and not victim_tmp:
            victim_tmp = list(
                (Path.cwd() / "tmp").glob(
                    f"job-*/intermediate/*.tmp-*-{victim_port}-*"
                )
            )
            time.sleep(0.05)
        assert victim_tmp, "victim never started its map task"
        victim.kill()  # SIGKILL: mid-sleep, no finished, no cleanup
        victim.wait(timeout=10)

        rec = _wait_job_done(server, timeout=60)
        assert rec.error is None
        # The victim fell out of the fleet when its task was requeued.
        assert ("localhost", victim_port) not in server.workers
        # Every finished event came from the survivor.
        assert {ev["worker_port"] for ev in server.task_events} == {
            survivor.port
        }
        import collections

        expected = collections.Counter(
            tok
            for f in sorted((REF_DATA / "input_small").iterdir())
            for tok in f.read_text().lower().split()
        )
        lines = [
            line
            for p in rec.result.output_paths
            for line in Path(p).read_text().splitlines()
        ]
        assert sorted(lines) == sorted(
            f"{w}\t{c}" for w, c in expected.items()
        )
    finally:
        if victim.poll() is None:
            victim.kill()
        survivor.stop()
        survivor.join(timeout=5)
        server.stop()
        server.join(timeout=10)


class _RssSampler:
    """Sample CURRENT RSS of this process from /proc/self/statm on a
    50 ms cadence and keep the max — the reference's MemoryProfiler
    shape (tests/utils/memory.py:11,28-33; ported pattern, not copied
    code) but against live RSS instead of ru_maxrss: the getrusage
    high-water mark is already pinned by whatever ran earlier in the
    pytest process, which would make a growth assertion vacuously pass.
    Linux-only, like the CI box."""

    INTERVAL = 0.05
    _PAGE = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def _rss_bytes() -> int:
        with open("/proc/self/statm", encoding="ascii") as f:
            return int(f.read().split()[1]) * _RssSampler._PAGE

    def __init__(self):
        self._stop = threading.Event()
        self.base = self._rss_bytes()
        self.peak = self.base
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._rss_bytes())
            self._stop.wait(self.INTERVAL)

    def stop(self) -> int:
        """Return max RSS growth (bytes) observed since construction."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._rss_bytes())
        return self.peak - self.base


def _zipf_corpus(out_dir: Path, seed: int, n_files: int, size: int) -> None:
    """Write ``file01``.. of about ``size`` bytes each: lines of 1-80
    words drawn Zipf(1.1) from a seeded 4000-word vocabulary, a few in
    upper case."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = [
        "".join(rng.choices(letters, k=2 + i % 8)) for i in range(4000)
    ]
    vocab[::37] = [w.capitalize() for w in vocab[::37]]
    weights = [1.0 / r**1.1 for r in range(1, len(vocab) + 1)]
    for i in range(1, n_files + 1):
        words = rng.choices(vocab, weights, k=size // 6)
        lines, start = [], 0
        while start < len(words):
            end = start + rng.randint(1, 80)
            lines.append(" ".join(words[start:end]))
            start = end
        (out_dir / f"file{i:02d}").write_text("\n".join(lines) + "\n")


@pytest.mark.skipif(
    not Path("/proc/self/statm").exists(), reason="needs Linux procfs"
)
def test_map_task_memory_envelope(fake_manager, worker, tmp_path):
    """Reference test_worker_11 analog, the MEMORY half: mapping a
    seeded ~3.6 MB Zipf corpus through wc_map.sh must not grow this
    process's RSS by more than 1 MiB (the reference's exact bound at
    tests/test_worker_11.py:121) — the worker's map loop reads the
    mapper's stdout in ``CHUNK_BYTES`` chunks and bounds its key memo
    at ``MEMO_KEYS``, so peak memory is O(1) in input size, not
    O(file). The wc_map.sh subprocess's own memory is outside our RSS
    and is streaming anyway (the reference relies on the same
    decomposition).

    A small warm-up map runs first so one-time costs (subprocess
    machinery imports, allocator arenas) are paid outside the profiled
    window, mirroring the reference profiler's start-after-register
    sequencing."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    _zipf_corpus(corpus, seed=11, n_files=4, size=900_000)
    fake_manager.wait_for(lambda ms: len(_non_heartbeat(ms)) >= 1)
    out_warm = tmp_path / "warm"
    out_warm.mkdir()
    send_json(
        "localhost",
        worker.port,
        {
            "message_type": "new_map_task",
            "task_id": 0,
            "executable": str(MR_FIXTURES / "exec/wc_map.sh"),
            "input_paths": [str(MR_FIXTURES / "input/file01")],
            "output_directory": str(out_warm),
            "num_partitions": 2,
            "worker_host": "localhost",
            "worker_port": worker.port,
        },
    )
    fake_manager.wait_for(
        lambda ms: any(m.get("message_type") == "finished" for m in ms)
    )

    out = tmp_path / "large"
    out.mkdir()
    sampler = _RssSampler()
    t0 = time.monotonic()
    send_json(
        "localhost",
        worker.port,
        {
            "message_type": "new_map_task",
            "task_id": 1,
            "executable": str(MR_FIXTURES / "exec/wc_map.sh"),
            "input_paths": [str(p) for p in sorted(corpus.iterdir())],
            "output_directory": str(out),
            "num_partitions": 4,
            "worker_host": "localhost",
            "worker_port": worker.port,
        },
    )
    fake_manager.wait_for(
        lambda ms: sum(
            1 for m in ms if m.get("message_type") == "finished"
        )
        >= 2,
        timeout=30.0,
    )
    elapsed = time.monotonic() - t0
    growth = sampler.stop()
    # Sanity: the map really ran over the whole corpus (~600k tokens).
    n_lines = sum(
        p.read_bytes().count(b"\n") for p in out.glob("maptask00001-part*")
    )
    assert n_lines > 500_000
    assert growth < 1 * 1024 * 1024, f"RSS grew {growth} B during map"
    assert 0 < elapsed < 30.0


def _wc_intermediates(out_dir: Path, seed: int, n_files: int, size: int):
    """Write the unsorted word-count map outputs of a ``_zipf_corpus``,
    ``word<TAB>1`` per word, one file per corpus file, and return their
    paths."""
    corpus = out_dir / "corpus"
    corpus.mkdir(parents=True)
    _zipf_corpus(corpus, seed, n_files, size)
    paths = []
    for i, f in enumerate(sorted(corpus.iterdir())):
        path = out_dir / f"maptask{i:05d}-part00000"
        words = f.read_bytes().split()
        path.write_bytes(b"".join(w + b"\t1\n" for w in words))
        paths.append(path)
    return paths


@pytest.mark.skipif(
    not Path("/proc/self/statm").exists(), reason="needs Linux procfs"
)
def test_reduce_task_memory_envelope(tmp_path):
    """The reduce side's memory bound: O(largest input file + k blocks),
    never O(partition). Reducing k = 8 wc-style intermediates of ~1.2 MB
    each through ``cat`` may grow this process's RSS by at most twice
    what one input costs as a list of lines; holding every sorted input
    in memory at once would cost about eight times that. A small reduce
    runs first so one-time costs are paid outside the profiled window."""
    inputs = _wc_intermediates(tmp_path / "inter", seed=13, n_files=8,
                               size=930_000)
    data = inputs[0].read_bytes()
    # One input as a list of lines: each line a bytes object plus its
    # list slot.
    run_cost = len(data) + data.count(b"\n") * (sys.getsizeof(b"") + 8)
    del data
    cat = shutil.which("cat")
    w = QuietWorker(port=0)
    warm = tmp_path / "warm"
    warm.mkdir()
    w._run_reduce_task({
        "task_id": 0,
        "executable": cat,
        "input_paths": [str(MR_FIXTURES / "input/file01")] * 2,
        "output_directory": str(warm),
    })
    out = tmp_path / "out"
    out.mkdir()
    sampler = _RssSampler()
    w._run_reduce_task({
        "task_id": 0,
        "executable": cat,
        "input_paths": [str(p) for p in inputs],
        "output_directory": str(out),
    })
    growth = sampler.stop()
    assert (out / "part-00000").stat().st_size == sum(
        p.stat().st_size for p in inputs
    )
    assert growth < 2 * run_cost, (
        f"RSS grew {growth} B; one input costs {run_cost} B"
    )


def test_job_root_cleanup_never_reaps_a_tenant_fleet(tmp_path):
    """Regression: with the collision fallback NESTED inside
    tmp/job-{id}, the owning fleet's cleanup must not rmtree the
    whole root while another fleet's m{port} scratch lives in it —
    each fleet removes only its own subtree, and the shared root is
    reaped by whichever fleet leaves last (empty-dir rmdir)."""
    from eeecs485_p4_mapreduce_spark.mrlite.manager import MRManagerServer

    root = tmp_path / "tmp" / "job-0"
    owner_inter = root / "intermediate"
    tenant = root / "m6001"
    tenant_inter = tenant / "intermediate"
    tenant_inter.mkdir(parents=True)
    (tenant_inter / "maptask00000-part00000").write_text("k\tv\n")
    owner_inter.mkdir()
    (owner_inter / "maptask00000-part00000").write_text("k\tv\n")

    # Owner leaves first: tenant's in-flight scratch must survive.
    MRManagerServer._cleanup_job_root(root, owner_inter, fallback=False)
    assert not owner_inter.exists()
    assert (tenant_inter / "maptask00000-part00000").read_text() == "k\tv\n"
    assert root.exists(), "root must survive while a tenant lives in it"

    # Tenant leaves last: its subtree goes, and the now-empty shared
    # root is reaped with it.
    MRManagerServer._cleanup_job_root(tenant, tenant_inter, fallback=True)
    assert not tenant.exists()
    assert not root.exists(), "last fleet out reaps the shared root"

    # Reverse order on a fresh tree: tenant first, then owner.
    tenant_inter.mkdir(parents=True)
    owner_inter.mkdir()
    MRManagerServer._cleanup_job_root(tenant, tenant_inter, fallback=True)
    assert not tenant.exists() and root.exists()
    MRManagerServer._cleanup_job_root(root, owner_inter, fallback=False)
    assert not root.exists()


def _marked_cat(tmp_path: Path) -> tuple[Path, Path]:
    """An executable that leaves ``<itself>.ran`` behind, then runs
    ``cat``; returns (executable, marker)."""
    exe = _script(tmp_path, "marked_cat.sh", 'touch "$0.ran"\nexec cat\n')
    return exe, tmp_path / "marked_cat.sh.ran"


def _task(mtype: str, task_id, exe: Path, out: Path, port: int) -> dict:
    message = {
        "message_type": mtype,
        "task_id": task_id,
        "executable": str(exe),
        "input_paths": [str(MR_FIXTURES / "input/file01")],
        "output_directory": str(out),
        "worker_host": "localhost",
        "worker_port": port,
    }
    if mtype == "new_map_task":
        message["num_partitions"] = 2
    return message


def _finished(fake_manager) -> list[dict]:
    return [
        m for m in fake_manager.tcp_messages
        if m.get("message_type") == "finished"
    ]


@pytest.mark.parametrize(
    "mtype, field, value",
    [
        ("new_map_task", "input_paths", "input/file01"),
        ("new_map_task", "input_paths", [1]),
        ("new_map_task", "executable", None),
        ("new_map_task", "output_directory", ["out"]),
        ("new_map_task", "num_partitions", "2"),
        ("new_map_task", "num_partitions", True),
        ("new_map_task", "num_partitions", 0),
        ("new_reduce_task", "input_paths", "input/file01"),
        ("new_reduce_task", "executable", 1),
    ],
    ids=["map-str-paths", "map-int-path", "map-null-exe", "map-list-outdir",
         "map-str-parts", "map-bool-parts", "map-zero-parts",
         "reduce-str-paths", "reduce-int-exe"],
)
def test_bad_task_field_fails_before_exec(
    fake_manager, worker, tmp_path, mtype, field, value
):
    """A task message whose field has the wrong JSON type (or a map
    task with no partition) fails with a ``finished`` error naming the
    field before any file is opened or process started, and the worker
    runs the next valid task. Before, fields were coerced with
    ``int()``/``str()``: a str ``input_paths`` was iterated a character
    at a time and JSON ``true`` became one partition."""
    fake_manager.wait_for(lambda ms: len(_non_heartbeat(ms)) >= 1)
    exe, marker = _marked_cat(tmp_path)
    out = tmp_path / "out"
    out.mkdir()
    send_json("localhost", worker.port,
              {**_task(mtype, 7, exe, out, worker.port), field: value})
    fake_manager.wait_for(lambda ms: len(_finished(fake_manager)) >= 1)
    [bad] = _finished(fake_manager)
    assert bad["task_id"] == 7 and bad["output_paths"] == []
    assert bad["error"].startswith("ValueError: ") and field in bad["error"]
    assert not marker.exists() and list(out.iterdir()) == []

    send_json("localhost", worker.port,
              _task(mtype, 8, exe, out, worker.port))
    fake_manager.wait_for(lambda ms: len(_finished(fake_manager)) >= 2)
    good = _finished(fake_manager)[1]
    assert good["task_id"] == 8 and "error" not in good
    assert marker.exists()


_ABSENT = object()


@pytest.mark.parametrize(
    "task_id", [_ABSENT, None, "7", True, 7.0],
    ids=["absent", "null", "str", "bool", "float"],
)
def test_task_without_int_task_id_is_dropped(
    fake_manager, worker, tmp_path, caplog, task_id
):
    """A task message without an int ``task_id`` has no task to report
    on: the worker drops it unrun, logs it and counts it, and runs the
    next valid task. Before, JSON ``true`` ran as task 1 and an absent
    id was reported as task -1."""
    caplog.set_level(logging.WARNING)
    fake_manager.wait_for(lambda ms: len(_non_heartbeat(ms)) >= 1)
    exe, marker = _marked_cat(tmp_path)
    out = tmp_path / "out"
    out.mkdir()
    message = _task("new_map_task", task_id, exe, out, worker.port)
    if task_id is _ABSENT:
        del message["task_id"]
    send_json("localhost", worker.port, message)
    deadline = time.monotonic() + 5
    while worker.malformed_count < 1 and time.monotonic() < deadline:
        time.sleep(0.02)
    assert worker.malformed_count == 1
    assert any(
        r.levelno == logging.WARNING
        and r.getMessage() == "dropped new_map_task message"
        for r in caplog.records
    ), caplog.records
    assert not marker.exists() and list(out.iterdir()) == []

    send_json("localhost", worker.port,
              _task("new_map_task", 8, exe, out, worker.port))
    fake_manager.wait_for(lambda ms: len(_finished(fake_manager)) >= 1)
    [good] = _finished(fake_manager)
    assert good["task_id"] == 8 and "error" not in good
    assert marker.exists() and worker.malformed_count == 1


def _fleet_job_error(tmp_path, monkeypatch, sizes: dict) -> str:
    """Submit a fixture word-count job with ``sizes`` to a manager with
    one live worker; return the job's error after checking that no task
    was dispatched and no directory made."""
    from eeecs485_p4_mapreduce_spark.mrlite import MRManagerServer

    monkeypatch.chdir(tmp_path)  # the job's tmp/job-{id} would go here
    server = MRManagerServer(
        None, port=0, hb_port=0, heartbeat_interval=HB
    ).start()
    worker = MRWorker(
        port=0,
        manager_port=server.port,
        manager_hb_port=server.hb_port,
        heartbeat_interval=HB,
    ).start()
    try:
        assert worker.registered.wait(timeout=10)
        send_json("localhost", server.port, {
            "message_type": "new_manager_job",
            "input_directory": str(MR_FIXTURES / "input"),
            "output_directory": str(tmp_path / "out"),
            "mapper_executable": str(MR_FIXTURES / "exec/wc_map.sh"),
            "reducer_executable": str(MR_FIXTURES / "exec/wc_reduce.sh"),
            **sizes,
        })
        rec = _wait_job_done(server, timeout=30)
        assert worker.finished == []
        assert sorted(p.name for p in tmp_path.iterdir()) == []
        return rec.error
    finally:
        worker.stop()
        worker.join(timeout=5)
        server.stop()
        server.join(timeout=10)


@pytest.mark.parametrize(
    "num_mappers, num_reducers, field",
    [(0, 1, "num_mappers"), (-1, 2, "num_mappers"), (2, 0, "num_reducers")],
)
def test_job_size_below_one_rejected_on_fleet(
    tmp_path, monkeypatch, num_mappers, num_reducers, field
):
    """A fleet job with fewer than one map or reduce task fails with a
    ValueError naming the field before any directory is made or task
    dispatched. Before, ``num_mappers: 0`` reported success with empty
    parts (its input dropped), and ``num_reducers: 0`` failed only after
    every map task failed three times with ZeroDivisionError."""
    sizes = {"num_mappers": num_mappers, "num_reducers": num_reducers}
    error = _fleet_job_error(tmp_path, monkeypatch, sizes)
    assert error.startswith(f"ValueError: {field} must be at least 1")


@pytest.mark.parametrize(
    "field, value",
    [
        ("num_mappers", 1.9),
        ("num_mappers", True),
        ("num_mappers", "2"),
        ("num_reducers", 2.5),
    ],
)
def test_job_size_not_json_int_rejected_on_fleet(
    tmp_path, monkeypatch, field, value
):
    """A job size that is not a JSON int fails the fleet job with a
    ValueError naming the field before any directory is made or task
    dispatched. Before, ``int()`` turned 1.9, true and "2" into one map
    task and 2.5 into two reducers, and the job reported success."""
    error = _fleet_job_error(tmp_path, monkeypatch, {field: value})
    assert error == f"ValueError: {field} must be an int, got {value!r}"


def test_stop_wakes_daemons_at_once():
    """``stop()`` ends a manager's and a worker's blocked ``accept()``
    and ``recvfrom()`` at once, and the wake-up is not counted as a
    malformed message. Before, both loops polled their shutdown flag
    every 0.5 s, so a ``stop()`` plus ``join()`` took up to 0.5 s."""
    from eeecs485_p4_mapreduce_spark.mrlite import MRManagerServer

    server = MRManagerServer(
        None, port=0, hb_port=0, heartbeat_interval=HB
    ).start()
    worker = MRWorker(
        port=0,
        manager_port=server.port,
        manager_hb_port=server.hb_port,
        heartbeat_interval=HB,
    ).start()
    try:
        assert worker.registered.wait(timeout=10)
        # let both daemons go back to their blocking accept/recvfrom
        time.sleep(0.1)
        for daemon in (worker, server):
            started = time.monotonic()
            daemon.stop()
            daemon.join(timeout=5)
            elapsed = time.monotonic() - started
            assert not daemon.is_alive()
            assert elapsed < 0.2, f"{type(daemon).__name__}: {elapsed:.3f}s"
            assert daemon.malformed_count == 0
    finally:
        worker.stop()
        worker.join(timeout=5)
        server.stop()
        server.join(timeout=10)


#: Top-level packages the fleet processes must not import.
THIRD_PARTY = {"pyspark", "py4j", "numpy", "pandas", "pyarrow"}


def _third_party_imports(importtime_stderr: str) -> set[str]:
    """Top-level packages in THIRD_PARTY that a ``-X importtime`` log
    names (its lines end ``| <module name>``)."""
    return {
        line.rpartition("|")[2].strip().split(".")[0]
        for line in importtime_stderr.splitlines()
        if line.startswith("import time:")
    } & THIRD_PARTY


def test_worker_process_imports_no_spark():
    """A ``--worker`` process registers with a live manager, shuts down
    on its fan-out, and imports nothing from pyspark, py4j, numpy,
    pandas or pyarrow on the way: the fleet path is standard library
    only (the package root resolves its Spark exports on first use)."""
    from eeecs485_p4_mapreduce_spark.mrlite import MRManagerServer

    repo = Path(__file__).resolve().parent.parent
    server = MRManagerServer(None, port=0, hb_port=0).start()
    proc = subprocess.Popen(
        [sys.executable, "-X", "importtime",
         "-m", "eeecs485_p4_mapreduce_spark.mrlite", "--worker",
         "--port", "0", "--manager-port", str(server.port),
         "--manager-hb-port", str(server.hb_port)],
        cwd=repo, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        text=True,
    )
    try:
        deadline = time.monotonic() + 60
        while not server.workers and time.monotonic() < deadline:
            assert proc.poll() is None, proc.stderr.read()
            time.sleep(0.01)
        assert len(server.workers) == 1
    finally:
        server.stop()
        server.join(timeout=10)
        _out, err = proc.communicate(timeout=30)
    assert proc.returncode == 0, err[-2000:]
    assert "eeecs485_p4_mapreduce_spark.mrlite.worker" in err
    assert _third_party_imports(err) == set()


def test_fleet_manager_process_imports_no_spark():
    """The same holds for a process that hosts ``MRManagerServer(None)``,
    the manager of a fleet-only deployment."""
    code = (
        "from eeecs485_p4_mapreduce_spark.mrlite import MRManagerServer\n"
        "srv = MRManagerServer(None, port=0, hb_port=0).start()\n"
        "srv.stop()\n"
        "srv.join(timeout=10)\n"
    )
    proc = subprocess.run(
        [sys.executable, "-X", "importtime", "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "eeecs485_p4_mapreduce_spark.mrlite.manager" in proc.stderr
    assert _third_party_imports(proc.stderr) == set()


def test_package_root_resolves_spark_exports_on_use():
    """The package root's public names still import, a submodule still
    imports through it, and an unknown name is an AttributeError."""
    import eeecs485_p4_mapreduce_spark as pkg
    from eeecs485_p4_mapreduce_spark import (  # noqa: F401
        get_spark,
        load_tables,
        register_views,
        registry,
    )
    from eeecs485_p4_mapreduce_spark.catalog import load_tables as lt
    from eeecs485_p4_mapreduce_spark.session import get_spark as gs

    assert (get_spark, load_tables) == (gs, lt)
    assert pkg.__all__ == ["get_spark", "load_tables", "register_views"]
    with pytest.raises(AttributeError, match="no_such_name"):
        pkg.no_such_name  # noqa: B018
    assert not hasattr(pkg, "no_such_name")
