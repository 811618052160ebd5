"""TCP submit-endpoint parity tests: the reference's OWN client script
(mapreduce/submit.py of the reference checkout, run as a subprocess at
test time — never copied) must be able to submit a job to MRManagerServer
and get the golden word-count output, proving C1's network hop works
unchanged for existing user scripts; that test carries
``needs_reference``. The rest run on the in-repo ``tests/fixtures/mr``
corpus or on no input at all."""

from __future__ import annotations

import json
import logging
import socket
import subprocess
import sys
import time
from pathlib import Path

import pytest

from tests.conftest import MR_FIXTURES, fixture_wordcount, read_lines

REF = Path("/root/reference")
REF_DATA = REF / "tests/testdata"

needs_reference = pytest.mark.skipif(
    not REF_DATA.is_dir(), reason="reference testdata not available"
)

#: new_manager_job fields of a fixture word-count job
FIXTURE_WC = {
    "message_type": "new_manager_job",
    "input_directory": str(MR_FIXTURES / "input"),
    "mapper_executable": str(MR_FIXTURES / "exec/wc_map.sh"),
    "reducer_executable": str(MR_FIXTURES / "exec/wc_reduce.sh"),
}


@pytest.fixture()
def server(spark):
    from eeecs485_p4_mapreduce_spark.mrlite import MREngine, MRManagerServer

    srv = MRManagerServer(MREngine(spark), port=0).start()
    yield srv
    srv.stop()
    srv.join(timeout=10)


def _send(port: int, message: dict) -> None:
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as sock:
        sock.connect(("localhost", port))
        sock.sendall(json.dumps(message).encode())


def _wait_jobs(server, n: int, timeout: float = 120.0) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if len(server.jobs) >= n and all(
            rec.done.is_set() for rec in server.jobs[:n]
        ):
            return
        time.sleep(0.2)
    raise TimeoutError(f"jobs not finished: {[(r.error, r.result) for r in server.jobs]}")


@needs_reference
def test_reference_submit_client_runs_wc_job(server, tmp_path):
    """Drive the endpoint with the reference's actual mapreduce-submit
    client: its fire-and-forget TCP JSON message must produce the golden
    2x2 word count."""
    out_dir = tmp_path / "out"
    proc = subprocess.run(
        [
            sys.executable,
            str(REF / "mapreduce/submit.py"),
            "--port", str(server.port),
            "--input", str(REF_DATA / "input"),
            "--output", str(out_dir),
            "--mapper", str(REF_DATA / "exec/wc_map.sh"),
            "--reducer", str(REF_DATA / "exec/wc_reduce.sh"),
        ],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr
    assert "Submitted job" in proc.stdout

    _wait_jobs(server, 1)
    rec = server.jobs[0]
    assert rec.error is None
    assert rec.result is not None and len(rec.result.output_paths) == 2
    golden = (REF_DATA / "correct/word_count_correct.txt").read_text().splitlines()
    assert sorted(read_lines(rec.result)) == sorted(golden)


def test_fifo_queueing_and_malformed_messages(server, tmp_path):
    """Two jobs submitted back-to-back run FIFO with increasing job ids
    (reference tests/test_manager_05/06 queue behavior); malformed JSON
    is discarded without killing the server, and each discard increments
    the observable malformed_count."""
    assert server.malformed_count == 0
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as sock:
        sock.connect(("localhost", server.port))
        sock.sendall(b"this is not json {")
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as sock:
        sock.connect(("localhost", server.port))
        sock.sendall(b"\xff\xfe not utf-8 either \x80")
    deadline = time.monotonic() + 5
    while server.malformed_count < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert server.malformed_count == 2
    base = {**FIXTURE_WC, "num_mappers": 1, "num_reducers": 1}
    _send(server.port, {**base, "output_directory": str(tmp_path / "a")})
    _send(server.port, {**base, "output_directory": str(tmp_path / "b")})
    _wait_jobs(server, 2)
    a, b = server.jobs
    assert a.error is None and b.error is None
    assert b.result.job_id == a.result.job_id + 1
    assert read_lines(a.result) == read_lines(b.result)


def test_shutdown_message_stops_server(server):
    """The reference's shutdown message terminates both server threads."""
    _send(server.port, {"message_type": "shutdown"})
    deadline = time.monotonic() + 10
    while server.is_alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not server.is_alive()


def test_job_size_not_json_int_rejected_on_spark(server, tmp_path):
    """With no fleet the job runs on Spark, and a job size that is not a
    JSON int fails it the same way as on the fleet: a ValueError naming
    the field, before the output directory is made. Before, ``int()``
    turned 1.9 into one map task and the job reported success."""
    out = tmp_path / "out"
    _send(server.port, {
        **FIXTURE_WC, "output_directory": str(out), "num_mappers": 1.9,
    })
    _wait_jobs(server, 1)
    assert server.jobs[0].error == (
        "ValueError: num_mappers must be an int, got 1.9"
    )
    assert not out.exists()


def test_shutdown_drains_queued_jobs(server):
    """Jobs still queued (or newly dispatched) at shutdown must have
    ``done`` set with an error rather than hanging a client that waits on
    the record — shutdown resolves every outstanding JobRecord."""
    server.stop()
    deadline = time.monotonic() + 10
    while server.is_alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    # Dispatch after shutdown: the runner loop is gone, so the record
    # must be resolved immediately instead of queued forever.
    server._dispatch(
        {
            "message_type": "new_manager_job",
            "input_directory": "/nonexistent",
            "output_directory": "/nonexistent",
            "mapper_executable": "true",
            "reducer_executable": "true",
        }
    )
    (rec,) = server.jobs
    assert rec.done.wait(timeout=5)
    assert rec.error == "dropped: shutdown"


def test_cli_serve_mode(tmp_path):
    """`python -m ...mrlite --serve` starts the endpoint, accepts the
    reference protocol, and exits cleanly on the shutdown message."""
    import re

    proc = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "eeecs485_p4_mapreduce_spark.mrlite",
            "--serve",
            "--port",
            "0",
        ],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        cwd=Path(__file__).resolve().parents[1],
    )
    try:
        line = proc.stdout.readline()
        m = re.search(r"listening on ([\w.]+):(\d+)", line)
        assert m, line
        port = int(m.group(2))
        _send(
            port,
            {
                **FIXTURE_WC,
                "output_directory": str(tmp_path / "out"),
                "num_mappers": 1,
                "num_reducers": 1,
            },
        )
        deadline = time.monotonic() + 90
        out_file = tmp_path / "out" / "part-00000"
        while time.monotonic() < deadline and not out_file.exists():
            time.sleep(0.3)
        assert out_file.exists(), "job output never appeared"
        _send(port, {"message_type": "shutdown"})
        assert proc.wait(timeout=60) == 0
    finally:
        if proc.poll() is None:
            proc.kill()


def test_dead_fleet_falls_back_to_spark_engine(spark, tmp_path):
    """Routing rule: workers execute jobs only while heartbeat-ALIVE.
    A worker that registered and then died (no heartbeats for 5
    intervals) must NOT strand the queue — the job runs on the Spark
    engine instead and still produces the golden output."""
    from eeecs485_p4_mapreduce_spark.mrlite import (
        MREngine,
        MRManagerServer,
        MRWorker,
    )

    server = MRManagerServer(
        MREngine(spark), port=0, hb_port=0, heartbeat_interval=0.2
    ).start()
    worker = MRWorker(
        port=0,
        manager_port=server.port,
        manager_hb_port=server.hb_port,
        heartbeat_interval=0.2,
    ).start()
    try:
        assert worker.registered.wait(timeout=10)
        worker.stop()  # silent death: no more heartbeats
        worker.join(timeout=5)
        time.sleep(6 * 0.2)  # > 5 missed intervals
        assert server.alive_workers() == []
        out = tmp_path / "out"
        _send(
            server.port,
            {
                **FIXTURE_WC,
                "output_directory": str(out),
                "num_mappers": 2,
                "num_reducers": 2,
            },
        )
        _wait_jobs(server, 1)
        rec = server.jobs[0]
        assert rec.error is None
        # No worker ever saw a task.
        assert server.task_events == []
        assert sorted(read_lines(rec.result)) == sorted(fixture_wordcount())
    finally:
        worker.stop()
        server.stop()
        server.join(timeout=10)


def test_nonceless_finished_fails_fast(monkeypatch):
    """A worker that drops the unknown ``wave`` field (e.g. reference
    manager-test mock workers send ``finished`` with no wave) must not
    hang ``_dispatch_wave`` forever: its nonce-less finished quarantines
    it, and with no other worker left the wave raises a RuntimeError
    naming the missing wave nonce."""
    from eeecs485_p4_mapreduce_spark.mrlite import manager as mgr

    srv = mgr.MRManagerServer(None, port=0, hb_port=None)
    wkey = ("localhost", 7001)
    srv.workers[wkey] = mgr.WorkerRecord(host=wkey[0], port=wkey[1])

    def fake_send(host, port, message):
        # Instant finished WITHOUT the wave field (the worker dropped
        # the unknown key from the task message).
        ev = {
            "message_type": "finished",
            "task_id": message["task_id"],
            "worker_host": host,
            "worker_port": port,
        }
        with srv.task_event:
            srv.task_events.append(ev)
            srv.task_event.notify_all()

    monkeypatch.setattr(mgr, "send_json", fake_send)
    with pytest.raises(RuntimeError, match="wave nonce"):
        srv._dispatch_wave([{"task_id": 0, "message_type": "new_map_task"}])


def test_single_spoofed_nonceless_event_does_not_kill_job(monkeypatch):
    """Sender identity in ``finished`` is body-reported, not
    socket-peer, so ONE spoofed nonce-less packet must not abort the
    job: the struck worker is quarantined for the wave, its task is
    requeued to the other (compliant) worker, and the wave completes.
    The struck worker's own later nonce-echo for the reassigned task
    is skipped by the sender check (task now belongs elsewhere)."""
    from eeecs485_p4_mapreduce_spark.mrlite import manager as mgr

    srv = mgr.MRManagerServer(None, port=0, hb_port=None)
    wa = ("localhost", 7003)
    wb = ("localhost", 7004)
    srv.workers[wa] = mgr.WorkerRecord(host=wa[0], port=wa[1])
    srv.workers[wb] = mgr.WorkerRecord(host=wb[0], port=wb[1])
    spoofed = {"sent": False}

    def fake_send(host, port, message):
        events = []
        if not spoofed["sent"]:
            # Attacker forges a nonce-less finished claiming the
            # assigned worker's identity before the worker replies.
            spoofed["sent"] = True
            events.append(
                {
                    "message_type": "finished",
                    "task_id": message["task_id"],
                    "worker_host": host,
                    "worker_port": port,
                }
            )
        else:
            # Compliant worker: echoes the wave nonce.
            events.append(
                {
                    "message_type": "finished",
                    "task_id": message["task_id"],
                    "worker_host": host,
                    "worker_port": port,
                    "wave": message["wave"],
                }
            )
        with srv.task_event:
            srv.task_events.extend(events)
            srv.task_event.notify_all()

    monkeypatch.setattr(mgr, "send_json", fake_send)
    done = srv._dispatch_wave(
        [{"task_id": 0, "message_type": "new_map_task"}]
    )
    assert [int(ev["task_id"]) for ev in done] == [0]
    assert done[0].get("wave") is not None


def test_stale_prior_wave_nonce_still_skipped(monkeypatch):
    """The fail-fast path must not weaken the original guarantee: an
    event WITH a wave field from a previous wave (stale echo) is still
    silently skipped, and the wave completes when the real echo
    arrives."""
    from eeecs485_p4_mapreduce_spark.mrlite import manager as mgr

    srv = mgr.MRManagerServer(None, port=0, hb_port=None)
    wkey = ("localhost", 7002)
    srv.workers[wkey] = mgr.WorkerRecord(host=wkey[0], port=wkey[1])

    def fake_send(host, port, message):
        stale = {
            "message_type": "finished",
            "task_id": message["task_id"],
            "worker_host": host,
            "worker_port": port,
            "wave": message["wave"] - 1 if message["wave"] else -1,
        }
        good = {**stale, "wave": message["wave"]}
        with srv.task_event:
            srv.task_events.extend([stale, good])
            srv.task_event.notify_all()

    monkeypatch.setattr(mgr, "send_json", fake_send)
    done = srv._dispatch_wave(
        [{"task_id": 0, "message_type": "new_map_task"}]
    )
    assert [int(ev["task_id"]) for ev in done] == [0]
    assert done[0]["wave"] is not None


def test_wave_returns_without_waiting_after_last_finished(monkeypatch):
    """The wave tail: once the last ``finished`` event is consumed the
    wave returns at once. A worker that answers before the dispatch
    loop looks again (here: synchronously inside send_json) leaves an
    unconsumed event pending, so ``task_event.wait`` is never called —
    no 0.2 s timeout is sat out per wave."""
    from eeecs485_p4_mapreduce_spark.mrlite import manager as mgr

    srv = mgr.MRManagerServer(None, port=0, hb_port=None)
    wkey = ("localhost", 7005)
    srv.workers[wkey] = mgr.WorkerRecord(host=wkey[0], port=wkey[1])

    def fake_send(host, port, message):
        ev = {
            "message_type": "finished",
            "task_id": message["task_id"],
            "worker_host": host,
            "worker_port": port,
            "wave": message["wave"],
        }
        with srv.task_event:
            srv.task_events.append(ev)
            srv.task_event.notify_all()

    waits = []
    real_wait = srv.task_event.wait

    def counting_wait(timeout=None):
        waits.append(timeout)
        return real_wait(timeout)

    monkeypatch.setattr(mgr, "send_json", fake_send)
    monkeypatch.setattr(srv.task_event, "wait", counting_wait)
    done = srv._dispatch_wave(
        [{"task_id": 0, "message_type": "new_map_task"}]
    )
    assert [int(ev["task_id"]) for ev in done] == [0]
    assert waits == []


def _wait_count(srv, n: int, timeout: float = 5.0) -> None:
    deadline = time.monotonic() + timeout
    while srv.malformed_count < n and time.monotonic() < deadline:
        time.sleep(0.02)


@pytest.mark.parametrize(
    "message",
    [
        {"message_type": "register"},
        {"message_type": "register", "worker_host": "localhost",
         "worker_port": "7010"},
        {"message_type": "register", "worker_host": "localhost",
         "worker_port": True},
        {"message_type": "finished", "worker_host": "localhost",
         "worker_port": 7010},
        {"message_type": "finished", "task_id": "0",
         "worker_host": "localhost", "worker_port": 7010},
        ["message_type", "finished"],
    ],
    ids=["register-empty", "register-str-port", "register-bool-port",
         "finished-no-task-id", "finished-str-task-id", "not-an-object"],
)
def test_malformed_worker_message_counted_and_logged(message, caplog):
    """A worker message without its fields, or with a field of the
    wrong JSON type, is dropped before it reaches ``workers`` or
    ``task_events``: ``malformed_count`` counts it and a WARNING record
    names its type. Handler errors are no longer swallowed silently."""
    from eeecs485_p4_mapreduce_spark.mrlite import MRManagerServer

    caplog.set_level(logging.WARNING)
    srv = MRManagerServer(None, port=0).start()
    try:
        _send(srv.port, message)
        _wait_count(srv, 1)
        assert srv.malformed_count == 1
        assert srv.workers == {} and srv.task_events == []
        name = message["message_type"] if isinstance(message, dict) else "list"
        assert any(
            r.levelno == logging.WARNING
            and r.getMessage() == f"dropped {name} message"
            for r in caplog.records
        ), caplog.records
    finally:
        srv.stop()
        srv.join(timeout=10)


def test_malformed_finished_does_not_fail_wave(monkeypatch):
    """A ``finished`` without ``task_id`` that arrives before the real
    one is dropped at the socket; the in-flight wave still completes
    on the valid event (before, the wave raised KeyError and failed
    the job)."""
    from eeecs485_p4_mapreduce_spark.mrlite import manager as mgr

    srv = mgr.MRManagerServer(None, port=0).start()
    wkey = ("localhost", 7006)
    srv.workers[wkey] = mgr.WorkerRecord(host=wkey[0], port=wkey[1])

    def fake_send(host, port, message):
        if message["message_type"] != "new_map_task":
            return  # the shutdown fan-out from srv.stop()
        # Both go through the server's own accept loop, in order.
        _send(srv.port, {"message_type": "finished",
                         "worker_host": host, "worker_port": port})
        _send(srv.port, {"message_type": "finished",
                         "task_id": message["task_id"],
                         "worker_host": host, "worker_port": port,
                         "wave": message["wave"]})

    monkeypatch.setattr(mgr, "send_json", fake_send)
    try:
        done = srv._dispatch_wave(
            [{"task_id": 0, "message_type": "new_map_task"}]
        )
        assert [ev["task_id"] for ev in done] == [0]
        assert srv.malformed_count == 1
        assert all("task_id" in ev for ev in srv.task_events)
    finally:
        srv.stop()
        srv.join(timeout=10)


class _CountAtEmit(logging.Handler):
    """Records each log record with the server's ``malformed_count``
    at the moment the record was emitted."""

    def __init__(self, srv):
        super().__init__(logging.DEBUG)
        self.srv = srv
        self.seen: list[tuple[int, str, int]] = []

    def emit(self, record: logging.LogRecord) -> None:
        self.seen.append(
            (record.levelno, record.getMessage(), self.srv.malformed_count)
        )


def test_malformed_heartbeat_keeps_liveness():
    """A heartbeat datagram without its fields is logged, then counted,
    so a reader that sees the count also finds the record; the
    heartbeat thread survives it and still refreshes a registered
    worker's liveness (before, the KeyError ended the thread, and every
    worker then fell out of liveness). Each heartbeat is logged at
    DEBUG, naming a sender that never registered."""
    from eeecs485_p4_mapreduce_spark.mrlite import manager as mgr

    srv = mgr.MRManagerServer(None, port=0, hb_port=0)
    handler = _CountAtEmit(srv)
    logger = logging.getLogger(mgr.__name__)
    level = logger.level
    logger.setLevel(logging.DEBUG)
    logger.addHandler(handler)
    srv.start()
    wkey = ("localhost", 7007)
    srv.workers[wkey] = rec = mgr.WorkerRecord(host=wkey[0], port=wkey[1])
    seen = rec.last_seen
    try:
        with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as sock:
            sock.connect(("localhost", srv.hb_port))
            for message in (
                {"message_type": "heartbeat"},
                {"message_type": "heartbeat", "worker_host": "localhost",
                 "worker_port": 7007},
                {"message_type": "heartbeat", "worker_host": "localhost",
                 "worker_port": 7008},
            ):
                sock.send(json.dumps(message).encode())
            deadline = time.monotonic() + 5
            while len(handler.seen) < 3 and time.monotonic() < deadline:
                time.sleep(0.02)
        assert handler.seen == [
            (logging.WARNING, "dropped heartbeat datagram: heartbeat"
             " without str worker_host", 0),
            (logging.DEBUG, "heartbeat from worker localhost:7007", 1),
            (logging.DEBUG,
             "heartbeat from unregistered worker localhost:7008", 1),
        ]
        assert srv.malformed_count == 1
        assert rec.last_seen > seen
    finally:
        logger.removeHandler(handler)
        logger.setLevel(level)
        srv.stop()
        srv.join(timeout=10)


def test_idle_client_does_not_stall_the_manager(monkeypatch, caplog, tmp_path):
    """A client that connects and sends nothing is dropped after
    ``worker.SOCKET_TIMEOUT`` with a WARNING naming it, so a job sent
    behind it is still received, and ``stop()`` ends a loop that is
    reading an idle connection within that deadline. Before, the loop
    read each connection until EOF with no deadline."""
    from eeecs485_p4_mapreduce_spark.mrlite import MRManagerServer, worker

    deadline = 0.3
    monkeypatch.setattr(worker, "SOCKET_TIMEOUT", deadline, raising=False)
    caplog.set_level(logging.WARNING)
    srv = MRManagerServer(None, port=0).start()
    idle = socket.create_connection(("localhost", srv.port))
    try:
        _send(srv.port, {**FIXTURE_WC, "output_directory": str(tmp_path)})
        until = time.monotonic() + deadline + 2
        while not srv.jobs and time.monotonic() < until:
            time.sleep(0.02)
        assert len(srv.jobs) == 1
        peer = "%s:%d" % idle.getsockname()
        assert any(
            r.levelno == logging.WARNING
            and r.getMessage() == f"closed idle connection from {peer}"
            for r in caplog.records
        ), caplog.records
        with socket.create_connection(("localhost", srv.port)):
            time.sleep(0.1)  # the loop is now reading this connection
            srv.stop()
            srv.join(deadline + 1)
            assert not srv.is_alive()
    finally:
        idle.close()
        srv.stop()
        srv.join(timeout=10)
