"""TCP job-submission endpoint: the reference's ``mapreduce-manager``
network surface (the C1 hop that SURVEY §2.6 initially left out).

Protocol — pinned by the reference's own client
(reference: mapreduce/submit.py:70-89): a client opens a TCP connection,
sends ONE JSON message, and closes without waiting for a response
(fire-and-forget). Message types handled:

- ``new_manager_job`` with fields ``input_directory``,
  ``output_directory``, ``mapper_executable``, ``reducer_executable``,
  ``num_mappers``, ``num_reducers`` — exactly the dict the reference
  client builds (submit.py:70-78). Each size defaults to 2 and must be
  a JSON int of at least one (``job_sizes``); any other value fails the
  job with an error naming the field.
- ``shutdown`` — stop accepting work, finish the in-flight job, drop the
  queue, fan the shutdown out to every registered worker, exit
  (reference: tests/test_manager_00 sends shutdown as the clean exit
  path; its ``test_shutdown_workers`` pins the fan-out).
- ``register`` — record the worker and reply ``register_ack`` on the
  worker's own TCP socket (reference: tests/test_manager_02.py:13-17,
  :126-133 — C3).
- ``finished`` — a worker reporting task completion; recorded in
  ``self.task_events`` (the dispatch side consumes these).

Heartbeats (C4): when constructed with ``hb_port`` not ``None``, a UDP
socket bound to ``(host, hb_port)`` receives the workers' 2-second
``heartbeat`` datagrams (reference: tests/test_manager_00.py asserts the
SOCK_DGRAM bind; cadence tests/utils/__init__.py:21-22). A worker that
misses 5 consecutive intervals is considered dead — the spec's
liveness rule — computed on read by ``alive_workers()`` so there is no
reaper thread to race the tests.

Jobs run FIFO on a single runner thread — the reference manager also
serializes jobs (FIFO ids from 0; tests/test_manager_05/06 queue a second
job behind the first). The data plane is Spark via ``MREngine`` when no
workers are registered; when live registered workers exist the job is
instead DISPATCHED to them exactly as the reference manager would (C5):
input files dealt round-robin into ``new_map_task`` messages to idle
workers, map ``finished`` events collected, intermediate partition files
grouped into ``new_reduce_task`` messages, final ``part-%05d`` files in
the job's output directory. A worker that stops heartbeating (C4's
miss-5 rule) or refuses a connection has its in-flight task requeued to
the survivors (C7 fault tolerance — untested in the reference fork, so
the semantics here are the published spec's). Reassignment is
presumptive — a worker that merely missed 5 heartbeats may still be
running — so safety comes from the worker's write discipline, not from
an exactly-once assumption: each attempt writes to a private temp name
and os.replace()s into place only on success (mrlite/worker.py), so two
live attempts at the same task never interleave bytes and the last
completed attempt wins atomically. Scripts that today call
``mapreduce-submit`` against the reference can point at this endpoint
unchanged, with or without a worker fleet.

Malformed messages are ignored, matching the reference manager's
behavior of discarding undecodable JSON rather than crashing — but the
drop is OBSERVABLE: ``malformed_count`` increments per discarded
message so an operator can tell "client never sent" apart from "server
discarded garbage" without packet captures. A worker message
(``register``, ``heartbeat``, ``finished``) must also carry its fields
in ``worker.MESSAGE_FIELDS`` with their JSON types; one that does not
is discarded the same way, with a WARNING record, before it reaches
``workers`` or ``task_events``.

The module logger records each job's start and end with its data plane
(fleet or spark) at INFO, task dispatch and finish and every heartbeat
(registered or not) at DEBUG, and every requeue (with its reason) and
worker eviction at WARNING. No handler is configured here.
"""

from __future__ import annotations

import itertools
import json
import logging
import queue
import shutil
import socket
import threading
import time
from collections import deque
from contextlib import suppress
from dataclasses import dataclass, field
from pathlib import Path

from eeecs485_p4_mapreduce_spark.mrlite.engine import MREngine, MRJobResult
from eeecs485_p4_mapreduce_spark.mrlite.partitioner import (
    check_task_count,
    split_input,
)
from eeecs485_p4_mapreduce_spark.mrlite.worker import (
    TIME_BETWEEN_HEARTBEATS,
    check_fields,
    send_json,
    serve_json_loop,
)

log = logging.getLogger(__name__)

#: Failure text for a fleet whose workers drop the task message's
#: ``wave`` field: such a worker can never complete the nonce check.
_NONCELESS = (
    " without echoing the wave nonce; a worker that drops the task"
    " message's wave field can never complete a task here"
)


def job_sizes(message: dict) -> tuple[int, int]:
    """A ``new_manager_job``'s ``(num_mappers, num_reducers)``, each 2
    when absent. Raise ValueError, naming the field, unless each is a
    JSON int of at least one: ``1.9``, ``true`` or ``"2"`` is refused,
    not rounded into some other job size."""
    sizes = []
    for name in ("num_mappers", "num_reducers"):
        value = message.get(name, 2)
        # type(), not isinstance(): JSON true must not pass as an int
        if type(value) is not int:
            raise ValueError(f"{name} must be an int, got {value!r}")
        check_task_count(name, value)
        sizes.append(value)
    return sizes[0], sizes[1]


@dataclass
class WorkerRecord:
    """One registered worker's liveness state (C3/C4 bookkeeping)."""

    host: str
    port: int
    #: monotonic seconds of the last heartbeat (or the register, which
    #: counts as proof-of-life until the first heartbeat lands)
    last_seen: float = field(default_factory=time.monotonic)
    #: bumped on re-register: a worker that crashed and came back on the
    #: same (host, port) is a NEW process that never saw the old task —
    #: the dispatcher requeues in-flight work when the epoch moves even
    #: though the key never left the liveness table
    epoch: int = 0


@dataclass
class JobRecord:
    """One submitted job's lifecycle, observable by tests/tools."""

    message: dict
    #: FIFO id from 0, the record's index in ``MRManagerServer.jobs``
    job_id: int
    result: MRJobResult | None = None
    error: str | None = None
    done: threading.Event = field(default_factory=threading.Event)


class MRManagerServer:
    """Threaded TCP server speaking the reference's submit protocol.

    ``port=0`` binds an ephemeral port (read ``self.port`` after
    ``start()``). ``start()`` returns immediately; ``join()`` blocks until
    a shutdown message (or ``stop()``) has been processed.
    """

    def __init__(
        self,
        engine: MREngine | None,
        host: str = "localhost",
        port: int = 6000,
        hb_port: int | None = None,
        heartbeat_interval: float = TIME_BETWEEN_HEARTBEATS,
    ):
        self.engine = engine
        self.host = host
        self.port = port
        #: UDP heartbeat port; None disables the C3/C4 worker surface,
        #: 0 binds ephemeral (read back after start())
        self.hb_port = hb_port
        self.heartbeat_interval = heartbeat_interval
        self.jobs: list[JobRecord] = []
        #: registered workers keyed by (host, port) — C3
        self.workers: dict[tuple[str, int], WorkerRecord] = {}
        #: finished messages received from workers, in arrival order
        self.task_events: list[dict] = []
        self.task_event = threading.Condition()
        #: messages discarded as undecodable JSON (observability counter;
        #: the discard itself is reference-matching behavior)
        self.malformed_count = 0
        self._queue: queue.Queue[JobRecord | None] = queue.Queue()
        #: per-wave nonce source — task ids restart at 0 every wave, so
        #: finished-event correlation needs a wave-scoped discriminator
        self._wave_seq = itertools.count()
        self._sock: socket.socket | None = None
        self._hb_sock: socket.socket | None = None
        self._threads: list[threading.Thread] = []
        self._shutdown = threading.Event()

    def start(self) -> "MRManagerServer":
        sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        sock.bind((self.host, self.port))
        self.port = sock.getsockname()[1]
        sock.listen()
        self._sock = sock
        targets = [self._accept_loop, self._runner_loop]
        if self.hb_port is not None:
            hb = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            hb.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
            hb.bind((self.host, self.hb_port))
            self.hb_port = hb.getsockname()[1]
            self._hb_sock = hb
            targets.append(self._heartbeat_loop)
        for target in targets:
            t = threading.Thread(target=target, daemon=True)
            t.start()
            self._threads.append(t)
        return self

    # -- network side ------------------------------------------------------

    def _accept_loop(self) -> None:
        assert self._sock is not None

        def bump():
            # reference behavior: discard undecodable messages (but
            # count the drop so operators can see it happening)
            self.malformed_count += 1

        serve_json_loop(self._sock, self._shutdown, self._dispatch, bump)

    def _dispatch(self, message: dict) -> None:
        check_fields(message)  # raises: serve_json_loop counts it
        mtype = message.get("message_type")
        if mtype == "new_manager_job":
            rec = JobRecord(message=message, job_id=len(self.jobs))
            self.jobs.append(rec)
            if self._shutdown.is_set():
                # The runner loop has exited (or is exiting); queueing now
                # would leave rec.done forever unset for a waiting client.
                rec.error = "dropped: shutdown"
                rec.done.set()
            else:
                self._queue.put(rec)
        elif mtype == "register":
            # C3: record the worker, ack on the worker's own TCP socket
            # (reference: tests/test_manager_02.py:126-133).
            whost = message["worker_host"]
            wport = message["worker_port"]
            prev = self.workers.get((whost, wport))
            self.workers[(whost, wport)] = WorkerRecord(
                whost, wport, epoch=(prev.epoch + 1) if prev else 0
            )
            try:
                send_json(
                    whost,
                    wport,
                    {
                        "message_type": "register_ack",
                        "worker_host": whost,
                        "worker_port": wport,
                    },
                )
            except OSError:
                # Worker vanished between register and ack; forget it.
                self._evict((whost, wport), "register_ack refused")
        elif mtype == "finished":
            with self.task_event:
                self.task_events.append(message)
                self.task_event.notify_all()
        elif mtype == "shutdown":
            self.stop()

    def _shutdown_workers(self) -> None:
        """C6 fan-out: forward shutdown to every registered worker
        (reference: tests/test_manager_00.py test_shutdown_workers)."""
        for rec in list(self.workers.values()):
            try:
                send_json(rec.host, rec.port, {"message_type": "shutdown"})
            except OSError:
                pass  # already gone — the goal state anyway

    def _heartbeat_loop(self) -> None:
        """C4: receive worker heartbeat datagrams, refresh liveness."""
        assert self._hb_sock is not None
        while True:
            try:
                data, _addr = self._hb_sock.recvfrom(65536)
            except OSError:
                break
            if self._shutdown.is_set():
                break  # stop() woke the receive: not a datagram
            try:
                message = json.loads(data.decode("utf-8"))
                check_fields(message)
            except ValueError as exc:  # UnicodeDecodeError included
                log.warning("dropped heartbeat datagram: %s", exc)
                self.malformed_count += 1
                continue
            if message.get("message_type") != "heartbeat":
                continue
            key = (message["worker_host"], message["worker_port"])
            rec = self.workers.get(key)
            if rec is None:  # heartbeats from unregistered hosts: drop
                log.debug("heartbeat from unregistered worker %s:%d", *key)
                continue
            rec.last_seen = time.monotonic()
            log.debug("heartbeat from worker %s:%d", *key)
        self._hb_sock.close()

    def alive_workers(self) -> list[WorkerRecord]:
        """Workers seen within 5 heartbeat intervals — the spec's
        liveness rule, computed on read (no reaper thread)."""
        cutoff = time.monotonic() - 5 * self.heartbeat_interval
        # snapshot: the accept thread inserts on register concurrently
        return [w for w in list(self.workers.values()) if w.last_seen >= cutoff]

    def _evict(self, wkey: tuple[str, int], reason: str) -> None:
        """Drop a worker from the fleet until it registers again."""
        self.workers.pop(wkey, None)
        log.warning("evict worker %s:%d: %s", wkey[0], wkey[1], reason)

    # -- worker dispatch (C5/C7) --------------------------------------------

    #: give up on a task after this many distinct dispatch attempts —
    #: a deterministically-failing executable must fail the JOB, not
    #: ping-pong across the fleet forever
    MAX_TASK_ATTEMPTS = 3

    def _dispatch_wave(self, tasks: list[dict]) -> list[dict]:
        """Run one stage's tasks across the live worker fleet: send each
        task to an idle worker, collect its ``finished`` event, requeue
        tasks whose worker died, re-registered (epoch bump), or reported
        a task error (C7). Returns finished messages in task_id order
        as soon as the last one is consumed. Raises if the fleet
        empties, a task exhausts its attempts, or shutdown arrives — a
        queued job must never hang its submitter.

        Correlation is (wave nonce AND task_id AND assigned worker): a
        straggler ``finished`` from a presumed-dead worker whose task
        was already reassigned must not complete the wrong wave/stage
        (task ids restart at 0 every wave, and a worker that fell out
        of liveness can re-register and be handed the SAME tid in the
        next wave — sender+tid alone would accept its stale map-stage
        finished as the reduce result). Dispatched tasks carry a
        ``wave`` nonce the worker echoes; an event whose echoed nonce
        mismatches is skipped. An event WITHOUT the field proves its
        worker drops unknown task fields, so its tasks can never pass
        the nonce check. But sender identity is body-reported, not
        socket-peer, and one spoofed packet must not kill the job: the
        first nonce-less finished from an assigned worker quarantines
        THAT worker for the wave and requeues its task (re-execution is
        the normal, atomic-write-safe reassignment path). A second
        struck worker, or a wave with no un-struck live workers left,
        fails the job fast — never a silent indefinite hang.

        The loop waits on ``task_event`` only while a task is still
        outstanding and every received event has been consumed; the
        timeout bounds how stale the liveness check can get."""
        wave_nonce = next(self._wave_seq)
        pending = deque(tasks)
        #: task_id -> (assigned worker, its epoch at dispatch, task)
        inflight: dict[int, tuple[tuple[str, int], int, dict]] = {}
        done: dict[int, dict] = {}
        attempts: dict[int, int] = {}
        struck: set[tuple[str, int]] = set()  # nonce-less quarantine

        def requeue(tid: int, reason: str) -> None:
            wkey, _epoch, task = inflight.pop(tid)
            pending.append(task)
            log.warning(
                "wave %d: requeue task %d from %s:%d: %s",
                wave_nonce, tid, wkey[0], wkey[1], reason,
            )

        with self.task_event:
            # Events from completed waves are never re-read (each wave
            # cursors forward from its start); prune so a long-lived
            # daemon does not leak one dict per task forever. The
            # threshold keeps recent history inspectable by tests/tools.
            if len(self.task_events) > 10_000:
                del self.task_events[:-1_000]
            cursor = len(self.task_events)
            while True:
                # Consume finished events that arrived since last look.
                while cursor < len(self.task_events):
                    ev = self.task_events[cursor]
                    cursor += 1
                    tid = ev["task_id"]
                    if tid not in inflight:
                        continue
                    wkey = inflight[tid][0]
                    if (ev["worker_host"], ev["worker_port"]) != wkey:
                        continue  # straggler from a reassigned worker
                    if "wave" not in ev:
                        struck.add(wkey)
                        if len(struck) >= 2:
                            raise RuntimeError(
                                "two workers reported finished" + _NONCELESS
                            )
                        requeue(tid, "finished without the wave nonce")
                    elif ev["wave"] != wave_nonce:
                        continue  # stale echo from a previous wave
                    elif ev.get("error"):
                        if attempts[tid] >= self.MAX_TASK_ATTEMPTS:
                            raise RuntimeError(
                                f"task {tid} failed "
                                f"{attempts[tid]} times: {ev['error']}"
                            )
                        requeue(tid, f"task error: {ev['error']}")
                    else:
                        del inflight[tid]
                        done[tid] = ev
                        log.debug(
                            "wave %d: task %d finished on %s:%d",
                            wave_nonce, tid, wkey[0], wkey[1],
                        )
                if len(done) == len(tasks):
                    return [done[int(t["task_id"])] for t in tasks]
                if self._shutdown.is_set():
                    raise RuntimeError("shutdown during job dispatch")
                # C7: requeue tasks whose worker fell out of liveness or
                # re-registered (a fresh process never saw the task).
                alive = {
                    (w.host, w.port): w.epoch for w in self.alive_workers()
                }
                for tid, (wkey, epoch, _task) in list(inflight.items()):
                    if wkey not in alive:
                        requeue(tid, "worker dead")
                        self._evict(wkey, "missed 5 heartbeats")
                    elif alive[wkey] != epoch:
                        requeue(tid, "worker re-registered")
                # C5: deal pending tasks to idle live workers
                # (nonce-less offenders stay quarantined this wave).
                busy = {wkey for wkey, _epoch, _task in inflight.values()}
                idle = [
                    k
                    for k in sorted(set(alive) - busy - struck)
                    if k in self.workers
                ]
                while pending and idle:
                    wkey = idle.pop()
                    task = pending.popleft()
                    try:
                        send_json(
                            wkey[0],
                            wkey[1],
                            {
                                **task,
                                "wave": wave_nonce,
                                "worker_host": wkey[0],
                                "worker_port": wkey[1],
                            },
                        )
                    except OSError:
                        # Refused/timed out = dead now, don't wait 5 beats.
                        self._evict(wkey, "task connection refused")
                        pending.appendleft(task)
                        continue
                    tid = int(task["task_id"])
                    attempts[tid] = attempts.get(tid, 0) + 1
                    inflight[tid] = (wkey, alive[wkey], task)
                    log.debug(
                        "wave %d: task %d -> %s:%d (attempt %d)",
                        wave_nonce, tid, wkey[0], wkey[1], attempts[tid],
                    )
                if pending and not inflight:
                    live = {(w.host, w.port) for w in self.alive_workers()}
                    if not live:
                        raise RuntimeError("no live workers left for dispatch")
                    if not live - struck:
                        raise RuntimeError(
                            "every live worker reported finished" + _NONCELESS
                        )
                if cursor == len(self.task_events):
                    self.task_event.wait(timeout=0.2)

    def _run_job_on_workers(
        self, message: dict, job_id: int, num_mappers: int, num_reducers: int
    ) -> MRJobResult:
        """Execute one new_manager_job by dispatching to registered
        workers — the reference manager's own execution model: S2
        round-robin file splits, map wave, partition-grouped reduce
        wave, ``part-%05d`` output (same stage contract MREngine.
        submit_job implements on Spark)."""
        groups = split_input(message["input_directory"], num_mappers)
        out_dir = Path(message["output_directory"])
        out_dir.mkdir(parents=True, exist_ok=True)
        # Shared scratch in the reference's pinned layout:
        # <cwd>/tmp/job-{id}/intermediate (reference:
        # tests/test_manager_01.py:26-29 waits for these exact dirs;
        # tests/test_manager_02.py:145 asserts the map message's
        # output_directory is "tmp/job-0/intermediate"; tests/utils
        # is_map_message requires "intermediate" in the path). The
        # directory tree lives under the MANAGER's cwd, but the path
        # dispatched to workers is made ABSOLUTE first: a worker daemon
        # started from a different working directory must not resolve
        # "tmp/job-0/..." against its own cwd (the reference sidesteps
        # this only because its deployment starts every process from
        # the project root). Still assumes a filesystem all workers
        # see — true for localhost fleets and NFS-style tmp. If
        # another fleet in the same cwd already owns tmp/job-{id}
        # (ids restart at 0 per manager), fall back to a
        # port-suffixed sibling that still contains "intermediate".
        job_root = Path.cwd() / "tmp" / f"job-{job_id}"
        fallback = False
        try:
            job_root.mkdir(parents=True, exist_ok=False)
        except FileExistsError:
            # Nest the fallback INSIDE tmp/job-{id} so the reference's
            # pinned prefix survives the collision (tooling asserting
            # tmp/job-{id}/... still matches; is_map_message's
            # "intermediate" substring contract holds either way).
            fallback = True
            job_root = job_root / f"m{self.port}"
            job_root.mkdir(parents=True, exist_ok=True)
        inter = job_root / "intermediate"
        inter.mkdir(exist_ok=True)
        try:
            map_finished = self._dispatch_wave(
                [
                    {
                        "message_type": "new_map_task",
                        "task_id": i,
                        "executable": str(message["mapper_executable"]),
                        "input_paths": group,
                        "output_directory": str(inter),
                        "num_partitions": num_reducers,
                    }
                    for i, group in enumerate(groups)
                ]
            )
            by_partition: dict[str, list[str]] = {}
            for ev in map_finished:
                for path in ev["output_paths"]:
                    by_partition.setdefault(path[-5:], []).append(path)
            reduce_finished = self._dispatch_wave(
                [
                    {
                        "message_type": "new_reduce_task",
                        "task_id": r,
                        "executable": str(message["reducer_executable"]),
                        "input_paths": sorted(
                            by_partition.get(f"{r:05d}", [])
                        ),
                        "output_directory": str(out_dir),
                    }
                    for r in range(num_reducers)
                ]
            )
            output_paths = sorted(
                p for ev in reduce_finished for p in ev["output_paths"]
            )
            return MRJobResult(job_id, str(out_dir), output_paths)
        finally:
            self._cleanup_job_root(job_root, inter, fallback)

    @staticmethod
    def _cleanup_job_root(
        job_root: Path, inter: Path, fallback: bool
    ) -> None:
        """A colliding fleet may have nested its m{port} fallback
        INSIDE this fleet's tmp/job-{id} (see _run_job_on_workers), so
        the owner must never rmtree the whole root — that would vanish
        the other fleet's in-flight map outputs. Each fleet deletes
        only the subtree it created, then reaps the shared root iff it
        is the last one out (rmdir only succeeds on an empty dir)."""
        if fallback:
            shutil.rmtree(job_root, ignore_errors=True)
            try:
                job_root.parent.rmdir()
            except OSError:
                pass
        else:
            shutil.rmtree(inter, ignore_errors=True)
            try:
                job_root.rmdir()
            except OSError:
                pass

    # -- job side ----------------------------------------------------------

    def _runner_loop(self) -> None:
        while True:
            rec = self._queue.get()
            if rec is None or self._shutdown.is_set():
                # Drain everything still queued (including the record we
                # may have just dequeued): a client blocked on rec.done
                # must never hang because shutdown raced its submit.
                leftovers = [] if rec is None else [rec]
                while not self._queue.empty():
                    extra = self._queue.get_nowait()
                    if extra is not None:
                        leftovers.append(extra)
                for dropped in leftovers:
                    if not dropped.done.is_set():
                        dropped.error = "dropped: shutdown"
                        dropped.done.set()
                break
            job_id = rec.job_id
            # C5: a live registered fleet executes the job the reference
            # way; Spark is the no-fleet data plane.
            plane = "fleet" if self.alive_workers() else "spark"
            log.info("job %d start on %s: %s", job_id, plane, rec.message)
            try:
                num_mappers, num_reducers = job_sizes(rec.message)
                if plane == "fleet":
                    rec.result = self._run_job_on_workers(
                        rec.message, job_id, num_mappers, num_reducers
                    )
                elif self.engine is None:
                    raise RuntimeError(
                        "no live workers registered and no Spark engine"
                    )
                else:
                    rec.result = self.engine.submit_job(
                        input_directory=rec.message["input_directory"],
                        output_directory=rec.message["output_directory"],
                        mapper_executable=rec.message["mapper_executable"],
                        reducer_executable=rec.message["reducer_executable"],
                        num_mappers=num_mappers,
                        num_reducers=num_reducers,
                    )
            except Exception as exc:  # noqa: BLE001 — survive bad jobs
                rec.error = f"{type(exc).__name__}: {exc}"
                log.warning("job %d failed", job_id, exc_info=True)
            finally:
                log.info(
                    "job %d end on %s: %s", job_id, plane, rec.error or "ok"
                )
                rec.done.set()

    # -- lifecycle ---------------------------------------------------------

    def stop(self) -> None:
        """Local equivalent of receiving a shutdown message: set the
        flag, wake the runner, fan out to the workers, and shut the
        sockets down so the blocked ``accept()`` and ``recvfrom()``
        return at once (``SHUT_RD`` on the unconnected UDP socket wakes
        its receiver but raises ENOTCONN here)."""
        self._shutdown.set()
        self._queue.put(None)
        self._shutdown_workers()
        for sock, how in (
            (self._sock, socket.SHUT_RDWR),
            (self._hb_sock, socket.SHUT_RD),
        ):
            if sock is not None:
                with suppress(OSError):
                    sock.shutdown(how)

    def join(self, timeout: float | None = None) -> None:
        for t in self._threads:
            t.join(timeout)

    def is_alive(self) -> bool:
        return any(t.is_alive() for t in self._threads)
