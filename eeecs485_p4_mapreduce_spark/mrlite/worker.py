"""Worker-side wire parity: the reference's ``mapreduce-worker`` network
surface — C3 (register/ack) and C4 (UDP heartbeats), which SURVEY §2.6
previously delegated to Spark's executor heartbeating, plus the two task
messages the reference's worker unit tests pin. With this module the
ONLY remaining reference surface is nothing: every message type any
reference test sends or expects has a native speaker here.

Protocol — pinned by the reference's own tests (its framework code is
starter stubs, so the tests ARE the spec):

- **register** (reference: tests/test_worker_02.py:70-77): on startup
  the worker opens its own TCP listen socket, then TCP-connects to the
  manager and sends ``{"message_type": "register", "worker_host",
  "worker_port"}``. It does no work until the manager replies
  ``register_ack`` on the worker's own socket
  (tests/test_worker_01.py:12-24).
- **heartbeat** (reference: tests/test_worker_02.py:77-92; 2 s cadence
  per tests/utils/__init__.py:21-22): only AFTER the ack, a UDP socket
  ``connect()``-ed to ``(manager_host, manager_hb_port)`` carries
  ``{"message_type": "heartbeat", "worker_host", "worker_port"}`` every
  ``TIME_BETWEEN_HEARTBEATS`` seconds. The reference test asserts the
  exact socket family (SOCK_DGRAM) and the connect-then-send shape, and
  that 2 ≤ heartbeats < 4 arrive in 1.5 intervals — i.e. one heartbeat
  is sent IMMEDIATELY on ack, then one per interval.
- **new_map_task** (reference: tests/test_worker_03.py:24-34, field
  set; tests/test_worker_08.py:159-175, one output file per partition
  whether or not rows landed in it): run the executable once per input
  path with that file as stdin, route each stdout line to partition
  ``md5(key) % num_partitions`` (key = bytes before the first tab —
  mrlite/partitioner.py, pinned by test_worker_08's observed layout),
  write ``maptask{task_id:05d}-part{p:05d}`` under ``output_directory``
  as counted, sorted runs (below), and reply ``{"message_type":
  "finished", "task_id", "output_paths", "worker_host",
  "worker_port"}`` (tests/test_worker_03.py:85-101). Map output order
  is unspecified (M3): the reference's own reduce fixtures,
  tests/testdata/test_worker_07/maptask00000-part00000, are unsorted,
  so the reduce task sorts whatever it is given; sorted runs only
  make that sort cheap.
- **new_reduce_task** (reference: tests/test_worker_07.py:27-38 field
  set, :117-125 grouped output): merge-sort the input partition files
  lexicographically by whole ``(key, value)`` line (R1 — required:
  ``wc_reduce.sh`` is ``uniq -c``, which only groups sorted input, and
  the reference's fixture inputs are unsorted) into the reduce
  executable's stdin, streaming its stdout to ``part-{task_id:05d}``.
  The reducer is started first, so its start-up overlaps the read,
  sort and spill of its input. The sort is external: each input file
  is sorted alone in memory; all but the last are spilled to run files
  in blocks of about ``CHUNK_BYTES``, and the last stays in memory, so
  a reduce over one input touches no temp file. The k runs are merged
  a block at a time (``_merge_runs``), one write per block into the
  reducer's stdin.
  Peak memory is O(largest single input file + k blocks), never
  O(partition), which is what lets one reduce task take a whole skewed
  partition at 100 TB shard sizes without this shim becoming the weak
  link. A reducer that exits non-zero, or exits 0 while its input is
  still unread, fails the task and leaves no output file; so does an
  input file that cannot be read, and the reducer is then killed.
- **shutdown**: stop the loops, close the sockets, exit 0
  (tests/test_worker_01.py catches SystemExit(0); here ``join()``
  returns and ``exit_code`` reads 0).

The task bodies, ``run_mapper`` and ``run_reducer``, are module
functions that ``MREngine`` runs inside Spark tasks too: one task
kernel under two schedulers.

A task message's fields are checked against ``MESSAGE_FIELDS`` before
any file is opened or process started. A bad field fails the task with
a ``finished`` error that names it; a message without an int
``task_id`` names no task to fail, so it is dropped, logged and counted
in ``malformed_count``.

Records are bytes end to end. A line ends at a newline byte and
nowhere else: carriage returns, form feeds and the other separators
``str.splitlines`` knows are record bytes, as in the job contract. A
final line without its newline gets one, so it cannot run into the
next file's first line. The map loop reads the mapper's stdout
``CHUNK_BYTES`` at a time, carries the partial last line into the next
chunk, and counts the chunk's lines in a ``Counter``. When it holds
``MEMO_KEYS`` distinct lines, and at task end, they are written as one
sorted run per partition: the distinct lines in the reduce's byte
order, each repeated by its count and md5-routed once, in writes of
about ``CHUNK_BYTES``. Each distinct line is thus sorted and routed
once, and the reduce sort of a partition's runs is a merge that
timsort finds. Counting pays only when lines repeat: once the lines
counted hold fewer than two copies per distinct line, the rest of that
input file's output is routed chunk by chunk in mapper order, one
write per partition, and with one partition each chunk is written in
one join.
A per-task memo maps keys to partitions and is cleared when it
reaches ``MEMO_KEYS`` entries, so map memory is O(chunk + counter +
memo), not O(input) (tests/test_worker_11.py profiles the map stage).
The reduce side reads, sorts, spills and merges bytes, in the memory
bound above: each merge step takes from every run the lines up to the
smallest last line among the runs' buffered blocks and sorts them in
C, so the per-line work of the merge runs in ``list.sort`` and
``bytes.join``, not in Python.
Sorting UTF-8 bytes orders lines as sorting their code points would,
so on UTF-8 output every intermediate and ``part-%05d`` file is what a
str pipeline writes. Output that is not UTF-8 passes through
unchanged: its key bytes are md5-routed as they are and its lines sort
bytewise.

Replies to the manager are fire-and-forget TCP connects (connect →
sendall → close), the same shape ``MRManagerServer`` already accepts
and the reference's ``submit.py`` client uses.

Scale note: this is the reference-contract layer, not the analytics
engine — the Spark layer keeps using executors + cluster-manager
heartbeats for real work. The worker exists so tooling written against
the reference's wire protocol (its own test harness included) can drive
this repo unchanged, and so mrlite can run a genuine multi-process
mini-cluster in tests (manager dispatch → worker exec → finished).
"""

from __future__ import annotations

import json
import logging
import os
import socket
import subprocess
import tempfile
import threading
from bisect import bisect_right
from collections import Counter
from collections.abc import Iterable, Iterator
from contextlib import ExitStack, contextmanager, suppress
from functools import partial
from itertools import chain, repeat
from operator import add, itemgetter
from pathlib import Path
from typing import BinaryIO

from eeecs485_p4_mapreduce_spark.mrlite.partitioner import md5_partition

log = logging.getLogger(__name__)

#: Seconds between heartbeats — in the reference spec
#: (reference: tests/utils/__init__.py:21-22).
TIME_BETWEEN_HEARTBEATS = 2.0

#: Bytes the map loop reads from a mapper's stdout per step.
CHUNK_BYTES = 1 << 14

#: Keys a map task's key -> partition memo holds before it is cleared.
MEMO_KEYS = 4096

#: Seconds a control connection may stay silent: ``send_json``'s
#: connect and send, and each ``recv`` of ``serve_json_loop``.
SOCKET_TIMEOUT = 5.0

#: Fields each message type must carry, with their JSON types; a
#: ``list`` field is a list of strings. The manager checks the messages
#: workers send it, a worker the task messages it runs.
MESSAGE_FIELDS: dict[str, dict[str, type]] = {
    "register": {"worker_host": str, "worker_port": int},
    "heartbeat": {"worker_host": str, "worker_port": int},
    "finished": {"task_id": int, "worker_host": str, "worker_port": int},
    "new_map_task": {
        "task_id": int,
        "executable": str,
        "input_paths": list,
        "output_directory": str,
        "num_partitions": int,
    },
    "new_reduce_task": {
        "task_id": int,
        "executable": str,
        "input_paths": list,
        "output_directory": str,
    },
}


def check_fields(message) -> None:
    """Raise ValueError, naming the field, unless ``message`` is a JSON
    object carrying the ``MESSAGE_FIELDS`` of its message type (other
    types: no check) and a map task has at least one partition."""
    if not isinstance(message, dict):
        raise ValueError(f"not a JSON object: {type(message).__name__}")
    mtype = message.get("message_type")
    for name, kind in MESSAGE_FIELDS.get(mtype, {}).items():
        value = message.get(name)
        # type(), not isinstance(): JSON true must not pass as an int
        if type(value) is not kind or (
            kind is list and any(type(v) is not str for v in value)
        ):
            what = "list of str" if kind is list else kind.__name__
            raise ValueError(f"{mtype} without {what} {name}")
    if mtype == "new_map_task" and message["num_partitions"] < 1:
        raise ValueError(
            f"new_map_task num_partitions {message['num_partitions']} < 1"
        )


def send_json(
    host: str, port: int, message: dict, timeout: float = SOCKET_TIMEOUT
) -> None:
    """Fire-and-forget one JSON message over a fresh TCP connection —
    the wire shape of every control message in the reference protocol
    (reference: mapreduce/submit.py:80-89). The timeout keeps a
    black-holed peer (SYNs silently dropped) from stalling the caller
    for the kernel's multi-minute connect default — callers treat
    socket.timeout like any other OSError (peer presumed dead)."""
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as sock:
        sock.settimeout(timeout)
        sock.connect((host, port))
        sock.sendall(json.dumps(message).encode("utf-8"))


def serve_json_loop(sock, shutdown, on_message, on_malformed) -> None:
    """The shared accept → recv-until-EOF → JSON-decode → dispatch loop
    both mrlite daemons run (manager accept loop, worker listen loop).
    A dispatch exception is contained per-message: a bad task/message
    must never kill the daemon's network thread (the heartbeat thread
    would keep advertising a worker that can no longer hear anything).
    It is logged at WARNING with the message type, then counted as a
    malformed message, so a reader that sees the count also finds the
    record. It blocks in ``accept()`` until a connection arrives; the
    daemon's ``stop()`` ends the loop by setting ``shutdown`` and
    shutting ``sock`` down, which makes ``accept()`` raise. A client
    that sends nothing for ``SOCKET_TIMEOUT`` seconds is dropped with
    a WARNING, so one idle connection cannot hold the loop."""
    while not shutdown.is_set():
        try:
            conn, addr = sock.accept()
        except OSError:
            break
        with conn:
            conn.settimeout(SOCKET_TIMEOUT)
            chunks = []
            try:
                while chunk := conn.recv(65536):
                    chunks.append(chunk)
            except TimeoutError:
                log.warning("closed idle connection from %s:%d", *addr)
                continue
            except OSError:
                continue
        try:
            message = json.loads(b"".join(chunks).decode("utf-8"))
        except (ValueError, UnicodeDecodeError):
            on_malformed()  # discard, observably
            continue
        try:
            on_message(message)
        except Exception:  # noqa: BLE001 — survive bad messages/tasks
            log.warning(
                "dropped %s message",
                message.get("message_type")
                if isinstance(message, dict)
                else type(message).__name__,
                exc_info=True,
            )
            on_malformed()
    sock.close()


class MRWorker:
    """A worker node speaking the reference's exact wire protocol.

    ``port=0`` binds an ephemeral port (read ``self.port`` after
    ``start()``). ``heartbeat_interval`` defaults to the spec's 2 s;
    tests shrink it to keep wall-clock short without changing the
    message shape.
    """

    def __init__(
        self,
        host: str = "localhost",
        port: int = 6001,
        manager_host: str = "localhost",
        manager_port: int = 6000,
        manager_hb_port: int = 5999,
        heartbeat_interval: float = TIME_BETWEEN_HEARTBEATS,
    ):
        self.host = host
        self.port = port
        self.manager_host = manager_host
        self.manager_port = manager_port
        self.manager_hb_port = manager_hb_port
        self.heartbeat_interval = heartbeat_interval
        self.registered = threading.Event()
        self.exit_code: int | None = None
        #: finished-message dicts this worker has sent (observability)
        self.finished: list[dict] = []
        self.malformed_count = 0
        self._sock: socket.socket | None = None
        self._threads: list[threading.Thread] = []
        self._shutdown = threading.Event()

    # -- lifecycle -----------------------------------------------------

    def start(self) -> "MRWorker":
        sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        sock.bind((self.host, self.port))
        self.port = sock.getsockname()[1]
        sock.listen()
        self._sock = sock
        t = threading.Thread(target=self._listen_loop, daemon=True)
        t.start()
        self._threads.append(t)
        # Register AFTER our own socket listens: the ack races back on it.
        send_json(
            self.manager_host,
            self.manager_port,
            {
                "message_type": "register",
                "worker_host": self.host,
                "worker_port": self.port,
            },
        )
        return self

    def stop(self) -> None:
        """Local equivalent of receiving a shutdown message; shutting
        the listen socket down wakes the blocked ``accept()``."""
        self._shutdown.set()
        if self._sock is not None:
            with suppress(OSError):
                self._sock.shutdown(socket.SHUT_RDWR)

    def join(self, timeout: float | None = None) -> None:
        for t in self._threads:
            t.join(timeout)

    def is_alive(self) -> bool:
        return any(t.is_alive() for t in self._threads)

    # -- network side ----------------------------------------------------

    def _listen_loop(self) -> None:
        assert self._sock is not None

        def bump():
            self.malformed_count += 1

        serve_json_loop(self._sock, self._shutdown, self._dispatch, bump)
        if self.exit_code is None:
            self.exit_code = 0

    def _dispatch(self, message: dict) -> None:
        mtype = message.get("message_type")
        if mtype == "register_ack":
            if not self.registered.is_set():
                log.info("worker %s:%d registered", self.host, self.port)
                self.registered.set()
                t = threading.Thread(target=self._heartbeat_loop, daemon=True)
                t.start()
                self._threads.append(t)
        elif mtype in ("new_map_task", "new_reduce_task"):
            # A failing task must neither kill this loop nor hang the
            # manager: report it as finished-with-error (an extra field
            # reference tooling ignores; our manager requeues on it).
            # A bad field fails the task before any file is opened or
            # process started.
            log.debug(
                "worker %s:%d: %s %s",
                self.host, self.port, mtype, message.get("task_id"),
            )
            try:
                check_fields(message)
                if mtype == "new_map_task":
                    self._run_map_task(message)
                else:
                    self._run_reduce_task(message)
            except Exception as exc:  # noqa: BLE001 — report, don't die
                if type(message.get("task_id")) is not int:
                    raise  # no task to report: serve_json_loop drops it
                log.warning(
                    "worker %s:%d: %s %s failed: %s",
                    self.host, self.port, mtype, message["task_id"], exc,
                )
                self._send_finished(
                    message["task_id"],
                    [],
                    error=f"{type(exc).__name__}: {exc}",
                    wave=message.get("wave"),
                )
        elif mtype == "shutdown":
            log.info("worker %s:%d shutting down", self.host, self.port)
            self._shutdown.set()

    def _heartbeat_loop(self) -> None:
        beat = json.dumps(
            {
                "message_type": "heartbeat",
                "worker_host": self.host,
                "worker_port": self.port,
            }
        ).encode("utf-8")
        with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as sock:
            sock.connect((self.manager_host, self.manager_hb_port))
            while not self._shutdown.is_set():
                try:
                    sock.send(beat)
                except OSError:
                    break
                # wait() (not sleep) so shutdown interrupts mid-interval
                self._shutdown.wait(self.heartbeat_interval)

    def _attempt_tag(self) -> str:
        """Unique-per-attempt temp-file suffix: host + port + pid."""
        return f"{self.host}-{self.port}-{os.getpid()}"

    def _send_finished(
        self,
        task_id: int,
        output_paths: list[str],
        error: str | None = None,
        wave=None,
    ) -> None:
        message = {
            "message_type": "finished",
            "task_id": task_id,
            "output_paths": output_paths,
            "worker_host": self.host,
            "worker_port": self.port,
        }
        if error is not None:
            message["error"] = error
        if wave is not None:
            # Echo the manager's per-wave nonce so a delayed finished
            # from a prior wave (task ids restart at 0 each wave) can
            # never be matched to the wrong stage. Reference-driven
            # tasks carry no nonce; the field is simply absent then.
            message["wave"] = wave
        self.finished.append(message)
        send_json(self.manager_host, self.manager_port, message)

    # -- task side ---------------------------------------------------------

    def _run_map_task(self, message: dict) -> None:
        task_id = message["task_id"]
        out_dir = Path(message["output_directory"])
        part_paths = [
            out_dir / f"maptask{task_id:05d}-part{p:05d}"
            for p in range(message["num_partitions"])
        ]
        with ExitStack() as stack:
            # One output file per partition, created up front: the
            # reference reports every partition file in finished even
            # when empty (tests/test_worker_08.py:159-162).
            tag = self._attempt_tag()
            parts = [stack.enter_context(replaced(p, tag)) for p in part_paths]
            _write_map_output(
                (
                    run_mapper(message["executable"], path)
                    for path in message["input_paths"]
                ),
                parts,
            )
        self._send_finished(
            task_id,
            [str(p) for p in part_paths],
            wave=message.get("wave"),
        )

    def _run_reduce_task(self, message: dict) -> None:
        task_id = message["task_id"]
        out_path = Path(message["output_directory"]) / f"part-{task_id:05d}"
        paths = message["input_paths"]
        with ExitStack() as stack:
            # External merge-sort: each (unsorted) input file is sorted
            # alone in memory and all but the last are spilled, so peak
            # memory = the largest single input file plus k blocks, not
            # the partition. By the last file no other input is held,
            # so its run is merged straight from memory. The runs are
            # made lazily, after run_reducer has started the reducer.
            def spill(path: str) -> Iterator[list[bytes]]:
                run = stack.enter_context(tempfile.TemporaryFile())
                run.writelines(map(b"".join, _sorted_blocks(path)))
                run.seek(0)
                return iter(partial(run.readlines, CHUNK_BYTES), [])

            runs = chain(
                map(spill, paths[:-1]), map(_sorted_blocks, paths[-1:])
            )
            run_reducer(
                message["executable"], runs, out_path, self._attempt_tag()
            )
        self._send_finished(
            task_id, [str(out_path)], wave=message.get("wave")
        )


@contextmanager
def replaced(path: Path, tag: str) -> Iterator[BinaryIO]:
    """A file to write at a temp name of attempt ``tag`` beside
    ``path``, ``os.replace``d onto ``path`` if the block succeeds and
    deleted if it raises. Reassignment is presumptive (C7), so two
    attempts may write one output at once: the last to finish wins
    whole, a loser leaves nothing. The fleet's tag is host, port and
    pid: port alone collides across hosts sharing a filesystem."""
    tmp = path.with_name(f"{path.name}.tmp-{tag}")
    try:
        with tmp.open("wb") as f:
            yield f
        os.replace(tmp, path)
    finally:
        tmp.unlink(missing_ok=True)


def run_mapper(executable: str, input_path: str) -> Iterator[list[bytes]]:
    """The map task body both data planes run: ``executable`` with the
    bytes of the file at ``input_path`` on its stdin, its stdout
    yielded as lists of complete lines without their newlines, about
    ``CHUNK_BYTES`` at a time. A final line without its newline is
    yielded too, so it cannot run into the next file's first line.
    Raises RuntimeError when the mapper exits non-zero."""
    with (
        open(input_path, "rb") as infile,
        subprocess.Popen(
            [executable], stdin=infile, stdout=subprocess.PIPE
        ) as proc,
    ):
        assert proc.stdout is not None
        tail = b""
        while chunk := proc.stdout.read(CHUNK_BYTES):
            lines = (tail + chunk).split(b"\n")
            tail = lines.pop()
            yield lines
        if tail:
            yield [tail]
    if proc.returncode:
        raise RuntimeError(f"mapper exited {proc.returncode} on {input_path}")


def run_reducer(
    executable: str,
    runs: Iterable[Iterator[list[bytes]]],
    out_path: Path,
    tag: str,
) -> None:
    """The reduce task body both data planes run: ``_merge_runs`` of
    the sorted ``runs`` into ``executable``'s stdin, its stdout into
    ``out_path`` through ``replaced(out_path, tag)``. The reducer is
    started first, then ``runs`` is taken, so a lazy ``runs`` sorts and
    spills while the reducer starts up. A reducer that exits non-zero,
    or exits 0 while its input is still unread, raises RuntimeError and
    leaves no output file; so does an error making the runs, which
    kills the reducer."""
    with (
        replaced(out_path, tag) as outfile,
        subprocess.Popen(
            [executable], stdin=subprocess.PIPE, stdout=outfile
        ) as proc,
    ):
        assert proc.stdin is not None
        try:
            _merge_runs(runs, proc.stdin.write)
            proc.stdin.close()
        except BrokenPipeError:
            # The reducer stopped reading; its exit status says why,
            # whether or not it died before the last write.
            with suppress(BrokenPipeError):
                proc.stdin.close()
            if proc.wait() == 0:
                raise RuntimeError(
                    "reducer exited 0 before reading all its input"
                ) from None
        except BaseException:
            # Anything else, such as an input that cannot be read,
            # voids the reducer's output: it is stopped, not left to
            # run on what it was given.
            proc.kill()
            with suppress(BrokenPipeError):
                proc.stdin.close()
            raise
        if proc.wait():
            raise RuntimeError(f"reducer exited {proc.returncode}")


def _sorted_blocks(path: str) -> Iterator[list[bytes]]:
    """The lines of the file at ``path``, sorted, in blocks of about
    ``CHUNK_BYTES``. A final line without its newline gets one: it must
    not concatenate with another run's line in the merged stream, and a
    bare line sorts differently from its terminated twin."""
    with open(path, "rb") as f:
        lines = f.readlines()
        size = f.tell()
    if lines and not lines[-1].endswith(b"\n"):
        lines[-1] += b"\n"
    lines.sort()
    step = max(1, CHUNK_BYTES * len(lines) // max(size, 1))
    return (lines[i : i + step] for i in range(0, len(lines), step))


def _merge_runs(runs: Iterable[Iterator[list[bytes]]], write) -> None:
    """Write the lines of ``runs``, each an iterator of non-empty sorted
    blocks, in sorted order, one ``write`` per step.

    A step takes from every run's buffered block the lines up to the
    fence, the smallest last line among those blocks, sorts them
    (timsort merges the presorted pieces in C) and writes them. Every
    line not taken is greater than the fence, and equal lines are equal
    bytes, so the output is byte for byte one sort of all the lines.
    A cursor marks each block's first untaken line, so no block is
    re-sliced from step to step."""
    heads = [[block, 0, run] for run in runs if (block := next(run, None))]
    while heads:
        fence = min(block[-1] for block, _, _ in heads)
        taken: list[bytes] = []
        for head in heads:
            block, lo, run = head
            hi = bisect_right(block, fence, lo)
            taken += block[lo:hi]
            if hi == len(block):
                head[0], head[1] = next(run, None), 0
            else:
                head[1] = hi
        heads = [head for head in heads if head[0]]
        taken.sort()
        write(b"".join(taken))


def _write_map_output(
    outputs: Iterable[Iterator[list[bytes]]], parts: list
) -> None:
    """Write a map task's ``outputs``, one per input file, each an
    iterator of chunks (lists of lines without their newlines), to its
    partition files as counted, sorted runs.

    The lines are counted until ``MEMO_KEYS`` distinct ones are held;
    then, and after the last chunk, ``_write_runs`` writes them as one
    sorted run per partition and counting starts afresh. Counting pays
    only when lines repeat: once the lines counted hold fewer than two
    copies per distinct line, they are written as a run and the rest of
    that file's output goes through ``_write_routed`` chunk by chunk,
    in mapper order. The next file is counted again, so a short file
    of distinct lines does not decide for the files after it."""
    route: dict[bytes, int] = {}
    counts: Counter[bytes] = Counter()
    n_lines = 0
    for chunks in outputs:
        for lines in chunks:
            counts.update(lines)
            n_lines += len(lines)
            repeated = n_lines >= 2 * len(counts)
            if len(counts) >= MEMO_KEYS or not repeated:
                _write_runs(counts, parts, route)
                counts.clear()
                n_lines = 0
                if not repeated:
                    for lines in chunks:
                        _write_routed(lines, parts, route)
    _write_runs(counts, parts, route)


def _write_runs(
    counts: Counter[bytes], parts: list, route: dict[bytes, int]
) -> None:
    """Write the lines ``counts`` holds, each repeated by its count, as
    one sorted run per partition file: in the reduce's order (whole
    line plus newline, so ``a\\tb`` sorts before ``a``), in writes of
    about ``CHUNK_BYTES``, a hot line's copies split across writes.
    Each distinct line is routed once, in first-seen order, so the
    ``route`` memo keeps the keys the task met first."""
    for part, lines in zip(parts, _route(list(counts), len(parts), route)):
        ended = map(add, lines, repeat(b"\n"))
        run = sorted(
            zip(ended, map(counts.__getitem__, lines)),
            key=itemgetter(0),  # the lines are distinct
        )
        block: list[bytes] = []
        size = 0
        for line, count in run:
            n_bytes = len(line) * count
            if size + n_bytes > CHUNK_BYTES:
                part.write(b"".join(block))
                block, size = [], 0
                if n_bytes > CHUNK_BYTES:  # a hot line: split its copies
                    k = CHUNK_BYTES // len(line) or 1
                    copies = line * k
                    for _ in range(count // k):
                        part.write(copies)
                    count %= k
                    n_bytes = len(line) * count
            block.append(line * count)
            size += n_bytes
        part.write(b"".join(block))


def _write_routed(
    lines: list[bytes], parts: list, route: dict[bytes, int]
) -> None:
    """Append each line, with its newline, to the partition file
    ``_route`` sends it to: one write per partition (which takes
    ``lines`` over)."""
    for part, block in zip(parts, _route(lines, len(parts), route)):
        if block:
            block.append(b"")  # so the join ends with a newline
            part.write(b"\n".join(block))


def _route(
    lines: list[bytes], n: int, route: dict[bytes, int]
) -> list[list[bytes]]:
    """``lines`` split into ``n`` lists, in order, by the partition
    their key (the bytes before the first tab) md5-routes to. ``route``
    memoizes key -> partition for the task and is cleared at
    ``MEMO_KEYS`` entries. With one partition every key routes to it,
    so ``lines`` is returned as it is, with no key, memo or per-line
    step."""
    if n == 1:
        return [lines]
    blocks: list[list[bytes]] = [[] for _ in range(n)]
    for line in lines:
        key = line.partition(b"\t")[0]
        p = route.get(key)
        if p is None:
            if len(route) >= MEMO_KEYS:
                route.clear()
            p = route[key] = md5_partition(key, n)
        blocks[p].append(line)
    return blocks
