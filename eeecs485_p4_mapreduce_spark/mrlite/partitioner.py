"""The reference's two routing rules: input files → map tasks (S2) and
key → reduce partition (M2).

Key → partition by ``int(md5(key).hexdigest(), 16) % num_partitions``.
The reference never states this in code (its framework is starter-code
stubs) but it is pinned empirically by its per-partition reduce-output
asserts (reference: tests/test_worker_08.py:226-242 — with 2 partitions,
{"", "bye", "hello"} land in part 0 and {"world", "hadoop", "goodbye"} in
part 1, which md5-mod reproduces and Python's builtin hash does not).

Scale note: md5 is uniform, so partition balance at 100 TB is as good as
Spark's Murmur3; it is only ~2× slower per key, and only the parity layer
pays that cost. The idiomatic layer uses Spark's native hash exchange.
"""

from __future__ import annotations

import hashlib
from pathlib import Path


def md5_partition(key: str | bytes, num_partitions: int) -> int:
    """Partition index for a key, exactly as the reference computes it.
    A str key is hashed as its UTF-8 bytes; a bytes key as it is. The
    big-endian digest is the hexdigest's integer, without the hex
    round trip."""
    if isinstance(key, str):
        key = key.encode("utf-8")
    return int.from_bytes(hashlib.md5(key).digest(), "big") % num_partitions


def check_task_count(name: str, count: int) -> None:
    """Raise ValueError unless a job's ``count`` of map or reduce tasks,
    ``name``, is at least one: no task would read the input, or md5
    routing would divide by zero."""
    if count < 1:
        raise ValueError(f"{name} must be at least 1, got {count}")


def split_input(input_directory: str, num_mappers: int) -> list[list[str]]:
    """§2.1 S1+S2: the input files of each map task, one list per task.

    Files are listed in name order and dealt round-robin
    (``files[i::n_map]``) to ``n_map = min(num_mappers, len(files))``
    tasks (reference: tests/test_manager_02.py:139-144). Hidden files
    (``.``/``_`` prefixed: ``_SUCCESS``, ``.crc``) are skipped, matching
    Hadoop's input conventions. Raises ValueError when ``num_mappers``
    is below one, and FileNotFoundError when the directory is missing
    or holds no input file.
    """
    check_task_count("num_mappers", num_mappers)
    in_dir = Path(input_directory)
    if not in_dir.is_dir():
        raise FileNotFoundError(f"input directory {input_directory} not found")
    files = sorted(
        str(p)
        for p in in_dir.iterdir()
        if p.is_file() and not p.name.startswith((".", "_"))
    )
    if not files:
        raise FileNotFoundError(f"no input files in {input_directory}")
    n_map = min(num_mappers, len(files))
    return [files[i::n_map] for i in range(n_map)]
