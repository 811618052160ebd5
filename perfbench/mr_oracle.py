"""Expected ``part-%05d`` bytes of a word-count or grep job.

Written from the job contract, not from mrlite: a mapper line's key is
the text before its first tab; it goes to partition
``int(md5(key).hexdigest(), 16) % num_reducers``; each partition's lines
are sorted as whole lines, each with its newline (so ``1<TAB>a<TAB>b``
sorts before ``1<TAB>a``: tab is below newline), and fed to the reducer;
reducer ``r`` writes ``part-{r:05d}``. Which mapper read which file does not change the output.
"""

from __future__ import annotations

import hashlib

GREP_QUERY = "product"


def partition_of(key: str, num_partitions: int) -> int:
    return int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16) % num_partitions


def map_lines(kind: str, lines: list[str]) -> list[str]:
    """Mapper output lines (without newlines) for input lines (without
    newlines)."""
    out: list[str] = []
    if kind == "wc":
        for line in lines:
            out.extend(f"{t}\t1" for t in line.lower().replace("\t", " ").split(" "))
    elif kind == "grep":
        out.extend(f"1\t{line}" for line in lines if GREP_QUERY in line.lower())
    else:
        raise ValueError(f"unknown job kind {kind!r}")
    return out


def reduce_lines(kind: str, sorted_lines: list[str]) -> list[str]:
    out: list[str] = []
    if kind == "wc":
        key, count = None, 0
        for line in sorted_lines:
            k = line.partition("\t")[0]
            if k != key:
                if key is not None:
                    out.append(f"{key}\t{count}")
                key, count = k, 0
            count += 1
        if key is not None:
            out.append(f"{key}\t{count}")
    else:
        out.extend(v for v in (l.partition("\t")[2] for l in sorted_lines) if v)
    return out


def expected_outputs(kind: str, texts: list[str], num_reducers: int) -> dict[str, bytes]:
    """``{"part-00000": bytes, ...}`` for a job over files with these
    contents."""
    parts: list[list[str]] = [[] for _ in range(num_reducers)]
    for text in texts:
        lines = text.split("\n")
        if lines and lines[-1] == "":
            lines.pop()  # the newline ending the last line
        for rec in map_lines(kind, lines):
            parts[partition_of(rec.partition("\t")[0], num_reducers)].append(rec)
    out = {}
    for r, recs in enumerate(parts):
        recs = sorted(f"{rec}\n" for rec in recs)
        body = "".join(f"{l}\n" for l in reduce_lines(kind, [r[:-1] for r in recs]))
        out[f"part-{r:05d}"] = body.encode("utf-8")
    return out
