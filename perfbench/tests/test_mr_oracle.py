"""The benchmark's MapReduce oracle against the engine's own built-ins,
and the benchmark's executables against the oracle."""

import itertools
import os
import subprocess

import pytest

import mr_oracle
from eeecs485_p4_mapreduce_spark.mrlite import builtins as b
from eeecs485_p4_mapreduce_spark.mrlite.partitioner import md5_partition

CORPUS = [
    "Hello World Bye World\n\nHello\tHadoop  Goodbye hadoop\n",
    "\n"
    "the Product line\tand PRODUCTS\n"
    "a product\n"
    "a product\tb\n"
    "nothing here\n"
    "\n",
]


def _builtin_outputs(kind, texts, n):
    """Expected parts computed with mrlite.builtins and md5_partition."""
    mapper = b.wc_map if kind == "wc" else b.make_grep_map("product")
    reducer = b.wc_reduce if kind == "wc" else b.grep_reduce
    parts = [[] for _ in range(n)]
    for text in texts:
        for line in text.split("\n")[:-1]:
            for key, value in mapper(line):
                parts[md5_partition(key, n)].append(f"{key}\t{value}\n")
    out = {}
    for r, recs in enumerate(parts):
        pairs = [rec[:-1].split("\t", 1) for rec in sorted(recs)]
        lines = []
        for key, group in itertools.groupby(pairs, key=lambda kv: kv[0]):
            lines.extend(reducer(key, (v for _, v in group)))
        out[f"part-{r:05d}"] = "".join(f"{l}\n" for l in lines).encode()
    return out


def test_partition_matches_the_engine():
    for key in ["", "hello", "world", "1", "product", "aéb"] + [f"k{i}" for i in range(200)]:
        for n in (1, 2, 3, 5):
            assert mr_oracle.partition_of(key, n) == md5_partition(key, n)


@pytest.mark.parametrize("kind", ["wc", "grep"])
@pytest.mark.parametrize("n", [1, 2, 3])
def test_oracle_matches_builtins(kind, n):
    assert mr_oracle.expected_outputs(kind, CORPUS, n) == _builtin_outputs(kind, CORPUS, n)


def test_blank_lines_and_tabs():
    out = mr_oracle.expected_outputs("wc", CORPUS, 1)["part-00000"].decode().splitlines()
    counts = dict(line.split("\t") for line in out)
    assert counts[""] == "4"  # three blank lines and one double space
    assert counts["hello"] == "2" and counts["hadoop"] == "2"
    grep = mr_oracle.expected_outputs("grep", CORPUS, 1)["part-00000"].decode()
    # lines sort with their newline: "a product\tb" before "a product"
    assert grep.splitlines()[:2] == ["a product\tb", "a product"]


@pytest.mark.parametrize("kind", ["wc", "grep"])
def test_executables_match_the_oracle(tmp_path, kind):
    """Map each file, sort the lines, reduce: the worker's data path."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    exe = os.path.join(here, "exec")
    mapped = []
    for text in CORPUS:
        out = subprocess.run(["bash", os.path.join(exe, f"{kind}_map.sh")],
                             input=text, capture_output=True, text=True, check=True).stdout
        mapped.extend(out.splitlines(keepends=True))
    reduced = subprocess.run(["bash", os.path.join(exe, f"{kind}_reduce.sh")],
                             input="".join(sorted(mapped)), capture_output=True, text=True,
                             check=True).stdout
    assert reduced.encode() == mr_oracle.expected_outputs(kind, CORPUS, 1)["part-00000"]
