"""Shared Spark session + DuckDB oracle fixtures for the test suite."""

from __future__ import annotations

import os
import re
import sys
from collections import Counter
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from eeecs485_p4_mapreduce_spark.mrlite.worker import MRWorker  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

#: In-repo mrlite corpus and executables (FIXTURES.md §1 properties).
MR_FIXTURES = Path(__file__).resolve().parent / "fixtures" / "mr"


def fixture_wordcount() -> list[str]:
    """Golden ``word<TAB>count`` lines of the fixture corpus, computed
    without mrlite: each line lowercased and split on ``[ \t]``, so a
    blank line and each extra separator count the empty word."""
    counts = Counter(
        word
        for f in sorted((MR_FIXTURES / "input").iterdir())
        for line in f.read_text().splitlines()
        for word in re.split("[ \t]", line.lower())
    )
    return [f"{w}\t{c}" for w, c in counts.items()]


def read_lines(result) -> list[str]:
    """The lines of an mrlite job ``result``'s output files, in
    partition order. A line ends at a newline only, as in the job
    contract: a ``\r`` or ``\x0c`` stays inside its record."""
    out: list[str] = []
    for path in result.output_paths:
        text = Path(path).read_text(encoding="utf-8")
        if text:
            out += text.removesuffix("\n").split("\n")
    return out


class QuietWorker(MRWorker):
    """An ``MRWorker`` whose tasks run in the calling thread (call
    ``_run_map_task``/``_run_reduce_task``) and send no replies."""

    def _send_finished(self, *args, **kwargs) -> None:
        pass


@pytest.fixture(scope="session")
def spark():
    from eeecs485_p4_mapreduce_spark import get_spark

    spark = get_spark("pytest")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    from eeecs485_p4_mapreduce_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    yield con
    con.close()


def registered_in(module) -> list[str]:
    """Sorted names of the registered queries defined in ``module``."""
    from eeecs485_p4_mapreduce_spark.registry import QUERIES

    return sorted(n for n, fn in QUERIES.items() if fn.__module__ == module.__name__)


def assert_query_matches_oracle(spark, duck, sf_dir: str, name: str) -> None:
    """Driver-style compare: rowcount + column names + order-insensitive hash.

    Uses the same pandas-shaped canonicalization as tools/oracle_check.py
    (the round-2 byte-faithful replica of the driver's normalizer), so a
    test-suite pass predicts a driver pass.
    """
    sys.path.insert(0, str(REPO_ROOT / "tools"))
    from oracle_check import canon_lines, lines_hash

    from eeecs485_p4_mapreduce_spark.registry import ORACLES, QUERIES

    s_pd = QUERIES[name](spark, sf_dir).toPandas()
    rel = duck.sql(ORACLES[name])
    d_pd = rel.df()
    assert len(s_pd) == len(d_pd), f"{name}: rowcount {len(s_pd)} != {len(d_pd)}"
    assert sorted(s_pd.columns) == sorted(d_pd.columns), (
        f"{name}: columns {sorted(s_pd.columns)} != {sorted(d_pd.columns)}"
    )
    s_lines, d_lines = canon_lines(s_pd), canon_lines(d_pd)
    if lines_hash(s_lines) != lines_hash(d_lines):
        d_set, s_set = set(d_lines), set(s_lines)
        spark_only = [x for x in s_lines if x not in d_set][:3]
        duck_only = [x for x in d_lines if x not in s_set][:3]
        raise AssertionError(
            f"{name}: value hash mismatch\n  spark-only: {spark_only}\n"
            f"  duck-only:  {duck_only}"
        )
