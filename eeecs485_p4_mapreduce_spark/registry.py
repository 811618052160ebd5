"""Query registry: the single source of truth for the engine's query surface.

Operator modules register each query with an optional DuckDB oracle SQL
string; ``__spark_entry__`` re-exports the registry to the driver.

Conventions (driver contract, see repo root ``__spark_entry__.py``):

- every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver sorts columns by name before value-hashing);
- double-valued aggregates are ``round()``-ed on both sides so
  floating-point accumulation-order differences cannot flip the hash;
- timestamps that appear in output are formatted to strings on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query function, optionally with its DuckDB oracle SQL.

    ``oracle=None`` marks a genuinely non-SQL-expressible operator; the
    driver then records a weaker rows-only check.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _driver_green_rounds() -> dict[str, int]:
    """Map query name -> round number of its MOST RECENT hash-green row
    across every committed CORRECTNESS_r{N}.json at the repo root (the
    driver writes one per round; they are committed artifacts, so the
    ordering below is reproducible from a clone)."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last_green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if isinstance(row, dict) and row.get("hash_match") is True:
                last_green[name] = max(last_green.get(name, 0), rnd)
    return last_green


def _rotate() -> None:
    """Order the registry least-recently-green first.

    The correctness driver checks only the first ~50 registered queries
    each round. Sorting on the round of the last green driver row (-1 if
    none) puts never-checked queries first and then the oldest evidence,
    so each round's checked queries move to the back and the window
    cycles through the whole registry. The sort is stable: ties keep
    registration order.
    """
    last_green = _driver_green_rounds()
    for name in sorted(QUERIES, key=lambda n: last_green.get(n, -1)):
        QUERIES[name] = QUERIES.pop(name)


def load_all() -> None:
    """Import every query module so their @query decorators run."""
    from eeecs485_p4_mapreduce_spark.operators import (  # noqa: F401
        dedup,
        multimodal,
        pipeline,
        relational,
        similarity,
        skew,
        text_analysis,
    )
    from eeecs485_p4_mapreduce_spark import mr_queries  # noqa: F401
    from eeecs485_p4_mapreduce_spark.streaming import queries  # noqa: F401
    from eeecs485_p4_mapreduce_spark.operators import (  # noqa: F401
        staged,
        staged_r7,
        staged_r8,
        staged_r9,
        staged_r10,
        staged_r11,
        staged_r12,
        staged_r13,
        staged_r14,
        staged_r15,
        staged_r16,
        staged_r17,
        staged_r18,
        staged_r19,
        staged_r20,
        staged_r21,
        staged_r22,
        staged_r23,
        staged_r24,
    )

    _rotate()
