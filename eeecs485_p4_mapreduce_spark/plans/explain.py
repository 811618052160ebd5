"""Plan-quality assertions: the 100 TB design rules, made checkable.

Every rule here is one the operator modules claim to follow (filters reach
the parquet scan, projections prune columns, dimensions broadcast, no
superfluous exchanges). Tests call these against the actual physical plan
so a regression that silently de-optimizes a query fails CI, not the
cluster bill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """The parquet scan must carry a pushed filter mentioning fragment."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return
    raise AssertionError(
        f"no pushed filter containing {fragment!r}; plan:\n{plan}"
    )


def assert_read_schema_only(df: DataFrame, columns: set[str]) -> None:
    """The scan's ReadSchema must contain exactly `columns` (column
    pruning reached the reader)."""
    import re

    plan = formatted_plan(df)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, f"no ReadSchema in plan:\n{plan}"
    for schema in schemas:
        read_cols = {
            c.split(":")[0].strip() for c in schema.split(",") if c.strip()
        }
        if read_cols <= columns:
            return
    raise AssertionError(
        f"no scan reads only {sorted(columns)}; found {schemas}"
    )


def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"no broadcast join in plan:\n{plan}"
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (excludes
    broadcast exchanges, which don't move the fact table). Counts the
    numbered node headers so tree + detail sections aren't double-counted."""
    import re

    plan = formatted_plan(df)
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.MULTILINE))


#: Physical nodes that bound the row count flowing into a window: any
#: final aggregate, top-k, or limit collapses a fact-sized input to an
#: aggregate-/constant-sized one before a single-partition window pass.
_WINDOW_BOUNDERS = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "GlobalLimit",
    "CollectLimit",
)

_SCAN_MARKERS = ("FileScan", "Scan parquet", "Scan csv", "Scan json", "Scan orc")


def _bracket_groups(s: str) -> list[str]:
    """Top-level ``[...]`` groups in a plan-node line."""
    groups, depth, start = [], 0, -1
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start >= 0:
                groups.append(s[start : i + 1])
    return groups


#: Columns whose value domain is a (small) constant regardless of corpus
#: size. A window partitioned ONLY by these caps parallelism at the
#: domain cardinality — 5 tasks for o_orderpriority at any data size —
#: which is the q28 failure mode the x10 replica probe measured at 6.5x
#: wall for 10x rows. Such windows are fine over aggregate-sized input,
#: fatal over scan-sized input.
LOW_CARDINALITY_COLS = frozenset(
    {
        "o_orderpriority",
        "o_orderstatus",
        "l_returnflag",
        "l_linestatus",
        "l_shipmode",
        "c_mktsegment",
        "n_name",
        "r_name",
        "p_brand",
        "lang",
        "source",
        "event_type",
        "split",
        "status",
    }
)


def _subtree_first_marker(lines: list[str], idx: int, d: int) -> str | None:
    """Walk the subtree under ``lines[idx]`` (indent depth ``d``) and
    report what bounds its row count first: ``"bounded"`` for an
    aggregate/limit, ``"scan"`` for a file scan, ``None`` when neither
    appears (local relation, reused exchange, ...)."""
    for sub in lines[idx + 1 :]:
        if sub.strip() and _depth_of(sub) <= d:
            return None
        if any(b in sub for b in _WINDOW_BOUNDERS):
            return "bounded"
        if any(m in sub for m in _SCAN_MARKERS):
            return "scan"
    return None


def _depth_of(line: str) -> int:
    i = 0
    while i < len(line) and line[i] in " :+-*(0123456789)":
        i += 1
    return i


def dimension_bounded_windows(df: DataFrame) -> list[str]:
    """Window nodes whose partition spec consists ONLY of fixed-domain
    dimension columns (``LOW_CARDINALITY_COLS``) while their input is
    scan-sized. Parallelism is then capped at the dimension cardinality
    no matter how large the corpus — the fix is the two-level prefix
    decomposition (see q28/q57/curate_token_budget): bucket the sort key,
    window the tiny per-bucket table, and keep the fact-side window
    partitioned by (dimension, bucket). Returns offending node lines."""
    import re

    plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )
    lines = plan.splitlines()
    offenders: list[str] = []
    for idx, line in enumerate(lines):
        stripped = line.lstrip(" :+-").lstrip("*(0123456789) ")
        if not stripped.startswith("Window "):
            continue
        groups = _bracket_groups(line)
        if len(groups) >= 3:
            part_group = groups[-2]  # [funcs], [part], [order]
        elif (
            len(groups) == 2
            and "ASC" not in groups[-1]
            and "DESC" not in groups[-1]
        ):
            # [funcs], [part] — a partitioned window with no ORDER BY
            # renders only two groups; it still caps parallelism at the
            # partition-key cardinality and must not be skipped.
            part_group = groups[-1]
        else:
            continue  # unpartitioned — the other detector's job
        part_cols = {
            m.group(1) for m in re.finditer(r"(\w+)#\d+", part_group)
        }
        if not part_cols or not part_cols <= LOW_CARDINALITY_COLS:
            continue
        # flag only PROVEN scan-fed windows (no false positives on local
        # relations / reused exchanges while this gate beds in)
        if _subtree_first_marker(lines, idx, _depth_of(line)) == "scan":
            offenders.append(line.strip())
    return offenders


def unpartitioned_fact_windows(df: DataFrame) -> list[str]:
    """Window nodes with NO partition spec whose input is fact-sized.

    A ``Window`` over an unpartitioned spec moves every input row to one
    partition — fatal when the input is a scan-sized relation, harmless
    when an aggregate/limit already collapsed it. Returns the offending
    node lines (empty list = clean). Parses the simple-mode plan tree:
    a partitioned Window renders three top-level bracket groups
    (``Window [funcs], [part], [order]``), an unpartitioned one only two —
    and a partitioned window with no ORDER BY also renders two
    (``[funcs], [part]``), so a two-group node counts as unpartitioned
    only when its trailing group carries sort directions (ASC/DESC).
    The node is flagged when its subtree reaches a file scan before any
    aggregate/limit bounder."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )
    lines = plan.splitlines()
    offenders: list[str] = []
    for idx, line in enumerate(lines):
        stripped = line.lstrip(" :+-")
        stripped = stripped.lstrip("*(0123456789) ")
        if not stripped.startswith("Window "):
            continue
        groups = _bracket_groups(line)
        if len(groups) >= 3:
            continue  # partitioned: [funcs], [part], [order]
        last = groups[-1] if groups else ""
        if "ASC" not in last and "DESC" not in last:
            continue  # [funcs], [part] — partitioned, no ORDER BY
        # conservative: an offender unless PROVEN bounded (original gate
        # semantics — an unrecognized subtree still flags)
        if _subtree_first_marker(lines, idx, _depth_of(line)) != "bounded":
            offenders.append(line.strip())
    return offenders


def assert_whole_stage_codegen(df: DataFrame) -> None:
    """Formatted plans mark codegen membership per-node as
    ``[codegen id : N]`` (the literal 'WholeStageCodegen' only appears in
    the simple-mode tree)."""
    plan = formatted_plan(df)
    assert "codegen id" in plan, f"no codegen spans:\n{plan}"
