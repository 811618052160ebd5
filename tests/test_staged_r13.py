"""Oracle + semantics tests for the queries in operators/staged_r13.py.
Beyond the usual independent-reference fixtures, this batch carries two
PLAN-LEVEL proofs: partition pruning must be visible in the files the
scan opens, and the bucketed join must execute with zero exchanges (with
a positive control showing the unbucketed twin DOES shuffle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.operators import staged_r13
from eeecs485_p4_mapreduce_spark.registry import QUERIES
from tests.conftest import assert_query_matches_oracle, registered_in


@pytest.mark.parametrize("name", registered_in(staged_r13))
def test_staged_r13_matches_oracle(spark, duck, sf_dir, name):
    assert_query_matches_oracle(spark, duck, sf_dir, name)


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))


# --- q94 / q95: format roundtrips ---------------------------------------------


@pytest.mark.parametrize(
    "query_name,null_mod",
    [("q94_orc_roundtrip", 6), ("q95_xml_roundtrip", 4)],
)
def test_format_roundtrips_preserve_adversarial_content(
    spark, tmp_path, query_name, null_mod
):
    """Quotes, XML entities (&, <, >), commas, and NULLs must survive
    each format's sink/source pair; expected aggregates come from
    plain Python over the same fixture."""
    rows = [
        (0, "amp & lt < gt > quote \" done", "en", "s1", 11),
        (1, "plain words here again now", "en", "s1", 22),
        (4, "four is null for xml", "zh", "s2", 33),
        (6, "six is null for orc", "de", "s2", 44),
        (7, "' single ' quotes ' galore '", "en", "s2", 55),
    ]
    _write_docs(spark, tmp_path, rows)
    fn = QUERIES[query_name]
    out = {r.source: r for r in fn(spark, str(tmp_path)).collect()}

    def tricky(text, lang):
        if query_name == "q94_orc_roundtrip":
            return f'" tricky {text[:12]} ,\'{lang}'
        return f'a & b <tag> "{text[:8]}" </tag>'

    exp = {}
    for doc_id, text, lang, source, n_chars in rows:
        e = exp.setdefault(source, [0, 0, 0, 0])
        e[0] += 1
        if doc_id % null_mod == 0:
            e[1] += 1
        else:
            e[2] += len(tricky(text, lang))
        e[3] += n_chars
    for source, (n, nn, tl, sc) in exp.items():
        r = out[source]
        assert (
            r.n_docs, r.n_null_tricky, r.sum_tricky_len, r.sum_chars,
        ) == (n, nn, tl, sc), (query_name, source)


# --- q96: partition pruning -----------------------------------------------------


def test_partition_prune_scans_only_matching_dirs(spark, tmp_path):
    """The filtered read must open files ONLY under the two matching
    event_type partition directories — the I/O half of the pruning
    claim — and the values must match a hand count."""
    import shutil

    rows = []
    eid = 0
    for etype, n in [("purchase", 3), ("signup", 2), ("view", 4),
                     ("click", 5)]:
        for _ in range(n):
            rows.append(
                (eid, "2024-01-01 00:00:00", eid % 2, etype,
                 1.0 + eid, "{}")
            )
            eid += 1
    _write_events(spark, tmp_path, rows)
    filtered, out_dir = staged_r13._q96_partitioned_read(
        spark, str(tmp_path)
    )
    try:
        # runtime truth: the files the tasks actually opened
        # (DataFrame.inputFiles() lists the UNPRUNED relation)
        files = [
            r[0]
            for r in filtered.select(F.input_file_name())
            .distinct()
            .collect()
        ]
        assert files, "pruned scan lists no files"
        for f in files:
            assert ("event_type=purchase" in f) or (
                "event_type=signup" in f
            ), f"non-pruned file scanned: {f}"
        # and the static half: the filter reached PartitionFilters
        plan = filtered._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        import re

        pf = re.search(r"PartitionFilters: \[[^\]]*event_type[^\]]*\]", plan)
        assert pf, f"partition filter not pushed: {plan[:400]}"
        got = {
            r.event_type: r.n_events
            for r in filtered.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .collect()
        }
        assert got == {"purchase": 3, "signup": 2}
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


# --- q97: bucketed join ------------------------------------------------------------


def test_bucketed_join_has_no_exchange_and_control_does(spark, tmp_path):
    """The bucketed sort-merge join must contain NO exchange in its
    executed plan; the identical join over plain (unbucketed)
    DataFrames MUST contain one — the positive control that proves the
    assertion can fail."""
    rows = []
    eid = 0
    for u in range(16):
        rows.append((eid, "2024-01-01 00:00:00", u, "purchase",
                     float(u + 1), "{}"))
        eid += 1
        rows.append((eid, "2024-01-01 01:00:00", u, "view", 0.0, "{}"))
        eid += 1
    _write_events(spark, tmp_path, rows)
    joined, tables = staged_r13._q97_bucketed_tables(spark, str(tmp_path))
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan[:800]
        assert joined.count() == 16
        # positive control: same join, same hint, NO bucketing
        from eeecs485_p4_mapreduce_spark.catalog import load_table

        ev = load_table(spark, str(tmp_path), "events")
        s = (
            ev.filter(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("c1"))
        )
        a = (
            ev.filter(F.col("event_type") == "view")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("c2"))
            .withColumnRenamed("user_id", "a_user_id")
        )
        ctl = s.hint("merge").join(a, s["user_id"] == a["a_user_id"])
        ctl_plan = ctl._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in ctl_plan, "control join did not shuffle"
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# --- q98: malformed CSV --------------------------------------------------------------


def test_malformed_csv_rescues_good_rows_and_counts_bad(spark, tmp_path):
    rows = [
        (0, "alpha", "en", "sA", 10),
        (1, "beta", "en", "sA", 20),
        (2, "gamma", "en", "sB", 30),
    ]
    _write_docs(spark, tmp_path, rows)
    out = {
        r.source: r
        for r in staged_r13.q98_csv_malformed_audit(
            spark, str(tmp_path)
        ).collect()
    }
    assert out["sA"].n_docs == 2 and out["sA"].sum_chars == 30
    assert out["sB"].n_docs == 1 and out["sB"].sum_chars == 30
    assert out["__corrupt__"].n_docs == len(staged_r13.Q98_BAD_LINES)
    assert out["__corrupt__"].sum_chars == 0


# --- curate_shard_manifest --------------------------------------------------------------


def test_shard_manifest_counts_and_verification(spark, tmp_path):
    rows = [(d, "t", "en", "s", 100 + d) for d in range(20)]
    _write_docs(spark, tmp_path, rows)
    out = {
        r.shard: r
        for r in staged_r13.curate_shard_manifest(
            spark, str(tmp_path)
        ).collect()
    }
    assert len(out) == staged_r13.MANIFEST_SHARDS
    for shard, r in out.items():
        ids = [d for d, *_ in rows if d % staged_r13.MANIFEST_SHARDS == shard]
        assert r.n_docs == len(ids)
        assert r.sum_ids == sum(ids)
        assert r.sum_chars == sum(100 + d for d in ids)
        assert r.manifest_ok is True


# --- ta_vocab_growth ---------------------------------------------------------------------


def test_vocab_growth_tracks_first_occurrences(spark, tmp_path):
    """10 docs; doc k introduces k+1 brand-new tokens plus re-uses the
    shared token 'x': new-token counts per decile are exactly
    [2, 2, 3, ..., 10] and the cumulative curve is their prefix sum."""
    rows = []
    for k in range(10):
        toks = [f"t{k}_{j}" for j in range(k + 1)] + ["x"]
        text = " ".join(toks)
        rows.append((k, text, "en", "s", len(text)))
    _write_docs(spark, tmp_path, rows)
    out = {
        r.decile: r
        for r in staged_r13.ta_vocab_growth(spark, str(tmp_path)).collect()
    }
    assert len(out) == 10
    exp_new = [2] + [k + 1 for k in range(1, 10)]  # doc0 adds t0_0 and x
    cum = 0
    for dec in range(1, 11):
        cum += exp_new[dec - 1]
        assert out[dec].new_tokens == exp_new[dec - 1], dec
        assert out[dec].cum_vocab == cum, dec
