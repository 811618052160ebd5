"""Oracle + semantics tests for the queries in operators/staged_r10.py.
Every operator gets a constructed-fixture test computed by an
INDEPENDENT reference (hand math, a tiny Python reimplementation, or a
stdlib implementation), because a shared semantic bug hash-matches its
own oracle (the q73/q77 lesson)."""

from __future__ import annotations

import io
import zipfile

import pytest
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.operators import staged_r10
from eeecs485_p4_mapreduce_spark.operators.multimodal import (
    encode_flac,
    encode_zip,
    parse_flac_stream,
    parse_zip_entries,
)
from tests.conftest import assert_query_matches_oracle, registered_in


@pytest.mark.parametrize("name", registered_in(staged_r10))
def test_staged_r10_matches_oracle(spark, duck, sf_dir, name):
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


# --- q84: integer OLS --------------------------------------------------------


def test_trend_regression_matches_closed_form(spark, tmp_path):
    """Daily counts 2, 4, 6 over days 0-2: slope exactly 2, intercept
    exactly 2 — plus a type with a non-integer slope checked against
    the Python closed form with floor division."""
    rows = []
    eid = 0
    for day, n in [(1, 2), (2, 4), (3, 6)]:
        for _ in range(n):
            rows.append((eid, f"2024-01-0{day} 05:00:00", 1, "up", 1.0, "{}"))
            eid += 1
    for day, n in [(1, 5), (2, 2), (3, 6)]:  # slope 1/2 -> 500000 micros
        for _ in range(n):
            rows.append((eid, f"2024-01-0{day} 06:00:00", 1, "jag", 1.0, "{}"))
            eid += 1
    _write_events(spark, tmp_path, rows)
    out = {
        r.event_type: r
        for r in staged_r10.q84_trend_regression(
            spark, str(tmp_path)
        ).collect()
    }
    assert out["up"].slope_e6 == 2_000_000
    assert out["up"].intercept_e6 == 2_000_000

    def ols(pairs):
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        den = n * sxx - sx * sx
        return (
            (n * sxy - sx * sy) * 1_000_000 // den,
            (sy * sxx - sx * sxy) * 1_000_000 // den,
        )

    slope, intercept = ols([(0, 5), (1, 2), (2, 6)])
    assert (out["jag"].slope_e6, out["jag"].intercept_e6) == (
        slope, intercept,
    )


# --- q85: decile lift --------------------------------------------------------


def _py_thresholds(values, k):
    """Independent reference of operators/quantiles.exact_thresholds:
    t_j = min{v : cm(v) * k >= n * j} over the sorted value multiset."""
    vs = sorted(values)
    n = len(vs)
    thr = []
    for j in range(1, k):
        cm = 0
        prev = None
        for v in vs:
            cm += 1
            if v != prev:
                prev = v
            if cm * k >= n * j:
                thr.append(v)
                break
    return thr


def _py_score(v, thr, k, descending=False):
    below = sum(1 for t in thr if v > t)
    return k - below if descending else 1 + below


def test_decile_lift_threshold_tiling_and_cumulative(spark, tmp_path):
    """12 users incl. a spend tie -> tie-aware threshold deciles must
    match an independent Python reference of the same quantile rule,
    and conversions concentrated at the extremes make the cumulative
    ppm curve exact by hand."""
    spends = [120, 110, 100, 90, 80, 80, 60, 50, 40, 30, 20, 10]
    rows = []
    eid = 0
    for u, s in enumerate(spends):
        rows.append((eid, "2024-01-01 00:00:00", u, "view", float(s), "{}"))
        eid += 1
    # conversions: 3 for the richest user, 1 for the poorest
    for _ in range(3):
        rows.append((eid, "2024-01-01 01:00:00", 0, "purchase", 0.0, "{}"))
        eid += 1
    rows.append((eid, "2024-01-01 01:00:00", 11, "purchase", 0.0, "{}"))
    _write_events(spark, tmp_path, rows)
    cents = [s * 100 for s in spends]
    thr = _py_thresholds(cents, 10)
    exp_decile = {
        u: _py_score(c, thr, 10, descending=True)
        for u, c in enumerate(cents)
    }
    conv = {0: 3, 11: 1}
    exp = {}
    for u, c in enumerate(cents):
        d = exp_decile[u]
        e = exp.setdefault(d, [0, 0, 0])
        e[0] += 1
        e[1] += c
        e[2] += conv.get(u, 0)
    # the tied 8000-cent users share one decile
    assert exp_decile[4] == exp_decile[5]
    out = {
        r.decile: r
        for r in staged_r10.q85_decile_lift(spark, str(tmp_path)).collect()
    }
    assert {
        d: (r.n_users, r.sum_cents, r.n_conversions) for d, r in out.items()
    } == {d: tuple(e) for d, e in exp.items()}
    cum = 0
    total = sum(conv.values())
    for d in sorted(exp):
        cum += exp[d][2]
        assert out[d].cum_conv_ppm == cum * 1_000_000 // total
    assert "ntile" not in staged_r10.q85_decile_lift(
        spark, str(tmp_path)
    )._jdf.queryExecution().executedPlan().toString()


# --- q86: point-in-time join --------------------------------------------------


def test_pit_join_picks_version_valid_at_event_ts(spark, tmp_path):
    """Three events for one user, one per validity segment (including
    the exact first-instant boundary of v1): each must pick ITS
    version's tier, never the latest."""
    # t0 = 2024-01-01, max = 2024-01-04 -> span 3 days,
    # seg = span_us // 3 + 1 = 86400000001 us (1 day + 1 us)
    rows = [
        (0, "2024-01-01 00:00:00", 5, "view", 1.0, "{}"),     # v0
        (1, "2024-01-02 00:00:01", 5, "view", 2.0, "{}"),     # v1 (past +1us)
        (2, "2024-01-04 00:00:00", 5, "view", 4.0, "{}"),     # v2
    ]
    _write_events(spark, tmp_path, rows)
    out = staged_r10.q86_pit_join(spark, str(tmp_path)).collect()
    # user 5 tiers: (35+v)%100 = 35, 36, 37 -> all band 3
    assert len(out) == 1
    r = out[0]
    assert r.tier_band == 3
    assert r.n_events == 3 and r.n_users == 1
    assert r.sum_cents == 100 + 200 + 400
    # and every event matched exactly ONE version (no double counting)


def test_pit_join_boundary_is_half_open(spark, tmp_path):
    """An event at exactly t0 + seg belongs to v1, not v0 (half-open
    [from, to) validity)."""
    rows = [
        (0, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
        # exactly t0 + 86400000001 us = v1's first instant
        (1, "2024-01-02 00:00:00.000001", 1, "view", 2.0, "{}"),
        (2, "2024-01-04 00:00:00", 1, "view", 4.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    out = staged_r10.q86_pit_join(spark, str(tmp_path)).collect()
    # tiers (7, 8, 9) are all band 0; 3 events, each matched once
    assert out[0].n_events == 3


# --- curate_quota_apportion ---------------------------------------------------


def _hamilton(masses, budget=10_000):
    total = sum(m for _, m in masses)
    based = [
        (s, m, budget * m // total, budget * m % total) for s, m in masses
    ]
    leftover = budget - sum(b for _, _, b, _ in based)
    ranked = sorted(based, key=lambda t: (-t[3], t[0]))
    extras = {s for s, _, _, _ in ranked[:leftover]}
    return {
        s: (b, 1 if s in extras else 0) for s, _m, b, _r in based
    }


def test_quota_apportion_matches_hamilton_reference(spark, tmp_path):
    """Char masses 5/4/3 force one leftover slot to the largest
    remainder; equal masses force the alphabetical tie-break. Σquota
    must equal the budget EXACTLY in both cases."""
    cases = [
        [("a", 5), ("b", 4), ("c", 3)],
        [("x", 1), ("y", 1), ("z", 1)],
    ]
    for masses in cases:
        rows = [
            (i, "t", "en", s, m) for i, (s, m) in enumerate(masses)
        ]
        _write_docs(spark, tmp_path, rows)
        out = {
            r.source: r
            for r in staged_r10.curate_quota_apportion(
                spark, str(tmp_path)
            ).collect()
        }
        ref = _hamilton(masses)
        for s, (base, extra) in ref.items():
            assert (out[s].base_quota, out[s].extra) == (base, extra), s
            assert out[s].quota == base + extra
        assert sum(r.quota for r in out.values()) == 10_000


# --- sim_mmr_rerank -----------------------------------------------------------


def _mmr_reference(q, cands, lam_num=7, lam_den=10, k=5):
    """Greedy MMR in the same integer micros as the query."""
    import math

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    rel = {i: round(dot(q, v) * 1_000_000) for i, v in cands.items()}
    sim = {}
    for i, vi in cands.items():
        for j, vj in cands.items():
            if i != j:
                sim[i, j] = round(
                    dot(vi, vj)
                    / (math.sqrt(dot(vi, vi)) * math.sqrt(dot(vj, vj)))
                    * 1_000_000
                )
    selected = [sorted(rel, key=lambda i: (-rel[i], i))[0]]
    while len(selected) < min(k, len(cands)):
        rest = [i for i in rel if i not in selected]
        scores = {
            i: (lam_num * rel[i]
                - (lam_den - lam_num) * max(sim[i, s] for s in selected))
            // lam_den
            for i in rest
        }
        selected.append(sorted(rest, key=lambda i: (-scores[i], i))[0])
    return selected


def test_mmr_diversifies_away_from_near_duplicate(spark, tmp_path):
    """Candidate b is a near-duplicate of the top hit a; plain
    relevance ranks it second, but MMR must prefer the diverse c.
    Checked against an independent Python greedy reference."""
    dim = 64

    def vec(x, y):
        v = [0.0] * dim
        v[0], v[1] = float(x), float(y)
        return v

    emb = {
        0: vec(1.0, 0.0),      # the query
        1: vec(1.0, 0.001),    # a: top relevance
        2: vec(0.95, 0.002),   # b: near-duplicate of a, rel 0.95
        3: vec(0.9, 0.9),      # c: rel 0.9 but 45 degrees away
        4: vec(0.2, -0.1),
        5: vec(0.1, 0.3),
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in emb.items()],
        "vec_id long, embedding array<float>, label int",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = sorted(
        (
            r
            for r in staged_r10.sim_mmr_rerank(
                spark, str(tmp_path)
            ).collect()
            if r.query_id == 0
        ),
        key=lambda r: r.sel_rank,
    )
    cands = {i: v for i, v in emb.items() if i != 0}
    ref = _mmr_reference(emb[0], cands)
    assert [r.vec_id for r in out] == ref
    # the diversification actually bit: second pick is c (id 3), not
    # the near-duplicate b (id 2), while pure relevance would say b
    assert out[0].vec_id == 1 and out[1].vec_id == 3
    rels = {r.vec_id: r.rel_e6 for r in out}
    assert rels[2] > rels[3]  # b outranks c on relevance alone


@pytest.mark.parametrize("n_vecs", [1, 2])
def test_mmr_matches_oracle_with_at_most_one_candidate(
    spark, tmp_path, n_vecs
):
    """With two embeddings each query has exactly one candidate and no
    pairwise-sim row, yet the oracle keeps its rank-1 pick; with one
    embedding there is no candidate and both sides are empty."""
    import duckdb

    from tests.conftest import assert_query_matches_oracle

    rows = [(i, [1.0 + i] + [0.5] * 63, 0) for i in range(n_vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    with duckdb.connect() as duck:
        duck.execute(
            "CREATE VIEW embeddings AS SELECT * FROM"
            f" read_parquet('{tmp_path / 'embeddings.parquet'}/*.parquet')"
        )
        assert_query_matches_oracle(
            spark, duck, str(tmp_path), "sim_mmr_rerank"
        )
    got = staged_r10.sim_mmr_rerank(spark, str(tmp_path)).collect()
    assert sorted((r.query_id, r.sel_rank, r.vec_id) for r in got) == (
        [(0, 1, 1), (1, 1, 0)] if n_vecs == 2 else []
    )


# --- ta_burstiness ------------------------------------------------------------


def test_burstiness_separates_bursty_from_uniform(spark, tmp_path):
    """Token 'burst' appears 8 times in ONE doc of 8; token 'flat'
    once in EVERY doc. VMR(burst) = 8.0 exactly; VMR(flat) ~ 0 —
    both checked against hand-computed integer sums."""
    rows = []
    for d in range(8):
        text = "flat"
        if d == 0:
            text += " " + " ".join(["burst"] * 8)
        rows.append((d, text, "en", "s", len(text)))
    _write_docs(spark, tmp_path, rows)
    out = {
        r.token: r
        for r in staged_r10.ta_burstiness(spark, str(tmp_path)).collect()
    }
    # burst: n=8, sum c = 8 (one doc), sum c^2 = 64
    # VMR = (8*64 - 64) * 1e6 // (7 * 8) = 448e6 // 56 = 8e6
    assert out["burst"].vmr_e6 == 8_000_000
    assert out["burst"].docs_with == 1 and out["burst"].total == 8
    # flat: n=8, sum c = 8, sum c^2 = 8 -> (64-64)*1e6 // 56 = 0
    assert out["flat"].vmr_e6 == 0
    assert out["flat"].docs_with == 8


# --- mm_zip_shards ------------------------------------------------------------


def test_zip_encoder_agrees_with_stdlib_zipfile():
    members = [
        ("00000001.txt", b"hello zip"),
        ("00000001.bin", bytes(range(256))),
    ]
    blob = encode_zip(members)
    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
        assert [(i.filename, i.file_size) for i in zf.infolist()] == [
            (n, len(p)) for n, p in members
        ]
        for n, p in members:
            assert zf.read(n) == p
        assert zf.testzip() is None  # stdlib CRC pass
    parsed, info = parse_zip_entries(blob)
    assert parsed == [(n, len(p)) for n, p in members]
    assert info["n_crc_ok"] == 2
    assert info["archive_bytes"] == len(blob)


def test_zip_walker_rejects_corruption_and_counts_bad_crc():
    members = [("a.txt", b"x" * 50), ("b.txt", b"y" * 60)]
    blob = bytearray(encode_zip(members))
    # flip one data byte -> that entry's CRC fails, walk still returns
    flip = bytearray(blob)
    flip[35] ^= 1  # inside a.txt's payload (30 + 5 name bytes)
    _members, info = parse_zip_entries(bytes(flip))
    assert info["n_crc_ok"] == 1
    with pytest.raises(ValueError, match="EOCD"):
        parse_zip_entries(bytes(blob[:-1]))
    # corrupt the CRC in the central directory -> central/local mismatch
    cd_off = len(blob) - 22 - (46 + 5) * 2
    bad = bytearray(blob)
    bad[cd_off + 16] ^= 1  # crc32 field of the first central entry
    with pytest.raises(ValueError, match="central/local mismatch"):
        parse_zip_entries(bytes(bad))
    # EOCD size and offset saturated to 0xFFFFFFFF, as large-archive
    # extensions write them: refused, not misread as a classic archive
    bad = bytearray(blob)
    bad[-10:-2] = b"\xff" * 8
    with pytest.raises(ValueError, match="mis-sized"):
        parse_zip_entries(bytes(bad))


def test_zip_query_matches_layout_arithmetic(spark, tmp_path):
    _write_docs(spark, tmp_path, [(5, "t", "en", "s", 1)])
    r = staged_r10.mm_zip_shards(spark, str(tmp_path)).collect()[0]
    sizes = [40 + (5 * 11 + j * 17) % 200 for j in range(4)]  # k=4
    names = [f"{5:08d}.{staged_r10._ZIP_EXTS[(5 + j) % 4]}" for j in range(4)]
    assert r.n_members == 4
    assert r.payload_bytes == sum(sizes)
    assert r.central_dir_bytes == sum(46 + len(n) for n in names)
    assert r.archive_bytes == (
        sum(30 + len(n) + s for n, s in zip(names, sizes))
        + r.central_dir_bytes + 22
    )
    assert r.n_crc_ok == 4


# --- mm_flac_streaminfo --------------------------------------------------------


def test_flac_bit_packing_across_byte_boundaries():
    """36-bit total_samples > 2^32 and a 20-bit sample rate must
    survive the big-endian bit packing; comments live in a
    little-endian block of the same file."""
    blob = encode_flac(
        96000, 8, 24, (1 << 33) + 12345,
        comments=[("artist", "a"), ("album", "b")], padding_len=9,
    )
    r = parse_flac_stream(blob)
    assert r["sample_rate"] == 96000
    assert r["channels"] == 8 and r["bits"] == 24
    assert r["total_samples"] == (1 << 33) + 12345
    assert r["n_comments"] == 2 and r["padding_bytes"] == 9
    assert r["duration_us"] == ((1 << 33) + 12345) * 1_000_000 // 96000


def test_flac_walker_rejects_corruption():
    blob = bytearray(encode_flac(44100, 2, 16, 1000))
    bad = bytearray(blob)
    bad[0:4] = b"fLaX"
    with pytest.raises(ValueError, match="magic"):
        parse_flac_stream(bytes(bad))
    with pytest.raises(ValueError, match="overruns"):
        parse_flac_stream(bytes(blob[:-4]))
    noend = bytearray(blob)
    noend[4] &= 0x7F  # clear the last-block flag
    with pytest.raises(ValueError, match="last-block"):
        parse_flac_stream(bytes(noend))


def test_flac_query_rate_table_and_block_census(spark, tmp_path):
    _write_docs(
        spark, tmp_path,
        [(0, "t", "en", "s", 1), (7, "t", "en", "s", 1)],
    )
    out = {
        r.media_id: r
        for r in staged_r10.mm_flac_streaminfo(spark, str(tmp_path)).collect()
    }
    # doc 0: pad = 0 -> NO padding block (2 blocks); doc 7: pad 7
    assert out[0].n_blocks == 2 and out[0].padding_bytes == 0
    assert out[7].n_blocks == 3 and out[7].padding_bytes == 7
    assert out[0].sample_rate == 8000 and out[7].sample_rate == 16000
    assert out[7].n_comments == 2  # 1 + 7 % 3


# --- stream_new_users -----------------------------------------------------------


def test_stream_new_users_first_touch_survives_batch_splits(spark, tmp_path):
    """User 1's FIRST event (hour 10) lands in a different replay batch
    than their later event (hour 12) — event_id % 3 routes them apart —
    so a last-write-wins merge would mis-bucket them; min-merge must
    keep hour 10. User 2 appears only in hour 12."""
    rows = [
        (3, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),   # batch 0
        (1, "2024-01-01 12:00:00", 1, "view", 1.0, "{}"),   # batch 1
        (2, "2024-01-01 12:30:00", 2, "view", 1.0, "{}"),   # batch 2
    ]
    _write_events(spark, tmp_path, rows)
    out = {
        r.window_start: r.new_users
        for r in staged_r10.stream_new_users(spark, str(tmp_path)).collect()
    }
    assert out == {
        "2024-01-01 10:00:00": 1,
        "2024-01-01 12:00:00": 1,
    }
