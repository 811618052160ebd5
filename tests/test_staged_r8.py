"""Oracle + semantics tests for the queries in operators/staged_r8.py.
Every operator gets a constructed-fixture test computed by an
INDEPENDENT reference (hand math or a tiny Python reimplementation),
because a shared semantic bug hash-matches its own oracle (the q73/q77
lesson)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.operators import staged_r8
from tests.conftest import assert_query_matches_oracle, registered_in


@pytest.mark.parametrize("name", registered_in(staged_r8))
def test_staged_r8_matches_oracle(spark, duck, sf_dir, name):
    assert_query_matches_oracle(spark, duck, sf_dir, name)


def _write_part(spark, tmp_path, keys):
    rows = [
        (k, f"part{k}", "B", "T", 1, float(k))  # retailprice = key dollars
        for k in keys
    ]
    df = spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))


def test_bom_explosion_matches_reference_recursion(spark, tmp_path):
    """Pointer doubling must equal a plain Python recursion over the
    same synthetic tree — including a depth-3 chain (512 -> 64 -> 8 ->
    1) that forces at least two doubling rounds to compose jumps."""
    keys = list(range(20)) + [64, 65, 512]
    _write_part(spark, tmp_path, keys)

    # independent reference: naive per-node walk to the root
    agg = {}
    for k in keys:
        node, depth, prod = k, 0, 1
        while node >= 8:
            prod *= 1 + node % 3
            node //= 8
            depth += 1
        root = node
        a = agg.setdefault(root, [0, 0, 0, 0])
        a[0] += 1
        a[1] = max(a[1], depth)
        a[2] += prod
        a[3] += prod * 100 * k  # cents = 100 * key
    out = {
        r.root: r
        for r in staged_r8.q78_bom_explosion(spark, str(tmp_path)).collect()
    }
    assert set(out) == set(agg)
    for root, (n, d, w, cost) in agg.items():
        got = out[root]
        assert (got.n_parts, got.max_depth, got.total_weight,
                got.rolled_cost_cents) == (n, d, w, cost), root
    assert agg[1][1] == 3  # the fixture really has a depth-3 chain


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))


def test_event_pattern_nonoverlapping_counts(spark, tmp_path):
    """Non-overlapping leftmost matching: user 1's v,p,v,p counts 'vp'
    twice; user 2's v,c,e,p is no adjacent conversion but one noisy
    one; user 3's s,v,p satisfies signup-to-purchase AND the noisy
    conversion (the v starts inside the s..p span)."""
    t = "2024-01-01 00:00:{:02d}"
    rows, eid = [], 0
    for uid, seq in ((1, "vpvp"), (2, "vcep"), (3, "svp")):
        for i, ch in enumerate(seq):
            ty = {"v": "view", "p": "purchase", "c": "click",
                  "e": "error", "s": "signup"}[ch]
            rows.append((eid, t.format(i), uid, ty, 0.0, "{}"))
            eid += 1
    _write_events(spark, tmp_path, rows)
    out = {
        r.pattern_name: r
        for r in staged_r8.q79_event_pattern(spark, str(tmp_path)).collect()
    }
    adj = out["adjacent_conversion"]
    assert (adj.n_users_matched, adj.total_matches,
            adj.max_matches_per_user) == (2, 3, 2)  # u1: 2, u3: 1
    noisy = out["noisy_conversion"]
    assert (noisy.n_users_matched, noisy.total_matches) == (3, 4)
    s2p = out["signup_to_purchase"]
    assert (s2p.n_users_matched, s2p.total_matches) == (1, 1)


def test_skyline_dominance_and_tie_cases(spark, tmp_path):
    """Hand-computed 3-D skyline: strict dominance on at least one
    axis; equal-triple duplicates share one skyline point; an equal
    (date, price) point at a laxer priority is dominated by the
    stricter one."""
    rows = [
        # key, prio, date, price
        (1, "1-URGENT", "2024-01-01", 100.0),   # A: skyline
        (2, "1-URGENT", "2024-01-02", 99.0),    # B: dominated by A
        (3, "2-HIGH", "2024-01-01", 100.0),     # C: dominated by A (prio)
        (4, "2-HIGH", "2024-01-01", 150.0),     # D: skyline
        (5, "1-URGENT", "2024-01-03", 150.0),   # E: skyline (best prio)
        (6, "2-HIGH", "2024-01-02", 150.0),     # F: dominated by D (date)
        (7, "3-MEDIUM", "2024-01-05", 200.0),   # G: skyline, twice
        (8, "3-MEDIUM", "2024-01-05", 200.0),
    ]
    df = spark.createDataFrame(
        [(k, 1, "O", p, d, pr) for k, pr, d, p in rows],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = {
        (r.prio, r.order_date, r.price_cents): r.n_orders
        for r in staged_r8.q80_skyline_orders(spark, str(tmp_path)).collect()
    }
    assert got == {
        (1, "2024-01-01", 10000): 1,
        (2, "2024-01-01", 15000): 1,
        (1, "2024-01-03", 15000): 1,
        (3, "2024-01-05", 20000): 2,
    }


def test_decayed_engagement_exact_half_lives(spark, tmp_path):
    """Ages of exactly 0, 1, and 2 half-lives give decay factors 1e6,
    5e5, and 25e4 (pow(2, -1) and pow(2, -2) are exact doubles), so the
    score is hand-computable; a 13.99-day-old event still counts as 13
    whole days (integer day truncation)."""
    rows = [
        (1, "2024-02-26 12:00:00", 7, "view", 1.0, "{}"),  # age 0d
        (2, "2024-02-12 12:00:00", 7, "view", 1.0, "{}"),  # age 14d
        (3, "2024-01-29 12:00:00", 7, "view", 1.0, "{}"),  # age 28d
        (4, "2024-02-12 12:00:01", 7, "view", 1.0, "{}"),  # age 13d (trunc)
    ]
    _write_events(spark, tmp_path, rows)
    (r,) = staged_r8.q81_decayed_engagement(spark, str(tmp_path)).collect()
    d13 = round(math.pow(2, -13 / 14.0) * 1e6)
    assert r.decayed_cents_e6 == 100 * (1_000_000 + 500_000 + 250_000 + d13)
    assert r.n_events == 4
    assert r.last_seen == "2024-02-26 12:00:00"


def test_textrank_matches_python_reference(spark, tmp_path):
    """3 fixed-point iterations on a hand-sized graph must equal an
    independent Python reimplementation of the published update rule,
    and the hub word must outrank the leaves."""
    docs = ["a b", "a b", "a c"]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    edges = {("a", "b"): 2, ("a", "c"): 1}
    nbrs: dict = {}
    for (u, v), w in edges.items():
        nbrs.setdefault(u, {})[v] = w
        nbrs.setdefault(v, {})[u] = w
    wdeg = {u: sum(ws.values()) for u, ws in nbrs.items()}
    s = {u: 1_000_000 for u in nbrs}
    for _ in range(3):
        s = {
            v: 150_000
            + (850 * sum((s[u] * w) // wdeg[u]
                         for u, w in nbrs[v].items())) // 1000
            for v in nbrs
        }
    got = {
        r.token: (r.score_e6, r.weighted_degree)
        for r in staged_r8.ta_textrank_keywords(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {u: (s[u], wdeg[u]) for u in nbrs}
    assert got["a"][0] > got["b"][0] > got["c"][0]


def test_domain_temperature_flattens_shares(spark, tmp_path):
    """tau = 0.7 must lift the small domain above its proportional
    share and push the big one below; shares stay a partition of ~1e6
    ppm and the small domain oversamples (epochs > 1x)."""
    rows = [(0, "t", "en", "tiny", 100)] + [
        (i, "t", "en", "big", 100) for i in range(1, 129)
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.source: r
        for r in staged_r8.curate_domain_temperature(
            spark, str(tmp_path)
        ).collect()
    }
    w_tiny, w_big = 1_000_000, round(math.pow(128, 0.7) * 1e6)
    assert out["tiny"].share_ppm == (w_tiny * 1_000_000) // (w_tiny + w_big)
    prop_tiny = 1_000_000 // 129
    assert out["tiny"].share_ppm > prop_tiny
    assert out["big"].share_ppm < 1_000_000 - prop_tiny
    assert 0 <= 1_000_000 - (out["tiny"].share_ppm + out["big"].share_ppm) <= 2
    assert out["tiny"].epochs_e3 > 1000  # oversampled
    assert out["big"].epochs_e3 < 1000


def test_mp4_walker_grammar_and_rejection():
    import struct

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        _mp4_box,
        encode_mp4,
        parse_mp4_boxes,
    )

    good = encode_mp4(1500, [(64, 48)], 32)
    boxes, info = parse_mp4_boxes(good)
    assert [b[0] for b in boxes[:3]] == ["ftyp", "moov", "mvhd"]
    assert info["duration_ms"] == 1500 and info["n_tracks"] == 1
    assert info["mdat_bytes"] == 32 and info["max_depth"] == 4

    # largesize form parses to identical info (bar total size)
    big = encode_mp4(1500, [(64, 48)], 32, large_mdat=True)
    _, info2 = parse_mp4_boxes(big)
    assert info2["mdat_bytes"] == 32
    assert len(big) == len(good) + 8

    # size == 0 runs to end of scope
    free = struct.pack(">I", 0) + b"free" + b"\x00" * 12
    _, info3 = parse_mp4_boxes(_mp4_box(b"ftyp", b"isom") + free)
    assert info3["n_boxes"] == 2

    with pytest.raises(ValueError):
        parse_mp4_boxes(good[:-1])  # truncated final box
    with pytest.raises(ValueError):
        parse_mp4_boxes(struct.pack(">I", 8) + b"\x01bad")  # bad 4cc
    with pytest.raises(ValueError):
        parse_mp4_boxes(struct.pack(">I", 4) + b"free")  # size < header
    nested = b"\x00" * 0
    for _ in range(18):
        nested = _mp4_box(b"moov", nested)
    with pytest.raises(ValueError):
        parse_mp4_boxes(nested)  # nesting depth guard


def test_mp3_walker_grammar_and_rejection():
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_id3v2,
        encode_mp3_stream,
        mp3_frame_len,
        parse_mp3_frames,
    )

    s = encode_mp3_stream([(9, False), (9, True)], id3_len=5)
    info = parse_mp3_frames(s)
    assert info["n_frames"] == 2 and info["n_padded"] == 1
    assert info["id3_bytes"] == 15
    # padding adds exactly one byte: 128 kbps @ 44100 -> 417 + 1
    assert mp3_frame_len(9, 0, True) == mp3_frame_len(9, 0, False) + 1
    assert info["frame_bytes"] == 417 + 418
    # duration accumulates PER FRAME (frames may mix sample rates)
    assert info["duration_us"] == 2 * ((1152 * 1_000_000) // 44100)

    # hand-crafted mixed-rate stream: 44.1 kHz frame + 48 kHz frame
    f44 = bytes((0xFF, 0xFB, (9 << 4) | (0 << 2), 0x00)) + b"\x11" * (417 - 4)
    f48 = bytes((0xFF, 0xFB, (9 << 4) | (1 << 2), 0x00)) + b"\x22" * (
        144 * 128000 // 48000 - 4
    )
    mixed = parse_mp3_frames(f44 + f48)
    assert mixed["n_frames"] == 2
    assert mixed["duration_us"] == (
        1152 * 1_000_000 // 44100 + 1152 * 1_000_000 // 48000
    )

    with pytest.raises(ValueError):
        parse_mp3_frames(s + b"\x00")  # trailing slack
    with pytest.raises(ValueError):
        parse_mp3_frames(b"\xfe\xfb\x90\x00" + b"\x00" * 500)  # bad sync
    bad_br = bytearray(encode_mp3_stream([(9, False)]))
    bad_br[2] = 0xF0 | (bad_br[2] & 0x0F)  # bitrate index 15
    with pytest.raises(ValueError):
        parse_mp3_frames(bytes(bad_br))
    bad_id3 = bytearray(encode_id3v2(4) + encode_mp3_stream([(9, False)]))
    bad_id3[6] = 0x80  # non-syncsafe size byte
    with pytest.raises(ValueError):
        parse_mp3_frames(bytes(bad_id3))
    with pytest.raises(ValueError):
        parse_mp3_frames(encode_id3v2(0)[:10][:3] + b"\x03\x00")  # short ID3


def test_stream_quantile_histogram_interpolates_bucket_median(
    spark, tmp_path
):
    """Even-count group interpolates between the two middle buckets
    (med2x odd-sum path); odd-count group returns the middle bucket
    doubled; counts survive the 3-way batch split and re-merge."""
    rows = [
        (1, "2024-01-01 00:00:00", 1, "T", 0.1, "{}"),   # bucket 1
        (2, "2024-01-01 00:00:01", 1, "T", 0.1, "{}"),   # bucket 1
        (3, "2024-01-01 00:00:02", 1, "T", 0.35, "{}"),  # bucket 3
        (4, "2024-01-01 00:00:03", 2, "U", 0.1, "{}"),   # bucket 1
        (5, "2024-01-01 00:00:04", 2, "U", 0.35, "{}"),  # bucket 3
        (6, "2024-01-01 00:00:05", 2, "U", 0.55, "{}"),  # bucket 5
        (7, "2024-01-01 00:00:06", 2, "U", 0.75, "{}"),  # bucket 7
    ]
    _write_events(spark, tmp_path, rows)
    out = {
        r.event_type: r
        for r in staged_r8.stream_quantile_histogram(
            spark, str(tmp_path)
        ).collect()
    }
    assert out["T"].median_bucket2x == 2  # odd count: middle bucket 1, x2
    assert out["U"].median_bucket2x == 8  # even: (3 + 5) interpolated
    assert out["T"].n_events == 3 and out["U"].n_events == 4
    assert (out["U"].min_bucket, out["U"].max_bucket) == (1, 7)
