"""Oracle + semantics tests for the queries in operators/staged_r20.py,
with independent references: the EBML codec gets a hand-computed byte
layout, VINT width-boundary cases, and strictness fuzz; sessionization
gets a brute-force Python sessionizer over the same parquet; the Zipf
octave masses get a collections.Counter reference; the fertility census
gets a pure-Python regex recount; and the IVF-PQ rerank curve gets a
monotonicity invariant (more rerank budget can never lose recall)."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from eeecs485_p4_mapreduce_spark.operators import staged_r20
from eeecs485_p4_mapreduce_spark.operators.multimodal import (
    _ebml_size,
    encode_mkv,
    parse_mkv_ebml,
)
from tests.conftest import assert_query_matches_oracle, registered_in


@pytest.mark.parametrize("name", registered_in(staged_r20))
def test_staged_r20_matches_oracle(spark, duck, sf_dir, name):
    assert_query_matches_oracle(spark, duck, sf_dir, name)


# --- EBML / Matroska codec ---------------------------------------------------


def test_ebml_vint_width_boundaries():
    """Size VINT widths turn over at 2^(7k)-1 (the all-ones pattern is
    reserved for 'unknown size' and never emitted)."""
    assert len(_ebml_size(0)) == 1
    assert len(_ebml_size(126)) == 1
    assert len(_ebml_size(127)) == 2  # 127 would be the 1-byte all-ones
    assert len(_ebml_size(16382)) == 2
    assert len(_ebml_size(16383)) == 3
    # round trip through the parser's reader
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        _ebml_read_vint,
    )

    for n in (0, 1, 126, 127, 128, 16382, 16383, 2**28 - 2):
        v, w = _ebml_read_vint(_ebml_size(n), 0, keep_marker=False)
        assert (v, w) == (n, len(_ebml_size(n)))


def test_ebml_hand_computed_layout():
    """Byte-for-byte layout check: header(20) + segment(4 + vint +
    info(12) + clusters). One cluster of one 30-byte frame: block
    payload 34 -> block el 1+1+34=36, cluster content 4+36=40, cluster
    el 4+1+40=45, segment content 12+45=57 (<127 -> 1-byte vint),
    file = 20 + 4 + 1 + 57 = 82."""
    b = encode_mkv(1_000_000, [(500, [30])])
    assert len(b) == 82
    info = parse_mkv_ebml(b)
    # elements: EBML header + EBMLVersion + DocType + Segment + Info +
    # TimestampScale + Cluster + Timestamp + SimpleBlock = 9
    assert info == {
        "n_elements": 9,
        "n_clusters": 1,
        "n_blocks": 1,
        "frame_bytes": 30,
        "timestamp_scale": 1_000_000,
        "last_cluster_ts": 500,
        "file_bytes": 82,
    }


def test_ebml_strictness():
    b = encode_mkv(1_000_000, [(100, [40, 50]), (200, [60])])
    # truncation anywhere in the tail overruns a declared size
    with pytest.raises(ValueError):
        parse_mkv_ebml(b[:-1])
    # unknown element id
    with pytest.raises(ValueError):
        parse_mkv_ebml(b"\xec\x81\x00")  # Void element: real but unknown here
    # a block on a track other than 1
    bad = bytearray(b)
    idx = b.find(b"\xa3")  # first SimpleBlock id
    # block payload starts after id + 1-byte size; patch the track VINT
    bad[idx + 2] = 0x82  # track 2
    with pytest.raises(ValueError):
        parse_mkv_ebml(bytes(bad))
    # garbage appended after the segment
    with pytest.raises(ValueError):
        parse_mkv_ebml(b + b"\x00")


def test_ebml_fuzz_single_byte_flips_never_parse_silently_wrong():
    """Every single-byte flip either raises or changes a reported
    stat — the walker never returns the original stats from a
    corrupted file (frame fill bytes are the only don't-care bytes,
    and flipping one changes nothing the walker reports, so those
    flips must still PARSE; structural bytes must raise or shift)."""
    b = encode_mkv(700_000, [(120, [10])])
    ref = parse_mkv_ebml(b)
    silent_wrong = 0
    for i in range(len(b)):
        q = bytearray(b)
        q[i] ^= 0x01
        try:
            got = parse_mkv_ebml(bytes(q))
        except ValueError:
            continue
        if got == ref and q != bytearray(b):
            # the only bytes allowed to be don't-care: frame fill (10),
            # the block's relative timestamp (2, not reported), the
            # block flags byte (1), and the EBMLVersion payload (1)
            silent_wrong += 1
    assert silent_wrong <= 14, silent_wrong


# --- sessionization: brute-force Python reference ---------------------------


def test_sessionize_against_python_reference(spark, sf_dir):
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT user_id, event_id, epoch_us(ts) AS us "
        f"FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    by_user: dict = {}
    for u, e, us in rows:
        by_user.setdefault(u, []).append((us, e))
    expect = {}
    for u, evs in by_user.items():
        evs.sort()
        sessions = []
        for us, _ in evs:
            if not sessions or us - sessions[-1][-1] > staged_r20.SESSION_GAP_US:
                sessions.append([us])
            else:
                sessions[-1].append(us)
        expect[u] = (
            len(evs),
            len(sessions),
            max(len(s) for s in sessions),
            sum(s[-1] - s[0] for s in sessions),
        )
    got = {
        r["user_id"]: (
            r["n_events"],
            r["n_sessions"],
            r["max_session_events"],
            r["active_us"],
        )
        for r in staged_r20.q111_sessionize(spark, sf_dir)
        .toPandas()
        .to_dict("records")
    }
    assert got == expect


# --- Zipf octaves: Counter reference ----------------------------------------


def test_zipf_rank_mass_against_counter(spark, sf_dir):
    import duckdb

    con = duckdb.connect()
    texts = con.sql(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    c: Counter = Counter()
    for (t,) in texts:
        for tok in re.split(r"[ \t]", t.lower()):
            if tok:
                c[tok] += 1
    ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(c.values())
    octs: dict = {}
    for i, (_, freq) in enumerate(ranked):
        o = (i + 1).bit_length() - 1
        n, m = octs.get(o, (0, 0))
        octs[o] = (n + 1, m + freq)
    got = {
        r["octave"]: (r["n_tokens"], r["mass"])
        for r in staged_r20.ta_zipf_rank_mass(spark, sf_dir)
        .toPandas()
        .to_dict("records")
    }
    assert got == octs
    df = staged_r20.ta_zipf_rank_mass(spark, sf_dir).toPandas()
    assert int(df["mass"].sum()) == total  # octaves partition the ranks


# --- fertility census: pure-Python regex recount -----------------------------


def test_fertility_census_against_python(spark, sf_dir):
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT lang, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    bpe_pat = re.compile(r"[a-z0-9]+|[^a-z0-9 ]")
    word_pat = re.compile(r"[a-z0-9]+")
    agg: dict = {}
    for lang, text in rows:
        d = agg.setdefault(lang, [0, 0, 0, 0])
        d[0] += 1
        d[1] += len(word_pat.findall(text))
        d[2] += len(bpe_pat.findall(text))
        d[3] += len(text.encode("utf-8"))
    got = {
        r["lang"]: (r["n_docs"], r["n_words"], r["n_bpe_tokens"], r["n_bytes"])
        for r in staged_r20.ta_fertility_census(spark, sf_dir)
        .toPandas()
        .to_dict("records")
    }
    assert got == {k: tuple(v) for k, v in agg.items()}


# --- IVF-PQ rerank curve: monotonicity invariant -----------------------------


def test_rerank_recall_monotone_in_budget(spark, sf_dir):
    """A bigger exact-rerank budget can only add candidates the exact
    scorer may promote, so recall@k is non-decreasing in R — the
    invariant that makes the curve a tuning instrument."""
    df = (
        staged_r20.sim_ivfpq_rerank_recall(spark, sf_dir)
        .toPandas()
        .sort_values(["query_id", "rerank_r"])
    )
    assert set(df["rerank_r"]) == set(staged_r20.RERANK_RS)
    for _, grp in df.groupby("query_id"):
        overlaps = grp.sort_values("rerank_r")["n_overlap"].tolist()
        assert overlaps == sorted(overlaps), overlaps
        assert all(0 <= o <= 10 for o in overlaps)


# --- partition histogram: hashlib reference ----------------------------------


def test_partition_histogram_against_hashlib(spark, sf_dir):
    """The partition assignment must agree with a hashlib recount of
    the repo's hash32 routing (first 8 md5 hex chars mod W — the same
    32-bit convention every fingerprint in functions/text.py uses)
    key for key, and the loads must sum to the table size."""
    import hashlib

    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT user_id FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    expect: dict = {}
    keys: dict = {}
    for (u,) in rows:
        p = int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % (
            staged_r20.SKEW_HIST_W
        )
        expect[p] = expect.get(p, 0) + 1
        keys.setdefault(p, set()).add(u)
    got = {
        r["partition_id"]: (r["n_rows"], r["n_keys"])
        for r in staged_r20.skew_partition_histogram(spark, sf_dir)
        .toPandas()
        .to_dict("records")
    }
    assert got == {p: (n, len(keys[p])) for p, n in expect.items()}
    assert sum(n for n, _ in got.values()) == len(rows)


# --- SCD2: structural invariants ---------------------------------------------


def test_scd2_interval_invariants(spark, sf_dir):
    """Per user: versions are 1..n contiguous, intervals chain exactly
    (valid_to == next valid_from, -1 only on the single current row),
    adjacent versions change tier, and version event counts sum to the
    user's event count."""
    import duckdb

    df = (
        staged_r20.q113_scd2_dimension(spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "version"])
    )
    con = duckdb.connect()
    totals = dict(
        con.sql(
            f"SELECT user_id, count(*) FROM "
            f"read_parquet('{sf_dir}/events.parquet') GROUP BY user_id"
        ).fetchall()
    )
    for uid, grp in df.groupby("user_id"):
        assert grp["version"].tolist() == list(range(1, len(grp) + 1))
        assert grp["is_current"].sum() == 1
        assert grp.iloc[-1]["is_current"] == 1
        assert grp.iloc[-1]["valid_to_us"] == -1
        for i in range(len(grp) - 1):
            assert grp.iloc[i]["valid_to_us"] == grp.iloc[i + 1][
                "valid_from_us"
            ]
            assert grp.iloc[i]["tier"] != grp.iloc[i + 1]["tier"]
        assert grp["n_events"].sum() == totals[uid]


# --- protobuf wire codec ------------------------------------------------------

PB_EDGE_ROWS = [
    (0, "web", None, 0, [0]),
    (-1, "web", "", -1, [1, 127, 128, 16383, 16384]),
    (2**62, "books", 'pró ✓ "q"', -(2**40), [2**63, 2**64 - 1]),
    (-(2**63), "s", "line\nbreak", 2**62, []),
    (63, "x" * 300, "y" * 300, -63, [5] * 40),  # 2-byte length varints
]


def test_pb_roundtrip_edge_values():
    from eeecs485_p4_mapreduce_spark.operators.staged_r20 import (
        decode_pb_blob,
        encode_pb_blob,
    )

    b = encode_pb_blob(PB_EDGE_ROWS)
    assert decode_pb_blob(b) == PB_EDGE_ROWS


def test_pb_negative_int64_is_ten_bytes():
    from eeecs485_p4_mapreduce_spark.operators.staged_r20 import _pb_varint

    for n in (-1, -(2**40), -(2**63)):
        assert len(_pb_varint(n)) == 10  # the spec's two's-complement rule
    assert len(_pb_varint(0)) == 1
    assert len(_pb_varint(127)) == 1
    assert len(_pb_varint(128)) == 2


def test_pb_zigzag_sign_boundaries():
    from eeecs485_p4_mapreduce_spark.operators.staged_r20 import (
        _pb_unzigzag,
        _pb_zigzag,
    )

    # spec examples: 0->0, -1->1, 1->2, -2->3
    assert [_pb_zigzag(n) for n in (0, -1, 1, -2, 2)] == [0, 1, 2, 3, 4]
    for n in (0, -1, 1, 2**62, -(2**62), 2**63 - 1, -(2**63)):
        assert _pb_unzigzag(_pb_zigzag(n)) == n


def test_pb_strictness():
    from eeecs485_p4_mapreduce_spark.operators.staged_r20 import (
        _pb_varint,
        decode_pb_blob,
        encode_pb_blob,
    )

    b = encode_pb_blob(PB_EDGE_ROWS)
    with pytest.raises(ValueError):
        decode_pb_blob(b[:-1])  # truncation
    # unknown field number 6 (varint 0x30)
    msg = _pb_varint(6 << 3 | 0) + _pb_varint(1)
    with pytest.raises(ValueError):
        decode_pb_blob(_pb_varint(len(msg)) + msg)
    # missing mandatory field (only field 1 present)
    msg = _pb_varint(1 << 3 | 0) + _pb_varint(7)
    with pytest.raises(ValueError):
        decode_pb_blob(_pb_varint(len(msg)) + msg)
    # wrong wire type for field 2
    msg = _pb_varint(2 << 3 | 0) + _pb_varint(7)
    with pytest.raises(ValueError):
        decode_pb_blob(_pb_varint(len(msg)) + msg)
    # varint longer than 10 bytes
    with pytest.raises(ValueError):
        decode_pb_blob(b"\xff" * 11)


def test_pb_single_byte_mutation_fuzz():
    """Corruption must raise or change decoded data — never return the
    original rows from different bytes (string payload bytes decode to
    different strings, caught by the data comparison)."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r20 import (
        decode_pb_blob,
        encode_pb_blob,
    )

    b = encode_pb_blob(PB_EDGE_ROWS[:3])
    silent = 0
    for i in range(len(b)):
        q = bytearray(b)
        q[i] ^= 0xFF
        try:
            if decode_pb_blob(bytes(q)) == PB_EDGE_ROWS[:3]:
                silent += 1
        except (ValueError, UnicodeDecodeError):
            continue
    assert silent == 0, silent


# --- streaming SCD2: merge really happens incrementally ----------------------


def test_stream_scd2_processes_multiple_batches(spark, sf_dir, monkeypatch):
    """The batch-equivalence oracle is only meaningful if the stream
    actually merged MULTIPLE time slices — a degenerate single batch
    would make the test vacuous. Count merge invocations."""
    calls = []
    orig = staged_r20._scd2_merge

    def spy(dim, bver):
        calls.append(dim is None)
        return orig(dim, bver)

    monkeypatch.setattr(staged_r20, "_scd2_merge", spy)
    df = staged_r20.stream_scd2_incremental(spark, sf_dir)
    n = df.count()
    assert n > 0
    assert len(calls) >= 3, f"expected >=3 micro-batches, got {len(calls)}"
    assert calls[0] is True  # first batch initializes
    assert all(c is False for c in calls[1:])  # the rest truly merge


# --- skyline: brute-force dominance reference on adversarial points ---------


def test_skyline_dominance_edge_cases(spark):
    """Synthetic point set exercising every tie shape: duplicate points
    (both survive), equal-x lower-y (dominated), equal-y lower-x
    (dominated), a staircase frontier, and an interior point. Checked
    against the quadratic textbook dominance definition."""
    pts = [
        (1, 10, 1),  # staircase member (highest y)
        (2, 10, 1),  # duplicate x,y of id 1's coords? no: unique ids
        (3, 8, 3),
        (4, 8, 3),   # exact duplicate of id 3 -> BOTH survive
        (5, 8, 2),   # equal-x lower-y -> dominated by 3/4
        (6, 5, 3),   # equal-y lower-x -> dominated by 3/4
        (7, 12, 0),  # staircase member (highest x)
        (8, 6, 1),   # interior -> dominated
        (9, 10, 1),  # duplicate of (10,1): survives iff (10,1) is on
                     # the frontier and nothing dominates it
    ]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        r["id"]
        for r in staged_r20._skyline_2d(df, "x", "y").toPandas().to_dict(
            "records"
        )
    }
    # quadratic reference
    def dominated(p, q):
        return (
            q[1] >= p[1]
            and q[2] >= p[2]
            and (q[1] > p[1] or q[2] > p[2])
        )

    expect = {
        p[0] for p in pts if not any(dominated(p, q) for q in pts if q != p)
    }
    assert got == expect
    # the adversarial shapes really are present
    assert {3, 4} <= expect  # duplicates both survive
    assert 5 not in expect and 6 not in expect and 8 not in expect


# --- survivorship: consistency with the registered dedup operators -----------


def test_survivorship_consistent_with_registered_dedup(spark, sf_dir):
    """The report's totals must reconcile with the registered operators
    it composes: exact-dropped = docs minus distinct md5 fingerprints,
    and survivors = |dedup_near_survivors ∩ exact keepers| computed
    from the registered near-survivor query itself."""
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        dedup_near_survivors,
    )
    from pyspark.sql import functions as F
    from eeecs485_p4_mapreduce_spark.catalog import load_table

    rep = staged_r20.curate_survivorship_report(spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    n_fp = docs.select(F.md5("text")).distinct().count()
    assert int(rep["n_docs"].sum()) == n_docs
    assert int(rep["n_exact_dropped"].sum()) == n_docs - n_fp
    near_surv = dedup_near_survivors(spark, sf_dir).select("doc_id")
    keepers = (
        docs.withColumn(
            "k",
            (
                F.col("doc_id")
                == F.min("doc_id").over(
                    __import__("pyspark").sql.window.Window.partitionBy(
                        F.md5("text")
                    )
                )
            ).cast("int"),
        )
        .filter("k = 1")
        .select("doc_id")
    )
    expected_survivors = near_surv.join(keepers, "doc_id", "left_semi").count()
    assert int(rep["n_survivors"].sum()) == expected_survivors


# --- QOI codec (r10 additions) -----------------------------------------------


def test_qoi_hand_computed_layout():
    """Byte-for-byte: 4x3 alternating-row image -> RGB + RUN(3) + DIFF
    + RUN(3) + INDEX + RUN(3) = 6 chunks; file = 14 header + 4 (RGB) +
    1 (DIFF) + 1 (INDEX) + 3 (RUNs) + 8 marker = 31 bytes."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_qoi,
        parse_qoi,
    )

    a, b = (10, 20, 30), (10, 21, 30)
    pixels = [(a if y % 2 == 0 else b) for y in range(3) for _ in range(4)]
    data = encode_qoi(4, 3, pixels)
    assert len(data) == 31
    info = parse_qoi(data)
    assert info["n_chunks"] == 6
    assert (info["n_rgb"], info["n_diff"], info["n_index"], info["n_run"]) \
        == (1, 1, 1, 3)
    assert info["pixel_checksum"] == sum(sum(p) for p in pixels)


def test_qoi_roundtrip_fuzz_all_ops():
    """Pseudo-random images must decode to the exact source checksum,
    and across the corpus every RGB-image op type (RGB, INDEX, DIFF,
    LUMA, RUN) must fire at least once — proving the encoder emits and
    the decoder handles the full op set, not just the fixture's."""
    import random

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_qoi,
        parse_qoi,
    )

    seen = {"n_rgb": 0, "n_index": 0, "n_diff": 0, "n_luma": 0, "n_run": 0}
    for seed in range(12):
        rng = random.Random(seed)
        w, h = rng.randint(1, 40), rng.randint(1, 20)
        pixels = []
        px = (0, 0, 0)
        for _ in range(w * h):
            mode = rng.randrange(5)
            if mode == 0:  # exact repeat -> RUN material
                pass
            elif mode == 1:  # tiny delta -> DIFF material
                px = tuple((c + rng.randint(-2, 1)) % 256 for c in px)
            elif mode == 2:  # luma-range delta -> LUMA material
                dg = rng.randint(-32, 31)
                px = (
                    (px[0] + dg + rng.randint(-8, 7)) % 256,
                    (px[1] + dg) % 256,
                    (px[2] + dg + rng.randint(-8, 7)) % 256,
                )
            elif mode == 3:  # revisit an old color -> INDEX material
                px = pixels[rng.randrange(len(pixels))] if pixels else px
            else:  # jump -> RGB material
                px = tuple(rng.randrange(256) for _ in range(3))
            pixels.append(px)
        info = parse_qoi(encode_qoi(w, h, pixels))
        assert info["n_pixels"] == w * h
        assert info["pixel_checksum"] == sum(sum(p) for p in pixels)
        assert info["n_rgba"] == 0
        for k in seen:
            seen[k] += info[k]
    assert all(v > 0 for v in seen.values()), seen


def test_qoi_long_run_splits_at_62():
    """Runs cap at 62 (63/64 collide with the RGB/RGBA tags): 200
    identical pixels after the first = 199 run-pixels -> runs of
    62+62+62+13 = 4 RUN chunks."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_qoi,
        parse_qoi,
    )

    # (200, 5, 100) from the seed pixel (0,0,0): dr wraps to -56, far
    # outside LUMA's dr-dg range -> forced QOI_OP_RGB first.
    info = parse_qoi(encode_qoi(20, 10, [(200, 5, 100)] * 200))
    assert info["n_run"] == 4
    assert info["n_rgb"] == 1
    assert info["n_pixels"] == 200


def test_qoi_strictness():
    """Malformed payloads must raise, never return partial stats."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_qoi,
        parse_qoi,
    )

    good = encode_qoi(4, 3, [(1, 2, 3)] * 12)
    with pytest.raises(ValueError):
        parse_qoi(b"qoix" + good[4:])  # bad magic
    with pytest.raises(ValueError):
        parse_qoi(good[:-8] + b"\x00" * 7 + b"\x02")  # bad end marker
    with pytest.raises(ValueError):
        parse_qoi(good[:14] + good[-8:])  # pixel stream missing
    with pytest.raises(ValueError):
        parse_qoi(good[:-8] + b"\x00" + good[-8:])  # trailing junk


# --- q116 gini split ---------------------------------------------------------


def test_gini_split_float_reference(spark, duck, sf_dir):
    """Independent reference: recompute every split's weighted Gini in
    float arithmetic from the raw orders rows; the integer-ppm column
    must agree within the quantization bound (p is floored to ppm and
    the weighted mix floors twice -> a few-ppm slack), and the BEST
    split must be the same bucket."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r20 import (
        q116_gini_split,
    )

    got = q116_gini_split(spark, sf_dir).toPandas()
    rows = duck.sql(
        "SELECT CAST(round(o_totalprice*100) AS BIGINT)//2500000 AS bucket,"
        " count(*) AS n,"
        " sum(CASE WHEN o_orderpriority='1-URGENT' THEN 1 ELSE 0 END) AS p"
        " FROM orders GROUP BY 1 ORDER BY 1"
    ).df()
    cum_n = cum_p = 0
    nt, pt = int(rows.n.sum()), int(rows.p.sum())
    ref = {}
    for _, r in rows.iterrows():
        cum_n += int(r.n)
        cum_p += int(r.p)
        if cum_n == nt:
            continue
        gl = 2 * (cum_p / cum_n) * (1 - cum_p / cum_n)
        pr, nr = pt - cum_p, nt - cum_n
        gr = 2 * (pr / nr) * (1 - pr / nr)
        ref[int(r.bucket)] = (cum_n / nt) * gl + (nr / nt) * gr
    assert set(got.split_bucket) == set(ref)
    for _, r in got.iterrows():
        assert abs(r.weighted_gini_ppm / 1e6 - ref[r.split_bucket]) < 5e-6
    best_int = got.loc[got.weighted_gini_ppm.idxmin(), "split_bucket"]
    best_ref = min(ref, key=ref.get)
    assert best_int == best_ref


# --- q117 autocorrelation ----------------------------------------------------


def test_autocorrelation_pure_python_reference(spark, duck, sf_dir):
    """Independent reference: rebuild the normalized daily series in
    pure Python from the parquet and mirror the integer two-step ppm
    arithmetic exactly — every acf_ppm value must match bit-for-bit,
    and lag-0 sanity: den > 0 and |acf| <= 1e6 (Cauchy-Schwarz)."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r20 import (
        q117_autocorrelation,
    )

    got = (
        q117_autocorrelation(spark, sf_dir)
        .toPandas()
        .sort_values("lag")
        .reset_index(drop=True)
    )
    daily = duck.sql(
        "SELECT CAST(epoch_us(l_shipdate) AS BIGINT)//86400000000 AS day,"
        " CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)"
        "  AS cents"
        " FROM lineitem GROUP BY 1 ORDER BY 1"
    ).df()
    cents = [int(c) for c in daily.cents]
    mx = max(cents)
    x = [c * 100 // mx for c in cents]
    n, s = len(x), sum(x)
    dev = [n * xi - s for xi in x]
    den = sum(d * d for d in dev)
    assert den > 0
    for _, r in got.iterrows():
        k = int(r.lag)
        num = sum(dev[t] * dev[t + k] for t in range(n - k))
        assert int(r.n_pairs) == n - k
        assert int(r.num) == num
        assert int(r.den) == den
        sign = -1 if num < 0 else 1
        a = abs(num)
        expect = sign * (
            ((a * 1000) // den) * 1000 + (((a * 1000) % den) * 1000) // den
        )
        assert int(r.acf_ppm) == expect
        assert abs(int(r.acf_ppm)) <= 1_000_000


# --- skew isolated hot join --------------------------------------------------


def test_isolated_hot_join_paths_and_totals(spark, duck, sf_dir):
    """The hot path must actually carry the synthetic hot key (~half
    the fact rows), and collapsing is_hot must reproduce the plain
    join's per-segment totals (isolation is correctness-neutral)."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r20 import (
        skew_isolated_hot_join,
    )

    got = skew_isolated_hot_join(spark, sf_dir).toPandas()
    hot = int(got[got.is_hot == 1].n_events.sum())
    total = int(got.n_events.sum())
    assert 0.4 * total < hot < 0.6 * total
    plain = duck.sql(
        "WITH ev AS (SELECT CASE WHEN event_id % 2 = 0 THEN 0"
        "  ELSE user_id END AS user_id, value FROM events)"
        " SELECT c_mktsegment, count(*) AS n"
        " FROM ev JOIN customer ON user_id = c_custkey GROUP BY 1"
    ).df()
    merged = got.groupby("c_mktsegment").n_events.sum()
    for _, r in plain.iterrows():
        assert int(merged[r.c_mktsegment]) == int(r.n)


def test_isolated_hot_join_plan_shape(spark, sf_dir):
    """Plan gate: the hot path's customer join must be broadcast (the
    whole point — hot fact rows never shuffle). At least one broadcast
    hash join over the dimension appears in the physical plan."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r20 import (
        skew_isolated_hot_join,
    )

    plan = skew_isolated_hot_join(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# --- dedup prefix-filter join ------------------------------------------------


def test_prefix_filter_theorem_pure_python():
    """Independent check of the prefix-filter theorem on a controlled
    corpus, at t = 1/2 where prefixes are longest (the operator runs
    t = 4/5; the theorem is per-t, and the t = 1/2 instance is the
    tightest small-set exercise): for every pair with Jaccard >= 1/2,
    the rarest-first prefixes (length n - ceil(n/2) + 1 = n//2 + 1)
    must intersect."""
    import itertools

    docs = {
        1: {"a", "b", "c", "d"},
        2: {"a", "b", "c", "e"},      # J(1,2) = 3/5 >= 1/2
        3: {"x", "y", "z"},
        4: {"x", "y", "z", "w", "q"},  # J(3,4) = 3/5 >= 1/2
        5: {"a", "x"},                # J < 1/2 with everyone
    }
    df = {}
    for ts in docs.values():
        for t in ts:
            df[t] = df.get(t, 0) + 1
    prefixes = {
        d: set(sorted(ts, key=lambda t: (df[t], t))[: len(ts) // 2 + 1])
        for d, ts in docs.items()
    }
    for a, b in itertools.combinations(docs, 2):
        inter = len(docs[a] & docs[b])
        union = len(docs[a] | docs[b])
        if inter * 2 >= union:
            assert prefixes[a] & prefixes[b], (a, b)


def test_prefix_filter_selectivity(spark, duck, sf_dir):
    """The point of the prefix index: it must generate strictly fewer
    candidate pairs than the full inverted index while (per the
    parametrized oracle test) losing no qualifying pair. Also pins
    that every reported pair really meets t >= 1/2 exactly."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r20 import (
        dedup_prefix_filter_join,
    )

    got = dedup_prefix_filter_join(spark, sf_dir).toPandas()
    assert len(got) > 0
    for _, r in got.iterrows():
        assert 5 * r.n_common >= 4 * (r.n_a + r.n_b - r.n_common)
        assert r.jaccard_ppm >= 800_000
    full_cands = duck.sql(
        """
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(toks) >= 3 THEN
                   list_transform(range(len(toks) - 2),
                     i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                   ELSE [] END) AS shingles
          FROM (SELECT doc_id,
                       string_split_regex(lower(text), '[ \t]') AS toks
                FROM documents)
        ), ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh)
        SELECT count(*) FROM (
          SELECT DISTINCT a.doc_id, b.doc_id
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id)
        """
    ).fetchone()[0]
    from pyspark.sql import functions as F

    docs = load_documents_shingled(spark, sf_dir)
    # Re-derive the operator's candidate count (prefix postings only).
    ex = docs.select("doc_id", F.explode("prefix").alias("s"))
    n_prefix_cands = (
        ex.alias("a")
        .join(ex.alias("b"), "s")
        .where("a.doc_id < b.doc_id")
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert n_prefix_cands < full_cands
    assert n_prefix_cands >= len(got)


def load_documents_shingled(spark, sf_dir):
    """Helper: (doc_id, prefix) with the operator's exact ordering,
    hashing, and t = 4/5 prefix length."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from eeecs485_p4_mapreduce_spark.catalog import load_table
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        _SPARK_TOKS,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.selectExpr(
        "doc_id", f"{word_shingles(_SPARK_TOKS, 3)} AS shingles"
    )
    ex = sh.select(
        "doc_id", F.explode("shingles").alias("s"),
        F.size("shingles").alias("n"),
    ).select(
        "doc_id",
        F.expr(
            "cast(conv(substring(md5(s), 1, 12), 16, 10) as bigint)"
        ).alias("h"),
        "n",
    )
    df_tbl = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "h")
    )
    return (
        ex.join(df_tbl, "h")
        .withColumn("rn", rn)
        .where("rn <= n - (4 * n + 4) div 5 + 1")
        .groupBy("doc_id")
        .agg(F.collect_list("h").alias("prefix"))
    )


# --- Theil-Sen + Mann-Kendall ------------------------------------------------


def _daily_cents(sf_dir):
    import duckdb

    con = duckdb.connect()
    return [
        int(c)
        for (c,) in con.sql(
            f"SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT))"
            f" AS BIGINT) FROM read_parquet('{sf_dir}/lineitem.parquet')"
            f" GROUP BY CAST(epoch_us(l_shipdate) AS BIGINT)//86400000000"
            f" ORDER BY 1 DESC"
        ).fetchall()
    ]


def test_theil_sen_numpy_reference(spark, sf_dir):
    """Independent reference: rebuild the quantized series and compute
    every pairwise slope with numpy integer arithmetic, mirroring the
    sign-split floor division bit-for-bit; the three order statistics
    must match exactly."""
    import duckdb

    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.staged_r20 import (
        q118_theil_sen,
    )

    got = q118_theil_sen(spark, sf_dir).toPandas().iloc[0]
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT CAST(epoch_us(l_shipdate) AS BIGINT)//86400000000 AS d,"
        f" CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)"
        f" AS c FROM read_parquet('{sf_dir}/lineitem.parquet')"
        f" GROUP BY 1 ORDER BY 1"
    ).fetchall()
    cents = np.array([c for _, c in rows], dtype=np.int64)
    y = cents * 10000 // cents.max()
    n = len(y)
    t = np.arange(1, n + 1, dtype=np.int64)
    i, j = np.triu_indices(n, k=1)
    dy = y[j] - y[i]
    dx = t[j] - t[i]
    slopes = np.where(dy < 0, -1, 1) * ((np.abs(dy) * 1000000) // dx)
    slopes.sort()
    np_pairs = len(slopes)
    assert int(got.n_days) == n
    assert int(got.n_pairs) == np_pairs
    assert int(got.slope_p25_ppm) == int(slopes[(np_pairs + 1) // 4 - 1])
    assert int(got.slope_median_ppm) == int(slopes[(np_pairs + 1) // 2 - 1])
    assert int(got.slope_p75_ppm) == int(
        slopes[(3 * (np_pairs + 1)) // 4 - 1]
    )


def test_mann_kendall_numpy_reference(spark, sf_dir):
    """Independent reference for S, the concordance split, and tau;
    also the structural identities S = C - D and C + D + ties =
    n(n-1)/2."""
    import duckdb

    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.staged_r20 import (
        q119_mann_kendall,
    )

    got = q119_mann_kendall(spark, sf_dir).toPandas().iloc[0]
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT CAST(epoch_us(l_shipdate) AS BIGINT)//86400000000 AS d,"
        f" CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)"
        f" AS c FROM read_parquet('{sf_dir}/lineitem.parquet')"
        f" GROUP BY 1 ORDER BY 1"
    ).fetchall()
    y = np.array([c for _, c in rows], dtype=np.int64)
    n = len(y)
    i, j = np.triu_indices(n, k=1)
    sgn = np.sign(y[j] - y[i])
    s = int(sgn.sum())
    npairs = n * (n - 1) // 2
    assert int(got.n_days) == n
    assert int(got.n_pairs) == npairs
    assert int(got.s_stat) == s
    assert int(got.n_concordant) == int((sgn == 1).sum())
    assert int(got.n_discordant) == int((sgn == -1).sum())
    assert int(got.n_concordant) - int(got.n_discordant) == s
    assert (
        int(got.n_concordant) + int(got.n_discordant) + int(got.n_ties)
        == npairs
    )
    expect_tau = (-1 if s < 0 else 1) * ((abs(s) * 1000000) // npairs)
    assert int(got.tau_ppm) == expect_tau
    assert abs(int(got.tau_ppm)) <= 1_000_000


# --- gzip multi-member codec -------------------------------------------------


def test_gzip_independent_decoder_roundtrip():
    """Python's own gzip module (an independent RFC 1952 decoder) must
    reproduce the concatenated payloads from our encoder's bytes,
    including the multi-block stored-deflate path (payload > 65535)."""
    import gzip as gz

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_gzip_members,
        parse_gzip_members,
    )

    members = [
        (bytes(i % 251 for i in range(120)), "part0.txt", 42),
        (bytes((7 + i) % 251 for i in range(70_000)), None, 43),
        (b"", "empty.bin", 44),  # zero-length member is legal
    ]
    data = encode_gzip_members(members)
    assert gz.decompress(data) == b"".join(p for p, _, _ in members)
    info = parse_gzip_members(data)
    assert info["n_members"] == 3
    assert info["n_named"] == 2
    assert info["payload_bytes"] == 70_120
    # closed form: 153 + (10 + 5+65535 + 5+4465 + 8) + (10+10+5+0+8)
    assert info["file_bytes"] == len(data) == 153 + 70_028 + 33


def test_gzip_strictness():
    """CRC, ISIZE, magic, reserved-FLG and truncation must all raise."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_gzip_members,
        parse_gzip_members,
    )

    good = encode_gzip_members([(b"hello gzip world", "a.txt", 7)])
    with pytest.raises(ValueError):
        parse_gzip_members(b"\x1f\x8c" + good[2:])  # magic
    bad_flg = bytearray(good)
    bad_flg[3] |= 0x20  # reserved bit
    with pytest.raises(ValueError):
        parse_gzip_members(bytes(bad_flg))
    bad_crc = bytearray(good)
    bad_crc[-8] ^= 0x01
    with pytest.raises(ValueError):
        parse_gzip_members(bytes(bad_crc))
    bad_isize = bytearray(good)
    bad_isize[-1] ^= 0x01
    with pytest.raises(ValueError):
        parse_gzip_members(bytes(bad_isize))
    with pytest.raises(ValueError):
        parse_gzip_members(good[:-4])  # truncated trailer
    with pytest.raises((ValueError, Exception)):
        parse_gzip_members(good + b"\x1f\x8b\x08")  # partial 2nd member
