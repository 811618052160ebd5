"""Oracle + semantics tests for the queries in operators/staged_r11.py.
Every operator gets a constructed-fixture test computed by an
INDEPENDENT reference (hand math or a tiny Python reimplementation),
because a shared semantic bug hash-matches its own oracle (the q73/q77
lesson)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.operators import staged_r11
from eeecs485_p4_mapreduce_spark.operators.multimodal import (
    encode_ogg,
    encode_pdf,
    parse_ogg_pages,
    parse_pdf_xref,
)
from tests.conftest import assert_query_matches_oracle, registered_in


@pytest.mark.parametrize("name", registered_in(staged_r11))
def test_staged_r11_matches_oracle(spark, duck, sf_dir, name):
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


# --- q87: RFM ---------------------------------------------------------------


def _py_thresholds(values, k):
    """Independent reference of operators/quantiles.exact_thresholds:
    t_j = min{v : cm(v) * k >= n * j} over the sorted value multiset."""
    vs = sorted(values)
    n = len(vs)
    thr = []
    for j in range(1, k):
        cm = 0
        for v in vs:
            cm += 1
            if cm * k >= n * j:
                thr.append(v)
                break
    return thr


def _py_score(v, thr, k, descending=False):
    below = sum(1 for t in thr if v > t)
    return k - below if descending else 1 + below


def test_rfm_codes_match_python_threshold_reference(spark, tmp_path):
    """7 users with distinct recency/frequency/monetary profiles: the
    composed codes must equal an independent Python implementation of
    the tie-aware quantile-threshold scoring rule."""
    rows = []
    eid = 0
    for u in range(7):
        # user u: last event on day u+1 (user 6 most recent), u+1
        # events, spend (u+1)*10 dollars total
        for j in range(u + 1):
            rows.append(
                (
                    eid,
                    f"2024-01-0{u + 1} 00:00:00",
                    u,
                    "view",
                    (u + 1) * 10.0 / (u + 1),
                    "{}",
                )
            )
            eid += 1
    # user 7 duplicates user 6's profile exactly (day 7, 7 events,
    # $10 each) -> tie-aware scoring MUST give both the same code
    for _ in range(7):
        rows.append((eid, "2024-01-07 00:00:00", 7, "view", 10.0, "{}"))
        eid += 1
    _write_events(spark, tmp_path, rows)
    # Python reference
    per_user = {
        u: {
            "rec": 7 - (u + 1),  # dmax = day 7
            "freq": u + 1,
            "cents": (u + 1) * 1000,
        }
        for u in range(7)
    }
    per_user[7] = dict(per_user[6])
    r_thr = _py_thresholds([p["rec"] for p in per_user.values()], 5)
    f_thr = _py_thresholds([p["freq"] for p in per_user.values()], 5)
    m_thr = _py_thresholds([p["cents"] for p in per_user.values()], 5)
    exp_codes = {}
    for u, p in per_user.items():
        code = (
            _py_score(p["rec"], r_thr, 5, descending=True) * 100
            + _py_score(p["freq"], f_thr, 5) * 10
            + _py_score(p["cents"], m_thr, 5)
        )
        e = exp_codes.setdefault(code, [0, 0, 10**9])
        e[0] += 1
        e[1] += p["cents"]
        e[2] = min(e[2], u)
    # users 6 and 7 are identical in every dimension -> one shared code
    assert any(e[0] == 2 for e in exp_codes.values())
    out = {
        r.rfm_code: (r.n_users, r.sum_cents, r.first_user)
        for r in staged_r11.q87_rfm_segmentation(
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {c: tuple(e) for c, e in exp_codes.items()}


# --- q88: CUSUM -------------------------------------------------------------


def test_cusum_finds_level_shift_day(spark, tmp_path):
    """5 low days (100 cents) then 5 high days (200 cents): the scaled
    CUSUM |S'| peaks at the last low day (x=4) with value 2500 and
    negative sign (series ran below its mean before the shift)."""
    rows = []
    eid = 0
    for d in range(10):
        cents = 100 if d < 5 else 200
        rows.append(
            (eid, f"2024-01-{d + 1:02d} 12:00:00", 1, "shift",
             cents / 100.0, "{}")
        )
        eid += 1
    _write_events(spark, tmp_path, rows)
    r = staged_r11.q88_changepoint_cusum(spark, str(tmp_path)).collect()[0]
    assert (r.event_type, r.n_days) == ("shift", 10)
    assert r.peak_day == 4
    assert r.peak_dev_n == 2500  # 10*500 - 5*1500
    assert r.shift_sign == -1


# --- q89: JSONL roundtrip ----------------------------------------------------


def test_jsonl_roundtrip_preserves_escapes_and_nulls(spark, tmp_path):
    """Backslashes, quotes, and unicode content must survive the JSON
    sink/source; NULL fields are omitted on write and must come back
    as SQL NULLs under the explicit schema."""
    rows = [
        (0, 'quote " and back \\ slash', "en", "s1", 11),  # 0%5==0: NULL
        (1, "plain words here", "en", "s1", 22),
        (2, "unicode é中 text", "zh", "s1", 33),
        (5, "also null", "de", "s2", 44),                  # 5%5==0: NULL
        (6, "tab\tand newline-free", "en", "s2", 55),
    ]
    _write_docs(spark, tmp_path, rows)
    out = {
        r.source: r
        for r in staged_r11.q89_jsonl_roundtrip(
            spark, str(tmp_path)
        ).collect()
    }

    def tricky(text):
        return f'say "{text[:10]}" \\ back,slash'

    exp = {}
    for doc_id, text, _lang, source, n_chars in rows:
        e = exp.setdefault(source, [0, 0, 0, 0, -1])
        e[0] += 1
        if doc_id % 5 == 0:
            e[1] += 1
        else:
            e[2] += len(tricky(text))
        e[3] += n_chars
        e[4] = max(e[4], doc_id)
    for source, (n, nn, tl, sc, ld) in exp.items():
        r = out[source]
        assert (
            r.n_docs, r.n_null_tricky, r.sum_tricky_len, r.sum_chars,
            r.last_doc,
        ) == (n, nn, tl, sc, ld), source


# --- sim_l2_search -----------------------------------------------------------


def test_l2_order_differs_from_dot_and_matches_reference(spark, tmp_path):
    """A long parallel vector wins on dot but loses on L2 to a nearby
    short one; ranking must match the Python d2 reference."""
    dim = 64

    def vec(x, y):
        v = [0.0] * dim
        v[0], v[1] = float(x), float(y)
        return v

    emb = {
        0: vec(1.0, 0.0),   # query
        1: vec(3.0, 0.0),   # dot 3.0 (MIPS winner), d2 = 4.0
        2: vec(0.9, 0.0),   # dot 0.9, d2 = 0.01 (L2 winner)
        3: vec(1.0, 0.5),   # d2 = 0.25
        4: vec(-1.0, 0.0),  # d2 = 4.0 (tie with 1 -> id break)
    }
    spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in emb.items()],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = sorted(
        (
            r
            for r in staged_r11.sim_l2_search(spark, str(tmp_path)).collect()
            if r.query_id == 0
        ),
        key=lambda r: r.rank,
    )
    d2 = {
        i: sum((a - b) ** 2 for a, b in zip(emb[0], v))
        for i, v in emb.items()
        if i != 0
    }
    ref = sorted(d2, key=lambda i: (d2[i], i))
    assert [r.neighbor_id for r in out] == ref
    assert out[0].neighbor_id == 2            # L2 winner
    assert max(d2, key=lambda i: -d2[i]) != 1  # sanity
    assert out[0].dist_sq == pytest.approx(0.01)
    # the d2=4.0 tie between ids 1 and 4 breaks by id
    assert [r.neighbor_id for r in out[-2:]] == [1, 4]


# --- dedup_bucket_stats --------------------------------------------------------


def test_bucket_stats_counts_duplicate_collisions(spark, tmp_path):
    """Two byte-identical docs share every band bucket (4 bands -> 4
    candidate pairs); two unrelated docs stay singletons. Invariant:
    every banded doc appears exactly once per band."""
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, dup, "en", "s", len(dup)),
        (1, dup, "en", "s", len(dup)),
        (2, "one two three four five six seven eight", "en", "s", 40),
        (3, "nine ten eleven twelve thirteen fourteen fifteen", "en", "s", 49),
    ]
    _write_docs(spark, tmp_path, rows)
    out = {
        r.band_id: r
        for r in staged_r11.dedup_bucket_stats(spark, str(tmp_path)).collect()
    }
    assert len(out) == 4
    for band_id, r in out.items():
        assert r.docs_banded == 4, band_id
        assert r.max_bucket == 2, band_id          # the identical pair
        assert r.candidate_pairs == 1, band_id     # 2*(2-1)/2
        assert r.n_buckets == 3 and r.singleton_buckets == 2, band_id


# --- curate_anneal_mixture -----------------------------------------------------


def test_anneal_mixture_boosts_long_doc_sources(spark, tmp_path):
    """Source 'big' is all long docs (boosted 3x in the anneal phase);
    'small' is all short docs. Hand math in exact ppm."""
    rows = [
        (0, "t", "en", "big", 1000),
        (1, "t", "en", "big", 1000),
        (2, "t", "en", "small", 100),
        (3, "t", "en", "small", 100),
    ]
    _write_docs(spark, tmp_path, rows)
    out = {
        r.source: r
        for r in staged_r11.curate_anneal_mixture(
            spark, str(tmp_path)
        ).collect()
    }
    # mean chars = 2200 // 4 = 550 -> 'big' docs are long, 'small' not
    assert out["big"].boosted == 1 and out["small"].boosted == 0
    # pretrain: big 2000/2200, small 200/2200
    assert out["big"].pretrain_ppm == 2000 * 1_000_000 // 2200
    assert out["small"].pretrain_ppm == 200 * 1_000_000 // 2200
    # anneal: big weight 6000, small 200 -> sum 6200
    assert out["big"].anneal_ppm == 6000 * 1_000_000 // 6200
    assert out["small"].anneal_ppm == 200 * 1_000_000 // 6200
    for s in ("big", "small"):
        assert out[s].blend_ppm == (
            8 * out[s].pretrain_ppm + 2 * out[s].anneal_ppm
        ) // 10


# --- ta_char_gini ----------------------------------------------------------------


def test_gini_zero_for_constant_and_exact_for_uniform(spark, tmp_path):
    """One token repeated -> Gini 0; four distinct singletons ->
    exactly (16-4)/16 = 750000 ppm."""
    rows = [
        (0, "x x x x", "aa", "s", 7),
        (1, "p q r s", "bb", "s", 7),
    ]
    _write_docs(spark, tmp_path, rows)
    out = {
        r.lang: r
        for r in staged_r11.ta_char_gini(spark, str(tmp_path)).collect()
    }
    assert out["aa"].gini_ppm == 0
    assert out["aa"].n_tokens == 4 and out["aa"].vocab == 1
    assert out["bb"].gini_ppm == 750_000
    assert out["bb"].vocab == 4


# --- mm_ogg_pages -----------------------------------------------------------------


def test_ogg_lacing_boundary_cases():
    """A packet of exactly 255 bytes needs a 0 terminator (2 lacing
    bytes); 510 needs 3; the walker must recover exact packet counts
    and reject an unterminated trailing packet."""
    blob = encode_ogg([(100, [255]), (200, [510, 1])])
    r = parse_ogg_pages(blob)
    assert r["n_pages"] == 2 and r["n_packets"] == 3
    assert r["payload_bytes"] == 255 + 510 + 1
    assert r["last_granule"] == 200 and r["n_crc_ok"] == 2
    # archive: page1 27+2+255, page2 27+(3+1)+511
    assert r["archive_bytes"] == (27 + 2 + 255) + (27 + 4 + 511)
    # flip a payload byte -> that page's CRC fails but the walk finishes
    bad = bytearray(blob)
    bad[40] ^= 1
    assert parse_ogg_pages(bytes(bad))["n_crc_ok"] == 1
    # a lacing run of 255 with no terminator = packet left open
    hdr = bytearray(encode_ogg([(1, [255])]))
    # strip the 0 terminator: rebuild with nseg=1, lacing=[255]
    import struct

    page = bytearray(b"OggS" + bytes([0, 0x06]) + struct.pack("<q", 1)
                     + struct.pack("<II", 1, 0) + b"\x00" * 4
                     + bytes([1, 255]) + b"z" * 255)
    from eeecs485_p4_mapreduce_spark.operators.multimodal import _ogg_crc

    crc = _ogg_crc(bytes(page))
    page[22:26] = struct.pack("<I", crc)
    with pytest.raises(ValueError, match="unterminated"):
        parse_ogg_pages(bytes(page))


def test_ogg_rejects_sequence_jump(spark):
    blob1 = encode_ogg([(1, [10]), (2, [10])])
    # cut the first page out: second page has seq 1, walker expects 0
    first_len = 27 + 1 + 10
    with pytest.raises(ValueError, match="sequence jump|BOS"):
        parse_ogg_pages(blob1[first_len:])


def test_ogg_query_page_and_packet_census(spark, tmp_path):
    _write_docs(spark, tmp_path, [(4, "t", "en", "s", 1)])
    r = staged_r11.mm_ogg_pages(spark, str(tmp_path)).collect()[0]
    # doc 4: np = 2 pages; page 0 has 1 packet, page 1 has 2
    lens = {
        (p, j): 80 + (4 * 3 + p * 7 + j * 11) % 300
        for p in range(2)
        for j in range(1 + (4 + p) % 2)
    }
    assert r.n_pages == 2 and r.n_packets == 3
    assert r.payload_bytes == sum(lens.values())
    assert r.last_granule == 2 * (960 + 4)
    assert r.n_crc_ok == 2


# --- mm_pdf_xref ------------------------------------------------------------------


def test_pdf_walker_verifies_offsets_and_rejects_drift():
    blob = encode_pdf(2, seed=5)
    r = parse_pdf_xref(blob)
    assert r["n_objects"] == 4 and r["n_verified"] == 4
    assert r["trailer_size"] == 5
    assert r["file_bytes"] == len(blob)
    # nudge one xref offset by 1 -> must fail the landing check
    bad = bytearray(blob)
    xref = r["xref_offset"]
    # first in-use entry line starts after "xref\n0 5\n" + free entry
    entry0 = xref + 5 + 4 + 20
    assert bad[entry0 + 17 : entry0 + 18] == b"n"
    bad[entry0 + 9] = ord("1") if bad[entry0 + 9] != ord("1") else ord("2")
    with pytest.raises(ValueError, match="does not land"):
        parse_pdf_xref(bytes(bad))
    with pytest.raises(ValueError, match="startxref|EOF"):
        parse_pdf_xref(blob[:-20])
    with pytest.raises(ValueError, match="%PDF"):
        parse_pdf_xref(b"not a pdf" + blob)


def test_pdf_query_layout_arithmetic(spark, tmp_path):
    _write_docs(spark, tmp_path, [(3, "t", "en", "s", 1)])
    r = staged_r11.mm_pdf_xref(spark, str(tmp_path)).collect()[0]
    blob = encode_pdf(1 + 3 % 4, seed=3)
    ref = parse_pdf_xref(blob)
    assert (
        r.n_objects, r.n_verified, r.trailer_size, r.xref_offset,
        r.file_bytes,
    ) == (
        ref["n_objects"], ref["n_verified"], ref["trailer_size"],
        ref["xref_offset"], ref["file_bytes"],
    )
    assert r.file_bytes == len(blob)
