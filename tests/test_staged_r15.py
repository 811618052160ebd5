"""Oracle + semantics tests for the queries in operators/staged_r15.py,
with independent references."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.operators import staged_r15
from tests.conftest import assert_query_matches_oracle, registered_in


@pytest.mark.parametrize("name", registered_in(staged_r15))
def test_staged_r15_matches_oracle(spark, duck, sf_dir, name):
    assert_query_matches_oracle(spark, duck, sf_dir, name)


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


# --- q100: user streaks ----------------------------------------------------


def test_streaks_islands_and_census(spark, tmp_path):
    """User 1 is active days {1,2,3,5} (best streak 3), user 2 on
    {1,3,5} (best 1), user 3 on {1,2} twice a day (dup events must not
    inflate the streak — best 2)."""
    rows, eid = [], 0
    for u, days in ((1, [1, 2, 3, 5]), (2, [1, 3, 5]), (3, [1, 1, 2, 2])):
        for d in days:
            rows.append(
                (eid, f"2024-01-0{d} 12:00:00", u, "click", 1.0, "{}")
            )
            eid += 1
    _write_events(spark, tmp_path, rows)
    out = {
        r.streak_days: (r.n_users, r.first_user)
        for r in staged_r15.q100_user_streaks(
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {3: (1, 1), 1: (1, 2), 2: (1, 3)}


# --- q101: rolling median ---------------------------------------------------


def test_rolling_median_range_frame_and_even_window(spark, tmp_path):
    """Daily cents 100/300/200 on days 0/1/2 give trailing medians
    100, (100+300), 200*2; a gap to day 9 must RESET the window (RANGE
    frame, not 7 observations): day 9 sees only itself."""
    rows = []
    for i, (day, cents) in enumerate([(1, 1.00), (2, 3.00), (3, 2.00), (10, 9.00)]):
        rows.append((i, f"2024-01-{day:02d} 00:00:00", 1, "buy", cents, "{}"))
    _write_events(spark, tmp_path, rows)
    out = {
        r.day: (r.n_in_window, r.med2x_cents)
        for r in staged_r15.q101_rolling_median(
            spark, str(tmp_path)
        ).collect()
    }
    days = sorted(out)
    assert [out[d] for d in days] == [
        (1, 200),        # 2*100
        (2, 400),        # 100+300 (even window: both middles)
        (3, 400),        # median of {100,300,200} = 200 -> 2*200
        (1, 1800),       # gap: window restarts
    ]


# --- q102: independence audit -----------------------------------------------


def test_independence_zero_dev_when_uniform(spark, tmp_path):
    """A perfectly independent (uniform) type x weekday table has
    dev_ppm 0 in every cell; concentrating one type on one weekday
    makes its dev positive and the off-cells negative."""
    rows, eid = [], 0
    # uniform: 2 types x days Mon..Sun x 2 events each
    for t in ("a", "b"):
        for d in range(1, 8):
            for _ in range(2):
                rows.append(
                    (eid, f"2024-01-{d:02d} 01:00:00", 1, t, 1.0, "{}")
                )
                eid += 1
    _write_events(spark, tmp_path, rows)
    out = staged_r15.q102_independence_audit(spark, str(tmp_path)).collect()
    assert len(out) == 14
    assert all(r.dev_ppm == 0 for r in out)
    rows.extend(
        (10_000 + i, "2024-01-01 02:00:00", 1, "a", 1.0, "{}")
        for i in range(14)
    )
    _write_events(spark, tmp_path, rows)
    out = {
        (r.event_type, r.weekday): r.dev_ppm
        for r in staged_r15.q102_independence_audit(
            spark, str(tmp_path)
        ).collect()
    }
    spike = max(out, key=out.get)
    assert spike[0] == "a" and out[spike] > 0
    assert min(out.values()) < 0


# --- sim_radius_search -------------------------------------------------------


def test_radius_zero_match_queries_still_emit(spark, tmp_path):
    """Orthogonal unit vectors: every cosine is 0 < tau, so all query
    rows must still appear with n=0 and the -2.0 sentinel."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 12
    vecs = [[1.0 if j == i else 0.0 for j in range(n)] for i in range(n)]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    out = staged_r15.sim_radius_search(spark, str(tmp_path)).collect()
    assert len(out) == staged_r15.RADIUS_N_QUERIES
    assert all(
        (r.n_in_radius, r.sum_neighbor_ids, r.max_cosine) == (0, 0, -2.0)
        for r in out
    )


def test_radius_finds_a_planted_neighbor(spark, tmp_path):
    """Vector 20 is a scaled copy of query 0 (cosine 1.0) — it must be
    the only in-radius neighbor of query 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, dim = 21, 4
    vecs = []
    for i in range(n):
        v = [0.0] * dim
        v[i % dim] = 1.0
        vecs.append(v)
    vecs[0] = [1.0, 1.0, 0.0, 0.0]
    vecs[20] = [2.0, 2.0, 0.0, 0.0]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    out = {
        r.query_id: r
        for r in staged_r15.sim_radius_search(spark, str(tmp_path)).collect()
    }
    assert out[0].n_in_radius >= 1
    assert out[0].max_cosine == 1.0
    # the planted twin is among the matched ids
    assert out[0].sum_neighbor_ids >= 20


# --- curate_length_curriculum ------------------------------------------------


def test_curriculum_positions_are_a_contiguous_permutation(spark, tmp_path):
    """Constructed lengths across all four buckets: per-bucket
    [first, last] ranges must tile 1..N in bucket order and sum_pos
    must equal each range's arithmetic series — any duplicate, gap, or
    cross-bucket leak breaks one of the three."""
    rows = []
    lengths = [100, 120, 160, 290, 310, 440, 460, 500, 149, 299]
    for i, nc in enumerate(lengths):
        rows.append((i * 7919 + 3, "x" * 5, "en", "s0", nc))
    _write_docs(spark, tmp_path, rows)
    out = {
        r.bucket: r
        for r in staged_r15.curate_length_curriculum(
            spark, str(tmp_path)
        ).collect()
    }
    assert sorted(out) == [0, 1, 2, 3]
    expect_n = {0: 3, 1: 3, 2: 2, 3: 2}
    nxt = 1
    for b in (0, 1, 2, 3):
        r = out[b]
        assert r.n_docs == expect_n[b]
        assert r.first_pos == nxt
        assert r.last_pos == nxt + r.n_docs - 1
        assert r.sum_pos == r.n_docs * (r.first_pos + r.last_pos) // 2
        nxt = r.last_pos + 1
    assert nxt == len(lengths) + 1


# --- ta_code_detect -----------------------------------------------------------


def test_code_detect_separates_code_from_prose(spark, tmp_path):
    code = (
        "def main(argv):\n"
        "  import os; import sys;\n"
        "  return {x: y for x, y in argv};\n"
        "void f() { struct T t; }\n"
    )
    prose = (
        "The quiet afternoon settled over the valley, and nothing in"
        " the long grass moved except the slow wind from the north."
    )
    _write_docs(
        spark,
        tmp_path,
        [
            (1, code, "en", "s0", len(code)),
            (2, prose, "en", "s0", len(prose)),
        ],
    )
    out = {
        r.verdict: r.n_docs
        for r in staged_r15.ta_code_detect(spark, str(tmp_path)).collect()
    }
    assert out == {"code": 1, "prose": 1}


# --- mm codecs ----------------------------------------------------------------


def test_ico_roundtrip_including_256_zero_byte_rule(spark):
    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    ico = mm.encode_ico(
        [(256, 256, 32, "dib", b""), (16, 16, 32, "png", staged_r15._ico_png_body())]
    )
    # the 256-px entry stores width/height bytes as 0
    assert ico[6] == 0 and ico[7] == 0
    info = mm.parse_ico(ico)
    assert info["n_icons"] == 2
    assert info["sum_width"] == 272
    assert info["n_png"] == 1 and info["n_dib"] == 1


def test_ico_dimension_contradiction_raises(spark):
    """A directory entry that lies about its PNG payload's dimensions
    must raise — the walk is a real parse, not directory trust."""
    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    png = staged_r15._ico_png_body()  # 16x16
    ico = bytearray(mm.encode_ico([(16, 16, 32, "png", png)]))
    ico[6] = 32  # claim 32 px wide
    with pytest.raises(ValueError, match="contradict"):
        mm.parse_ico(bytes(ico))


def test_id3_v23_frame_size_is_not_syncsafe(spark):
    """A text frame longer than 127 bytes has a size byte >= 0x80 —
    legal in v2.3 (plain 32-bit big-endian), and the parser must read
    it as such (a syncsafe reader would truncate)."""
    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    long_title = "t" * 200
    tag = mm.encode_id3v2_tag([("TIT2", long_title), ("TRCK", "3")])
    info = mm.parse_id3v2(tag)
    assert info["title_len"] == 200
    assert info["track_no"] == 3
    # but the HEADER size is syncsafe: every byte below 0x80
    assert all(b < 0x80 for b in tag[6:10])
    # and the frame size field is plain binary: 201 = 0xC9 in byte 7
    assert tag[10 + 7] == 201 - 128 + 128  # low byte of 201


def test_id3_padding_and_bad_magic(spark):
    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    tag = mm.encode_id3v2_tag([("TRCK", "7")], padding=12)
    info = mm.parse_id3v2(tag)
    assert info["padding_bytes"] == 12 and info["n_frames"] == 1
    with pytest.raises(ValueError, match="magic"):
        mm.parse_id3v2(b"ID4" + tag[3:])


# --- stream_lateness_audit -----------------------------------------------------


def test_lateness_gate_routes_exactly_the_old_late_rows(spark, tmp_path):
    """On-time ids 1..10 span hours 0..9; flagged ids (multiples of
    11) arrive in the late slice: id 11 carries hour-0 data (older
    than max - 1 h, DROPPED), ids 22 and 33 carry hour-9 data
    (inside the allowance, accepted)."""
    rows = []
    for i in range(1, 11):
        rows.append(
            (i, f"2024-01-01 {i - 1:02d}:30:00", 1, "a", 1.0, "{}")
        )
    rows.append((11, "2024-01-01 00:10:00", 1, "a", 5.0, "{}"))
    rows.append((22, "2024-01-01 09:10:00", 1, "a", 7.0, "{}"))
    rows.append((33, "2024-01-01 09:20:00", 1, "a", 9.0, "{}"))
    _write_events(spark, tmp_path, rows)
    out = staged_r15.stream_lateness_audit(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_accepted, r.n_dropped_late) == (12, 1)
    assert r.sum_accepted_cents == 10 * 100 + 700 + 900
