"""Oracle + semantics tests for the queries in operators/staged_r16.py,
with independent references."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.operators import staged_r16
from tests.conftest import assert_query_matches_oracle, registered_in


@pytest.mark.parametrize("name", registered_in(staged_r16))
def test_staged_r16_matches_oracle(spark, duck, sf_dir, name):
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


def _write_lineitem(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber long, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate")).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "lineitem.parquet"))


def _write_part(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size long, p_retailprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))


def _write_orders(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string,"
        " o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate")).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))


def _li(ok, pk, ln, qty, ship):
    return (ok, pk, 1, ln, float(qty), 1.0, 0.0, 0.0, "N", "O", ship)


# --- q103: FIFO lots ----------------------------------------------------------


def test_fifo_lot_boundaries_hand_checked(spark, tmp_path):
    """Part 1 ships 60+60+100: line 2 straddles the first 100-unit
    boundary (interval [60,120)), line 3 spans [120,220) — also a
    straddler. Part 2 ships 100 exactly: interval [0,100) touches no
    boundary."""
    _write_lineitem(
        spark,
        tmp_path,
        [
            _li(1, 1, 1, 60, "2024-01-01 00:00:00"),
            _li(2, 1, 1, 60, "2024-01-02 00:00:00"),
            _li(3, 1, 1, 100, "2024-01-03 00:00:00"),
            _li(4, 2, 1, 100, "2024-01-01 00:00:00"),
        ],
    )
    _write_part(
        spark,
        tmp_path,
        [
            (1, "cold widget", "B1", "t", 1, 1.0),
            (2, "warm bolt", "B2", "t", 1, 1.0),
        ],
    )
    out = {
        r.p_brand: r
        for r in staged_r16.q103_fifo_lots(spark, str(tmp_path)).collect()
    }
    assert out["B1"].n_lines == 3
    assert out["B1"].n_boundary_lines == 2
    assert out["B1"].max_lots_spanned == 2
    assert out["B1"].sum_qty == 220
    assert out["B2"].n_boundary_lines == 0
    assert out["B2"].max_lots_spanned == 1


# --- q104: ship-lag percentiles -------------------------------------------------


def test_ship_lag_exact_percentiles(spark, tmp_path):
    """Eleven lines with lags 1..10 and 60 days: the median is the
    6th smallest (6), p90 the 10th (10), and the one lag > 30 makes
    late_ppm = 1/11 exactly."""
    orders = [
        (k, 1, "O", 1.0, "2024-01-01 00:00:00", "1-URGENT")
        for k in range(1, 12)
    ]
    _write_orders(spark, tmp_path, orders)
    lines = [
        _li(k, 1, 1, 1, f"2024-01-{1 + k:02d} 00:00:00")
        for k in range(1, 11)
    ]  # lags 1..10
    lines.append(_li(11, 1, 1, 1, "2024-03-01 00:00:00"))  # lag 60
    _write_lineitem(spark, tmp_path, lines)
    out = staged_r16.q104_ship_lag_percentiles(
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_lines, r.p50_lag_days, r.p90_lag_days) == (11, 6, 10)
    assert r.late_ppm == 1_000_000 // 11


# --- q105: week-over-week -------------------------------------------------------


def test_wow_change_sign_and_magnitude(spark, tmp_path):
    """Week w has 4 events, w+1 has 6 (+50%), w+2 has 3 (-50%): the
    magnitude is ppm of the PREVIOUS week and the sign is explicit."""
    rows, eid = [], 0
    for week, n in ((0, 4), (1, 6), (2, 3)):
        for i in range(n):
            day = 1 + week * 7
            rows.append(
                (eid, f"1970-01-{day:02d} 10:00:00", 1, "a", 1.0, "{}")
            )
            eid += 1
    _write_events(spark, tmp_path, rows)
    out = {
        r.week: (r.prev_n, r.abs_change_ppm, r.change_sign)
        for r in staged_r16.q105_wow_change(spark, str(tmp_path)).collect()
    }
    assert out == {1: (4, 500_000, 1), 2: (6, 500_000, -1)}


# --- q106: basket lift ----------------------------------------------------------


def test_basket_lift_exact_values(spark, tmp_path):
    """4 orders; parts (1,2) co-occur in 2 of them; part 1 in 3, part
    2 in 2. support = 2/4, conf = 2/3, lift = (2*4)/(3*2) = 4/3."""
    lines = [
        _li(1, 1, 1, 1, "2024-01-01 00:00:00"),
        _li(1, 2, 1, 2, "2024-01-01 00:00:00"),
        _li(2, 1, 1, 1, "2024-01-01 00:00:00"),
        _li(2, 2, 1, 2, "2024-01-01 00:00:00"),
        _li(3, 1, 1, 1, "2024-01-01 00:00:00"),
        _li(4, 3, 1, 1, "2024-01-01 00:00:00"),
    ]
    _write_lineitem(spark, tmp_path, lines)
    out = staged_r16.q106_basket_lift(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.part_a, r.part_b, r.n_both) == (1, 2, 2)
    assert r.support_ppm == 500_000
    assert r.conf_ab_ppm == 666_666
    assert r.lift_ppm == 1_333_333


# --- dedup_phonetic_names --------------------------------------------------------


def test_soundex_classic_vectors(spark, tmp_path):
    """Textbook Soundex vectors under the documented simplified
    variant: robert/rupert → R163 (blocking together), tymczak → T522,
    honeyman → H555 (all equal to real American Soundex), and
    pfister → P236 (the no-first-letter-dedup-exception spelling —
    the variant's one documented divergence)."""
    names = [
        (1, "robert widget"),
        (2, "rupert widget"),
        (3, "tymczak bolt"),
        (4, "pfister rod"),
        (5, "honeyman rod"),
    ]
    _write_part(
        spark,
        tmp_path,
        [(k, n, "B1", "t", 1, 1.0) for k, n in names],
    )
    codes = {
        r.code: (r.n_parts, r.n_tokens, r.candidate_pairs, r.first_token)
        for r in staged_r16.dedup_phonetic_names(
            spark, str(tmp_path)
        ).collect()
    }
    assert codes["R163"][0] == 2 and codes["R163"][2] == 1
    assert codes["T522"][3] == "tymczak"
    assert codes["P236"][3] == "pfister"
    assert codes["H555"][3] == "honeyman"


# --- ta_hapax_ratio ---------------------------------------------------------------


def test_hapax_counts_hand_checked(spark, tmp_path):
    """'a a b c' has distinct {a,b,c}, hapax {b,c}: 666666 ppm."""
    _write_docs(
        spark,
        tmp_path,
        [(1, "a a b c", "en", "s0", 7), (2, "a", "en", "s0", 1)],
    )
    out = staged_r16.ta_hapax_ratio(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_tokens, r.n_distinct, r.n_hapax) == (5, 3, 2)
    assert r.hapax_ppm == 666_666


# --- mm_png_metadata ---------------------------------------------------------------


def test_png_metadata_crc_is_verified(spark):
    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    png = mm.inject_png_chunks(
        staged_r16._png_meta_base(),
        [(b"tEXt", b"Title\x00hello")],
    )
    info = mm.parse_png_metadata(png)
    assert info["title_len"] == 5 and info["n_text"] == 1
    bad = bytearray(png)
    bad[45] ^= 0x01  # inside the spliced chunk
    with pytest.raises(ValueError):
        mm.parse_png_metadata(bytes(bad))


def test_png_metadata_framing_rules(spark):
    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    base = staged_r16._png_meta_base()
    # data after IEND must raise
    with pytest.raises(ValueError, match="after IEND"):
        mm.parse_png_metadata(base + mm.png_chunk(b"tEXt", b"k\x00v"))
    # non-IHDR first chunk must raise
    swapped = base[:8] + mm.png_chunk(b"gAMA", (1).to_bytes(4, "big")) + base[8:]
    with pytest.raises(ValueError, match="IHDR"):
        mm.parse_png_metadata(swapped)


# --- stream_restart_idempotent ------------------------------------------------------


def test_restart_processes_only_the_new_file(spark, tmp_path):
    """Counts must equal the batch totals exactly — a restart that
    re-processes the first slice doubles the even-id half and fails."""
    rows = [
        (i, "2024-01-01 01:00:00", 1, "a" if i % 3 else "b", 1.0, "{}")
        for i in range(20)
    ]
    _write_events(spark, tmp_path, rows)
    out = {
        r.event_type: (r.n_events, r.sum_cents)
        for r in staged_r16.stream_restart_idempotent(
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {"a": (13, 1300), "b": (7, 700)}
