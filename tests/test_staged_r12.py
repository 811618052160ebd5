"""Oracle + semantics tests for the queries in operators/staged_r12.py.
Every operator gets a constructed-fixture test computed by an
INDEPENDENT reference (hand math, a tiny Python reimplementation, or
stdlib datetime), because a shared semantic bug hash-matches its own
oracle (the q73/q77 lesson)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.operators import staged_r12
from eeecs485_p4_mapreduce_spark.operators.multimodal import (
    encode_webp_vp8l,
    parse_webp_vp8l,
)
from tests.conftest import assert_query_matches_oracle, registered_in


@pytest.mark.parametrize("name", registered_in(staged_r12))
def test_staged_r12_matches_oracle(spark, duck, sf_dir, name):
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


# --- q90: KS ------------------------------------------------------------------


def test_ks_hand_computed_two_sample(spark, tmp_path):
    """A = {1,2,3} cents, B = {3,4} cents: the ppm ECDF gap peaks at
    2 cents with |2/3 - 0| = 666666 ppm."""
    rows = []
    eid = 0
    for v in (0.01, 0.02, 0.03):
        rows.append((eid, "2024-01-01 00:00:00", 1, "A", v, "{}"))
        eid += 1
    for v in (0.03, 0.04):
        rows.append((eid, "2024-01-01 00:00:00", 1, "B", v, "{}"))
        eid += 1
    _write_events(spark, tmp_path, rows)
    out = staged_r12.q90_ks_distance(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.type_a, r.type_b) == ("A", "B")
    assert r.ks_ppm == 666_666  # floor(2e6/3) - 0
    assert r.at_cents == 2


# --- q91: Gini -----------------------------------------------------------------


def _write_cust_orders(spark, tmp_path, custs, orders):
    spark.createDataFrame(
        custs,
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))


def test_gini_zero_for_equal_and_matches_reference(spark, tmp_path):
    """Equal spends give Gini exactly 0; a skewed segment matches an
    independent Python implementation of the rank formula."""
    import datetime as dt

    custs = [(i, f"c{i}", 0, 0.0, "EQ") for i in range(4)] + [
        (10 + i, f"d{i}", 0, 0.0, "SKEW") for i in range(4)
    ]
    d = dt.date(2024, 1, 1)
    orders = [(i, i, "O", 50.0, d, "1-URGENT") for i in range(4)]
    skew_spend = [1.0, 1.0, 1.0, 97.0]
    orders += [
        (100 + i, 10 + i, "O", s, d, "1-URGENT")
        for i, s in enumerate(skew_spend)
    ]
    _write_cust_orders(spark, tmp_path, custs, orders)
    out = {
        r.segment: r
        for r in staged_r12.q91_spend_gini(spark, str(tmp_path)).collect()
    }
    assert out["EQ"].gini_ppm == 0

    def gini_ppm(ys):
        """The registered metric: ppm-quantized Lorenz trapezoid."""
        ys = sorted(ys)
        sy = sum(ys)
        cum = 0
        ls = []
        for y in ys:
            cum += y
            ls.append((cum * 1000 // sy) * 1000 + (cum * 1000 % sy) * 1000 // sy)
        return 1_000_000 - (2 * sum(ls) - ls[-1]) // len(ys)

    def gini_exact(ys):
        """Independent check: the classic rank formula, in floats."""
        ys = sorted(ys)
        n = len(ys)
        siy = sum((i + 1) * y for i, y in enumerate(ys))
        return (2 * siy - (n + 1) * sum(ys)) / (n * sum(ys))

    spend = [100, 100, 100, 9700]
    assert out["SKEW"].gini_ppm == gini_ppm(spend)
    # quantized metric sits within 2 ppm of the exact rank-formula Gini
    assert abs(out["SKEW"].gini_ppm - round(gini_exact(spend) * 1e6)) <= 2
    assert out["SKEW"].gini_ppm > 500_000  # strongly unequal


# --- q92: business days -----------------------------------------------------------


def test_business_days_matches_datetime_reference(spark, tmp_path):
    """Spans crossing weekends, a same-day ship, and a Saturday order
    must all match a brute-force datetime.weekday() count over the
    half-open [order, ship) range."""
    import datetime as dt

    spans = [
        (dt.date(2024, 1, 1), dt.date(2024, 1, 8)),    # Mon -> Mon: 5
        (dt.date(2024, 1, 5), dt.date(2024, 1, 9)),    # Fri -> Tue: 2
        (dt.date(2024, 1, 6), dt.date(2024, 1, 8)),    # Sat -> Mon: 0
        (dt.date(2024, 1, 3), dt.date(2024, 1, 3)),    # same day: 0
        (dt.date(2023, 12, 29), dt.date(2024, 1, 15)), # across NY
    ]

    def brute(a, b):
        return sum(
            1
            for k in range((b - a).days)
            if (a + dt.timedelta(days=k)).weekday() < 5
        )

    custs = [(1, "c", 0, 0.0, "S")]
    orders = [
        (i, 1, "O", 10.0, a, "1-URGENT") for i, (a, _b) in enumerate(spans)
    ]
    _write_cust_orders(spark, tmp_path, custs, orders)
    spark.createDataFrame(
        [
            (i, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", b)
            for i, (_a, b) in enumerate(spans)
        ],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber long, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate date",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    r = staged_r12.q92_business_days(spark, str(tmp_path)).collect()[0]
    exp = [brute(a, b) for a, b in spans]
    assert exp[:4] == [5, 2, 0, 0]  # the fixture is what it claims
    assert r.n_items == len(spans)
    assert r.sum_bdays == sum(exp)
    assert r.max_bdays == max(exp)
    assert r.avg_bdays_e3 == sum(exp) * 1000 // len(spans)


# --- q93: Benford ------------------------------------------------------------------


def test_benford_digits_and_missing_digit_rows(spark, tmp_path):
    """Totals 1.00/19.99/100.00 all lead with digit 1; 0.42 leads with
    4. Digits absent from the data still emit rows with n=0 and
    dev = expected."""
    import datetime as dt

    d = dt.date(2024, 1, 1)
    custs = [(1, "c", 0, 0.0, "S")]
    orders = [
        (1, 1, "O", 1.00, d, "p"),
        (2, 1, "O", 19.99, d, "p"),
        (3, 1, "O", 100.00, d, "p"),
        (4, 1, "O", 0.42, d, "p"),
    ]
    _write_cust_orders(spark, tmp_path, custs, orders)
    out = {
        r.digit: r
        for r in staged_r12.q93_benford_digits(spark, str(tmp_path)).collect()
    }
    assert len(out) == 9
    assert out[1].n_orders == 3 and out[1].obs_ppm == 750_000
    assert out[4].n_orders == 1 and out[4].obs_ppm == 250_000
    assert out[9].n_orders == 0 and out[9].obs_ppm == 0
    assert out[9].dev_ppm == out[9].exp_ppm
    assert out[1].exp_ppm == staged_r12.BENFORD_PPM[0] == 301_030


# --- curate_filter_funnel -------------------------------------------------------------


def test_filter_funnel_stage_by_stage(spark, tmp_path):
    """Each rule removes exactly the doc built to fail it; the dedup
    stage collapses the two identical survivors."""
    long_ok = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, long_ok, "en", "s", len(long_ok)),            # survives all
        (1, long_ok, "en", "s", len(long_ok)),            # dup of 0
        (2, "short", "en", "s", 5),                       # fails R1
        (3, long_ok, "fr", "s", len(long_ok)),            # fails R2
        (4, "a " * 30, "en", "s", 60),                    # mwl 1.00: fails R3
        (5, long_ok + " lambda", "en", "s", len(long_ok) + 7),  # unique ok
    ]
    _write_docs(spark, tmp_path, rows)
    out = {
        r.stage: r
        for r in staged_r12.curate_filter_funnel(
            spark, str(tmp_path)
        ).collect()
    }
    assert (out[1].n_in, out[1].n_out) == (6, 5)   # doc 2 out
    assert (out[2].n_in, out[2].n_out) == (5, 4)   # doc 3 out
    assert (out[3].n_in, out[3].n_out) == (4, 3)   # doc 4 out
    assert (out[4].n_in, out[4].n_out) == (3, 2)   # dup 1 collapses into 0
    assert out[1].removed_ppm == 1_000_000 // 6
    assert out[4].removed_ppm == 333_333


# --- dedup_cross_source ----------------------------------------------------------------


def test_cross_source_pairs_are_unordered_and_counted(spark, tmp_path):
    """Identical docs in sources B and A collapse into ONE unordered
    (A, B) cell; a same-source duplicate lands on the diagonal."""
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, dup, "en", "srcB", len(dup)),
        (1, dup, "en", "srcA", len(dup)),
        (2, dup, "en", "srcA", len(dup)),
        (3, "one two three four five six seven eight", "en", "srcC", 40),
    ]
    _write_docs(spark, tmp_path, rows)
    out = {
        (r.source_a, r.source_b): r
        for r in staged_r12.dedup_cross_source(
            spark, str(tmp_path)
        ).collect()
    }
    # pairs: (0,1) B-A, (0,2) B-A, (1,2) A-A
    assert out[("srcA", "srcB")].n_pairs == 2
    assert out[("srcA", "srcA")].n_pairs == 1
    assert ("srcC", "srcC") not in out and ("srcA", "srcC") not in out
    # identical docs share all 4 bands -> strong
    assert out[("srcA", "srcB")].n_strong == 2
    assert out[("srcA", "srcB")].example_doc == 0


# --- sim_norm_quantiles -------------------------------------------------------------------


def test_norm_quantiles_hand_computed(spark, tmp_path):
    """Vectors with norms 1.0/2.0/3.0 in one label: median2x = 4000
    milli-units; min/max exact."""
    dim = 64

    def vec(x):
        v = [0.0] * dim
        v[0] = float(x)
        return v

    rows = [(i, vec(i + 1), 7) for i in range(3)]
    spark.createDataFrame(
        [(i, [float(x) for x in v], lab) for i, v, lab in rows],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    r = staged_r12.sim_norm_quantiles(spark, str(tmp_path)).collect()[0]
    assert r.label == 7 and r.n_vecs == 3
    assert (r.min_norm_e3, r.max_norm_e3) == (1000, 3000)
    assert r.median2x_e3 == 4000  # median 2.0, doubled


# --- stream_gap_filled_rate -------------------------------------------------------------------


def test_gap_fill_emits_zero_hours(spark, tmp_path):
    """Events in hours 10 and 13 only: the finalized grid must contain
    hours 11 and 12 with ZERO counts."""
    rows = [
        (3, "2024-01-01 10:05:00", 1, "view", 1.0, "{}"),
        (1, "2024-01-01 10:55:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 13:30:00", 2, "view", 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    out = {
        r.window_start: r.n_events
        for r in staged_r12.stream_gap_filled_rate(
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        "2024-01-01 10:00:00": 2,
        "2024-01-01 11:00:00": 0,
        "2024-01-01 12:00:00": 0,
        "2024-01-01 13:00:00": 1,
    }


# --- mm_webp_headers -------------------------------------------------------------------


def test_webp_bit_fields_and_rejection():
    """14-bit dimension extremes survive the sub-byte packing; framing
    corruption raises ValueError."""
    for w, h, a in ((1, 1, False), (16384, 16384, True), (12345, 1, False)):
        r = parse_webp_vp8l(encode_webp_vp8l(w, h, alpha=a))
        assert (r["width"], r["height"], r["alpha"]) == (w, h, int(a))
    blob = bytearray(encode_webp_vp8l(640, 480, body_len=11))
    assert len(blob) % 2 == 0  # odd chunk got its pad byte
    bad = bytearray(blob)
    bad[4] ^= 1  # RIFF length
    with pytest.raises(ValueError, match="RIFF length"):
        parse_webp_vp8l(bytes(bad))
    bad = bytearray(blob)
    bad[20] = 0x2E  # VP8L signature byte
    with pytest.raises(ValueError, match="signature"):
        parse_webp_vp8l(bytes(bad))
    bad = bytearray(blob)
    bad[24] |= 0xE0  # version bits -> reserved
    with pytest.raises(ValueError, match="version"):
        parse_webp_vp8l(bytes(bad))


def test_webp_query_layout_arithmetic(spark, tmp_path):
    _write_docs(spark, tmp_path, [(9, "t", "en", "s", 1)])
    r = staged_r12.mm_webp_headers(spark, str(tmp_path)).collect()[0]
    body = 10 + 9 % 50
    assert (r.width, r.height, r.alpha) == (16 + 9 % 1000, 16 + 63 % 1000, 1)
    assert r.chunk_bytes == 5 + body
    assert r.file_bytes == 20 + 5 + body + (5 + body) % 2
