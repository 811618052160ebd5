"""Oracle + semantics tests for the queries in operators/staged_r18.py,
with independent references."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.operators import staged_r18
from tests.conftest import assert_query_matches_oracle, registered_in


@pytest.mark.parametrize("name", registered_in(staged_r18))
def test_staged_r18_matches_oracle(spark, duck, sf_dir, name):
    assert_query_matches_oracle(spark, duck, sf_dir, name)


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


# --- q108: weighted median -------------------------------------------------------


def test_weighted_median_diverges_from_plain(spark, tmp_path):
    """Three lines at prices 1.00/2.00/3.00 with quantities 10/1/1:
    the plain median is 2.00 but ten cheap units pull the
    quantity-weighted median down to 1.00."""
    rows = [
        (1, 1, 1, 1, 10.0, 1.00, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
        (2, 1, 1, 1, 1.0, 2.00, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
        (3, 1, 1, 1, 1.0, 3.00, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
    ]
    _write_lineitem(spark, tmp_path, rows)
    _write_part(spark, tmp_path, [(1, "cold widget", "B1", "t", 1, 1.0)])
    out = staged_r18.q108_weighted_median(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_lines, r.total_qty) == (3, 12)
    assert r.median_cents == 200
    assert r.wmedian_cents == 100


# --- mm_aiff_comm -----------------------------------------------------------------


def test_f80_exact_integer_roundtrip(spark):
    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    for v in (1, 2, 3, 8000, 22050, 44100, 48000, 96000, (1 << 62) - 1):
        assert mm._f80_decode(mm._f80_encode(v)) == v
    # a fractional rate (44100.5) must raise, not truncate
    half = mm._f80_encode(88201)  # 2 * 44100.5
    se = int.from_bytes(half[:2], "big") - 1  # halve via exponent
    with pytest.raises(ValueError, match="non-integer"):
        mm._f80_decode(se.to_bytes(2, "big") + half[2:])
    with pytest.raises(ValueError, match="negative"):
        mm._f80_decode(b"\xff\xff" + b"\x00" * 8)


def test_aiff_pad_byte_and_framing(spark):
    """An odd-length chunk carries a pad byte the walker must skip;
    a FORM size that disagrees with the payload must raise."""
    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    base = mm.encode_aiff(44100, 1, 16, 10)
    info = mm.parse_aiff_comm(base)
    assert info["sample_rate"] == 44100 and info["n_chunks"] == 2
    # splice an odd-length ANNO chunk before COMM: walker must still
    # find COMM after skipping the pad byte
    anno = b"ANNO" + struct.pack(">I", 3) + b"abc" + b"\x00"
    body = base[8:12] + anno + base[12:]
    spliced = b"FORM" + struct.pack(">I", len(body)) + body
    info2 = mm.parse_aiff_comm(spliced)
    assert info2["n_chunks"] == 3
    assert info2["sample_rate"] == 44100
    # corrupt the FORM size
    bad = b"FORM" + struct.pack(">I", len(body) + 4) + body
    with pytest.raises(ValueError, match="disagrees"):
        mm.parse_aiff_comm(bad)
