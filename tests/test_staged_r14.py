"""Oracle + semantics tests for the queries in operators/staged_r14.py,
with independent references."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.operators import staged_r14
from eeecs485_p4_mapreduce_spark.operators.multimodal import (
    decode_bmp_rle8_pixels,
    encode_bmp_rle8,
)
from tests.conftest import assert_query_matches_oracle, registered_in


@pytest.mark.parametrize("name", registered_in(staged_r14))
def test_staged_r14_matches_oracle(spark, duck, sf_dir, name):
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


# --- q99: equi-depth bins ------------------------------------------------------


def test_equi_depth_boundaries_uniform_and_skewed(spark, tmp_path):
    """Uniform values put the quartiles at 1/2/3 cents; a point-mass
    distribution puts ALL quartile boundaries on the mass value —
    exactly what equi-depth bins should do under skew."""
    rows = []
    eid = 0
    for v in (0.01, 0.02, 0.03, 0.04):
        rows.append((eid, "2024-01-01 00:00:00", 1, "uni", v, "{}"))
        eid += 1
    for v in (0.05, 0.05, 0.05, 1.00):
        rows.append((eid, "2024-01-01 00:00:00", 1, "skew", v, "{}"))
        eid += 1
    _write_events(spark, tmp_path, rows)
    out = {
        (r.event_type, r.quartile): r.boundary_cents
        for r in staged_r14.q99_equi_depth_bins(
            spark, str(tmp_path)
        ).collect()
    }
    assert out[("uni", 1)] == 1
    assert out[("uni", 2)] == 2
    assert out[("uni", 3)] == 3
    assert out[("skew", 1)] == 5
    assert out[("skew", 2)] == 5
    assert out[("skew", 3)] == 5  # 3 of 4 rows sit on the mass point


# --- dedup_minhash_calibration ---------------------------------------------------


def test_calibration_identical_pair_scores_full_jaccard(spark, tmp_path):
    """Byte-identical docs are a 4-shared-band candidate with exact
    Jaccard 1.0; a partially-overlapping pair (if bucketed) must show
    the hand-computed Jaccard; everything stays within [0, 1e6]."""
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, dup, "en", "s", len(dup)),
        (1, dup, "en", "s", len(dup)),
        (2, "one two three four five six seven eight nine", "en", "s", 40),
    ]
    _write_docs(spark, tmp_path, rows)
    out = {
        r.shared_bands: r
        for r in staged_r14.dedup_minhash_calibration(
            spark, str(tmp_path)
        ).collect()
    }
    assert out[4].n_pairs == 1
    assert out[4].mean_jac_ppm == 1_000_000
    assert out[4].min_jac_ppm == out[4].max_jac_ppm == 1_000_000
    for r in out.values():
        assert 0 <= r.min_jac_ppm <= r.mean_jac_ppm <= r.max_jac_ppm <= 1_000_000


def test_calibration_is_monotone_on_sf_data(spark, duck, sf_dir):
    """On the driver corpus, more shared bands must mean a higher mean
    exact Jaccard — the S-curve property the audit exists to show."""
    rows = sorted(
        staged_r14.dedup_minhash_calibration(spark, sf_dir).collect(),
        key=lambda r: r.shared_bands,
    )
    means = [r.mean_jac_ppm for r in rows]
    assert means == sorted(means), means


# --- stream_dlq_routing ------------------------------------------------------------


def test_dlq_routes_injected_violations(spark, tmp_path):
    rows = [
        (0, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
        (1, "2024-01-01 01:00:00", 1, "click", 2.0, "{}"),
        (2, "2024-01-01 02:00:00", 2, "view", 3.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    out = {
        r.event_type: r.n_events
        for r in staged_r14.stream_dlq_routing(spark, str(tmp_path)).collect()
    }
    assert out == {
        "view": 2,
        "click": 1,
        "__dlq__": staged_r14.DLQ_BAD_ROWS,
    }


# --- mm_bmp_rle8 --------------------------------------------------------------------


def test_rle8_roundtrips_random_and_absolute_mode():
    """Random indices (worst case: many 1-runs) roundtrip exactly; a
    hand-crafted absolute-mode packet decodes per spec including the
    word-alignment pad byte."""
    rng = np.random.RandomState(3)
    pal = [(i * 5 % 256, i * 9 % 256, i * 2 % 256) for i in range(32)]
    idx = rng.randint(0, 32, (7, 11)).astype(np.uint8)
    px = decode_bmp_rle8_pixels(encode_bmp_rle8(idx, pal))
    assert np.array_equal(px, np.array(pal, np.uint8)[idx])
    # absolute mode: build a 1x5 image by hand — 0x00 0x05 then 5
    # indices then a pad byte (odd count), EOL, EOB
    base = bytearray(encode_bmp_rle8(np.zeros((1, 5), np.uint8), pal))
    offset = int.from_bytes(base[10:14], "little")
    body = bytes((0, 5, 1, 2, 3, 4, 5, 0)) + b"\x00\x00" + b"\x00\x01"
    blob = bytes(base[:offset]) + body
    blob = (
        blob[:2]
        + (offset + len(body)).to_bytes(4, "little")
        + blob[6:]
    )
    px2 = decode_bmp_rle8_pixels(blob)
    assert np.array_equal(
        px2, np.array(pal, np.uint8)[np.array([[1, 2, 3, 4, 5]])]
    )


def test_rle8_rejects_malformations():
    pal = [(0, 0, 0), (255, 255, 255)]
    blob = bytearray(encode_bmp_rle8(np.ones((2, 4), np.uint8), pal))
    offset = int.from_bytes(blob[10:14], "little")
    overrun = bytearray(blob)
    overrun[offset] = 200  # run of 200 into a 4-wide row
    with pytest.raises(ValueError, match="overruns row"):
        decode_bmp_rle8_pixels(bytes(overrun))
    delta = bytearray(blob)
    delta[offset : offset + 2] = bytes((0, 2))
    with pytest.raises(ValueError, match="delta"):
        decode_bmp_rle8_pixels(bytes(delta))
    with pytest.raises(ValueError, match="end-of-bitmap"):
        decode_bmp_rle8_pixels(bytes(blob[:-2]))


def test_rle8_query_checksum_and_compression(spark, tmp_path):
    _write_docs(spark, tmp_path, [(5, "t", "en", "s", 1)])
    r = staged_r14.mm_bmp_rle8(spark, str(tmp_path)).collect()[0]
    w, h = 40 + 5 % 200, 8 + 5 % 8
    pal = [((i * 7 + 5) % 256, (i * 11) % 256, (i * 13 + 1) % 256)
           for i in range(16)]
    exp_sum = sum(w * sum(pal[(5 + rr) % 16]) for rr in range(h))
    assert (r.width, r.height) == (w, h)
    assert r.pixel_sum == exp_sum
    assert r.body_bytes == h * 4 + 2  # one run + EOL per row, + EOB
    assert r.file_bytes == 1078 + r.body_bytes
    assert r.body_bytes * 4 < w * h  # genuinely compressed (~w/4 : 1)
