"""Oracle + semantics tests for the queries in operators/staged_r17.py,
with independent references."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.operators import staged_r17
from tests.conftest import assert_query_matches_oracle, registered_in


@pytest.mark.parametrize("name", registered_in(staged_r17))
def test_staged_r17_matches_oracle(spark, duck, sf_dir, name):
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


def _write_emb(tmp_path, vecs, labels=None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(vecs)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(labels or [0] * n, pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )


# --- q107: ordered funnel -------------------------------------------------------


def test_funnel_requires_strict_order(spark, tmp_path):
    """User 1 completes view<click<purchase; user 2 clicks BEFORE its
    view (no step-2 credit); user 3 views and purchases but never
    clicks (no step-3 credit — order, not set membership)."""
    rows = [
        (1, "2024-01-01 01:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 02:00:00", 1, "click", 1.0, "{}"),
        (3, "2024-01-01 03:00:00", 1, "purchase", 1.0, "{}"),
        (4, "2024-01-01 05:00:00", 2, "view", 1.0, "{}"),
        (5, "2024-01-01 04:00:00", 2, "click", 1.0, "{}"),
        (6, "2024-01-01 01:00:00", 3, "view", 1.0, "{}"),
        (7, "2024-01-01 02:00:00", 3, "purchase", 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    out = {
        r.step: (r.n_users, r.conv_from_prev_ppm)
        for r in staged_r17.q107_funnel_steps(spark, str(tmp_path)).collect()
    }
    assert out[1] == (3, 1_000_000)
    assert out[2] == (1, 333_333)
    assert out[3] == (1, 1_000_000)


# --- sim_matryoshka_recall ---------------------------------------------------------


def test_matryoshka_detects_prefix_tail_divergence(spark, tmp_path):
    """Vectors whose 16-dim prefixes are IDENTICAL to the query but
    whose tails are opposite force the prefix ranking to differ from
    the full ranking — recall must drop below 1 for query 0, while a
    corpus whose tails are all zero gives recall 1.0 everywhere."""
    import numpy as np

    rng = np.random.RandomState(7)
    dim = 64
    # corpus A: information lives in the TAIL -> prefix ranking is blind
    vecs = []
    for i in range(30):
        v = np.zeros(dim)
        v[:16] = rng.rand(16)  # noisy shared prefix
        v[16 + (i % 48 // 8)] = 1.0 + i  # distinct tails
        vecs.append([float(x) for x in v])
    _write_emb(tmp_path, vecs)
    out = {
        r.query_id: r.recall
        for r in staged_r17.sim_matryoshka_recall(
            spark, str(tmp_path)
        ).collect()
    }
    assert len(out) == staged_r17.MRL_N_QUERIES
    assert min(out.values()) < 1.0
    # corpus B: tails all zero -> prefix IS the vector, recall exactly 1
    vecs2 = []
    for i in range(30):
        v = np.zeros(dim)
        v[:16] = rng.rand(16)
        vecs2.append([float(x) for x in v])
    _write_emb(tmp_path, vecs2)
    out2 = staged_r17.sim_matryoshka_recall(spark, str(tmp_path)).collect()
    assert all(r.recall == 1.0 for r in out2)


# --- curate_epoch_allocation ---------------------------------------------------------


def test_epoch_allocation_budget_math(spark, tmp_path):
    """total = 700 chars -> extra budget 350. Quality order c (300
    chars/doc) > b (150) > a (50); cumulative grants: c's 300 fits the
    350, b's cumulative 600 does not, a's 700 does not — so c trains
    two epochs, b and a one, and the ppm shares are exact."""
    rows = []
    did = 0
    for src_, n, total_chars in (("a", 2, 100), ("b", 2, 300), ("c", 1, 300)):
        per = total_chars // n
        for _ in range(n):
            rows.append((did, "x", "en", src_, per))
            did += 1
    _write_docs(spark, tmp_path, rows)
    out = {
        r.source: r
        for r in staged_r17.curate_epoch_allocation(
            spark, str(tmp_path)
        ).collect()
    }
    assert {s: r.epochs for s, r in out.items()} == {"c": 2, "b": 1, "a": 1}
    assert out["c"].alloc_tokens == 600
    assert out["b"].alloc_tokens == 300
    assert out["a"].alloc_tokens == 100
    assert out["c"].alloc_share_ppm == 600_000
    assert out["b"].alloc_share_ppm == 300_000
    assert out["a"].alloc_share_ppm == 100_000


def test_epoch_allocation_tiebreak_is_source_name(spark, tmp_path):
    """Three sources all at 100 chars/doc: the grant order must fall
    back to source name ascending, so with extra = 200 exactly two of
    x/y/z fit and z (last alphabetically) trains one epoch."""
    rows = [
        (0, "x", "en", "x", 100),
        (1, "x", "en", "y", 100),
        (2, "x", "en", "z", 100),
        (3, "x", "en", "z", 100),
    ]
    _write_docs(spark, tmp_path, rows)
    out = {
        r.source: r.epochs
        for r in staged_r17.curate_epoch_allocation(
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {"x": 2, "y": 2, "z": 1}


# --- mm_jpeg_exif ---------------------------------------------------------------------


def test_exif_roundtrip_and_tampering(spark):
    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    for be in (False, True):
        j = mm.encode_jpeg_exif(5, "Canon", "fw-1.2", big_endian=be)
        info = mm.parse_jpeg_exif(j)
        assert info["orientation"] == 5
        assert info["make_len"] == 5
        assert info["software_len"] == 6
        assert info["big_endian"] == int(be)
    # non-ascending tag ids must raise: swap the first two IFD entries
    j = bytearray(mm.encode_jpeg_exif(1, "A", "B"))
    tiff0 = j.index(b"Exif\x00\x00") + 6
    e0 = tiff0 + 10  # first entry start (header 8 + count 2)
    j[e0 : e0 + 12], j[e0 + 12 : e0 + 24] = (
        bytes(j[e0 + 12 : e0 + 24]),
        bytes(j[e0 : e0 + 12]),
    )
    with pytest.raises(ValueError, match="ascending"):
        mm.parse_jpeg_exif(bytes(j))
    with pytest.raises(ValueError, match="SOI"):
        mm.parse_jpeg_exif(b"\x89PNG....")
    with pytest.raises(ValueError, match="orientation"):
        mm.encode_jpeg_exif(9, "A", "B")
