"""Oracle + independent-reference tests for the unregistered candidate
queries in operators/staged_r25.py (DuckDB hash parity at the session
sf_dir, plus per-query independent checks the hash can't express)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from eeecs485_p4_mapreduce_spark.operators import staged_r25

REPO_ROOT = Path(__file__).resolve().parents[1]

# name -> (query function, DuckDB oracle SQL) for every candidate query
CANDIDATES = {
    "q136_ktruss_edges": (
        staged_r25.q136_ktruss_edges,
        staged_r25.Q136_KTRUSS_ORACLE,
    ),
    "q138_hill_tail_index": (
        staged_r25.q138_hill_tail_index,
        staged_r25.Q138_HILL_ORACLE,
    ),
    "q139_spearman_rho": (
        staged_r25.q139_spearman_rho,
        staged_r25.Q139_SPEARMAN_ORACLE,
    ),
    "sim_ivf_delta_upsert": (
        staged_r25.sim_ivf_delta_upsert,
        staged_r25.SIM_IVF_DELTA_ORACLE,
    ),
    "sim_ivf_upsert_search": (
        staged_r25.sim_ivf_upsert_search,
        staged_r25.SIM_IVF_UPSERT_SEARCH_ORACLE,
    ),
    "stream_ann_upsert": (
        staged_r25.stream_ann_upsert,
        staged_r25.STREAM_ANN_UPSERT_ORACLE,
    ),
    "mm_mpeg1_layer1_subbands": (
        staged_r25.mm_mpeg1_layer1_subbands,
        staged_r25.MM_L1_ORACLE,
    ),
    "mm_png_adam7": (staged_r25.mm_png_adam7, staged_r25.MM_ADAM7_ORACLE),
    "mm_zip64_eocd": (staged_r25.mm_zip64_eocd, staged_r25.MM_ZIP64_ORACLE),
    "dedup_winnowing": (
        staged_r25.dedup_winnowing,
        staged_r25.DEDUP_WINNOW_ORACLE,
    ),
    "q137_local_clustering": (
        staged_r25.q137_local_clustering,
        staged_r25.Q137_LCC_ORACLE,
    ),
    "q140_degree_assortativity": (
        staged_r25.q140_degree_assortativity,
        staged_r25.Q140_ASSORT_ORACLE,
    ),
    "ta_msttr_segments": (
        staged_r25.ta_msttr_segments,
        staged_r25.TA_MSTTR_ORACLE,
    ),
    "skew_join_amplification": (
        staged_r25.skew_join_amplification,
        staged_r25.SKEW_AMP_ORACLE,
    ),
    "sim_graph_delta_link": (
        staged_r25.sim_graph_delta_link,
        staged_r25.SIM_GRAPH_DELTA_ORACLE,
    ),
    "stream_join_amplification": (
        staged_r25.stream_join_amplification,
        staged_r25.SKEW_AMP_ORACLE,
    ),
}


def _flat_toks(text: str) -> list:
    # one tokenizer mirror, not two: reuse the module's own Python twin
    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import _py_toks

    return _py_toks(text.lower())


def test_staged_names_do_not_shadow_registered_queries():
    """The r13 lesson (a staged TIFF name collided with a registered
    r9 query, could never register, and its probe run overwrote the
    registered query's SCALING row): every candidate name must be new,
    or registering it would raise on the duplicate name."""
    from eeecs485_p4_mapreduce_spark import registry

    registry.load_all()
    clashes = set(CANDIDATES) & set(registry.QUERIES)
    assert not clashes, f"candidate names shadow registered queries: {clashes}"


@pytest.mark.parametrize("name", sorted(CANDIDATES))
def test_staged_r25_matches_oracle(spark, duck, sf_dir, name):
    sys.path.insert(0, str(REPO_ROOT / "tools"))
    from oracle_check import canon_lines, lines_hash

    fn, oracle = CANDIDATES[name]
    s_pd = fn(spark, sf_dir).toPandas()
    d_pd = duck.sql(oracle).df()
    assert len(s_pd) == len(d_pd), f"{name}: {len(s_pd)} != {len(d_pd)}"
    assert sorted(s_pd.columns) == sorted(d_pd.columns)
    assert lines_hash(canon_lines(s_pd)) == lines_hash(canon_lines(d_pd)), name


# --- q136 k-truss ------------------------------------------------------------


def test_ktruss_matches_python(spark, sf_dir):
    """Independent reference: brute-force triangle supports + peel in
    pure Python over the co-purchase edge set."""
    import duckdb

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        TRUSS_ROUNDS,
        q136_ktruss_edges,
    )

    con = duckdb.connect()
    rows = con.sql(
        f"""
        SELECT a.l_partkey, b.l_partkey
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM
              read_parquet('{table_path(sf_dir, "lineitem")}')) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM
              read_parquet('{table_path(sf_dir, "lineitem")}')) b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
        """
    ).fetchall()
    edges = {tuple(r) for r in rows}

    def supports(es: set) -> dict:
        adj: dict = {}
        for u, v in es:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        sup = {}
        for u, v in es:
            sup[(u, v)] = len(adj[u] & adj[v])
        return sup

    sup0 = supports(edges)
    n_tri3 = sum(sup0.values())
    t = max(1, n_tri3 // max(1, len(edges)))
    cur = set(edges)
    for _ in range(TRUSS_ROUNDS):
        sup = supports(cur)
        cur = {e for e in cur if sup[e] >= t}
    final_sup = supports(cur)
    got = {
        (r["part_a"], r["part_b"]): r["support"]
        for r in q136_ktruss_edges(spark, sf_dir).collect()
    }
    assert got == {e: final_sup[e] for e in cur}


def test_ktruss_threshold_bites(spark, sf_dir):
    """The data-derived threshold must actually peel: the surviving
    edge set is strictly smaller than the input edge set, and every
    survivor's support >= 1 would be vacuous — assert the peel dropped
    triangle-free edges."""
    import duckdb

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        q136_ktruss_edges,
    )

    con = duckdb.connect()
    n_edges = con.sql(
        f"""
        SELECT count(*) FROM (
          SELECT a.l_partkey, b.l_partkey
          FROM (SELECT DISTINCT l_orderkey, l_partkey FROM
                read_parquet('{table_path(sf_dir, "lineitem")}')) a
          JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM
                read_parquet('{table_path(sf_dir, "lineitem")}')) b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2)
        """
    ).fetchone()[0]
    survivors = q136_ktruss_edges(spark, sf_dir).count()
    assert 0 < survivors < n_edges


# --- q138 Hill estimator -----------------------------------------------------


def test_hill_matches_python(spark, duck, sf_dir):
    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        q138_hill_tail_index,
    )

    spend = sorted(
        (
            (int(c), int(k))
            for k, c in duck.sql(
                "SELECT o_custkey, CAST(sum(CAST(round(o_totalprice"
                " * 100) AS BIGINT)) AS BIGINT) FROM orders GROUP BY 1"
            ).fetchall()
        ),
        key=lambda r: (-r[0], r[1]),
    )
    n = len(spend)
    k = max(1, n // 100)
    x_ref = spend[k][0]
    bits = lambda x: x.bit_length()  # noqa: E731 — length(bin(x)) identity
    s = sum(bits(c) - bits(x_ref) for c, _ in spend[:k])
    got = q138_hill_tail_index(spark, sf_dir).collect()[0]
    assert got["n_customers"] == n
    assert got["k"] == k
    assert got["x_ref_cents"] == x_ref
    assert got["hill_bits_sum"] == s
    assert got["hill_milli"] == s * 1000 // k


# --- q139 Spearman -----------------------------------------------------------


def test_spearman_matches_scipy_style_python(spark, duck, sf_dir):
    """Independent reference: textbook Spearman (Pearson over average
    midranks, float arithmetic) must agree with the integer doubled-
    midrank form to float precision."""
    import math

    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        q139_spearman_rho,
    )

    rows = duck.sql(
        "SELECT CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) // 86400"
        " AS BIGINT), CAST(count(*) AS BIGINT),"
        " CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        " FROM orders GROUP BY 1"
    ).fetchall()
    xs = [r[1] for r in rows]
    ys = [r[2] for r in rows]

    def midrank(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            avg = (i + 1 + j) / 2.0
            for idx in order[i:j]:
                ranks[idx] = avg
            i = j
        return ranks

    rx, ry = midrank(xs), midrank(ys)
    n = len(rx)
    mx = sum(rx) / n
    my = sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = math.sqrt(sum((a - mx) ** 2 for a in rx)) * math.sqrt(
        sum((b - my) ** 2 for b in ry)
    )
    expected = num / den if den else 0.0
    got = q139_spearman_rho(spark, sf_dir).collect()[0]
    assert got["n_days"] == n
    assert abs(got["rho_r"] - expected) < 1e-5


# --- incremental ANN maintenance --------------------------------------------


def test_ivf_delta_upsert_totals(spark, duck, sf_dir):
    """Cell-level posting stats must re-aggregate to corpus-level
    truths computable without any centroid math: live/delta/tombstone
    counts and the live-id checksum."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        sim_ivf_delta_upsert,
    )

    n, n_delta_live, n_dead, sum_live = duck.sql(
        "SELECT count(*) FILTER (WHERE vec_id % 7 <> 0),"
        " count(*) FILTER (WHERE vec_id % 10 = 0 AND vec_id % 7 <> 0),"
        " count(*) FILTER (WHERE vec_id % 7 = 0),"
        " coalesce(sum(vec_id) FILTER (WHERE vec_id % 7 <> 0), 0)"
        " FROM embeddings"
    ).fetchone()
    rows = sim_ivf_delta_upsert(spark, sf_dir).collect()
    assert sum(r["n_live"] for r in rows) == n
    assert sum(r["n_from_delta"] for r in rows) == n_delta_live
    assert sum(r["n_tombstoned"] for r in rows) == n_dead
    assert sum(r["sum_live_ids"] for r in rows) == sum_live


def test_upsert_search_tombstones_and_visibility(spark, sf_dir):
    """Search over the upserted index must (a) never return a
    tombstoned vector, (b) never use a tombstoned query, (c) have
    consecutive ranks per query, and (d) surface at least one
    delta-inserted vector as a neighbor (insert visibility)."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        sim_ivf_upsert_search,
    )

    rows = sim_ivf_upsert_search(spark, sf_dir).collect()
    assert rows, "search returned nothing"
    assert all(r["neighbor_id"] % 7 != 0 for r in rows)
    assert all(r["query_id"] % 7 != 0 for r in rows)
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
    assert any(r["neighbor_id"] % 10 == 0 for r in rows), (
        "no delta-inserted vector ever surfaced as a neighbor"
    )


def test_stream_ann_upsert_equals_batch_path(spark, sf_dir):
    """The streaming fold and the batch delta-upsert must agree on
    the final per-cell live postings — the engine-vs-engine proof
    that micro-batched maintenance converges to the batch state."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        sim_ivf_delta_upsert,
        stream_ann_upsert,
    )

    batch = {
        r["assigned_label"]: (r["n_live"], r["sum_live_ids"])
        for r in sim_ivf_delta_upsert(spark, sf_dir).collect()
    }
    stream = {
        r["assigned_label"]: (r["n_live"], r["sum_live_ids"])
        for r in stream_ann_upsert(spark, sf_dir).collect()
    }
    assert stream == batch


# --- MPEG-1 Layer I ----------------------------------------------------------


def test_layer1_golden_header():
    """Hand-assembled header bytes: sync FFF, MPEG-1, Layer I, no CRC,
    160 kbps (idx 5), 48 kHz (idx 1), mono = FF FF 54 C4 (sync 12 +
    ID 1 + layer 11 + prot 1 = FFFF; bitrate 0101 + sr 01 + pad 0 +
    priv 0 = 54; mode 11 + ext 00 + copy 0 + orig 1 + emph 00 = C4);
    frame is slot-aligned at floor(12 * 160000 / 48000) * 4 = 160
    bytes."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_mpeg1_layer1,
        mpeg1_layer1_frame_bytes,
    )

    assert mpeg1_layer1_frame_bytes(5, 1) == 160
    alloc = [0] * 32
    scf: list = []
    blob = encode_mpeg1_layer1(1, 5, [(alloc, scf, [])])
    assert len(blob) == 160
    assert blob[:4] == bytes([0xFF, 0xFF, 0x54, 0xC4])
    # 32 x 4-bit zero allocations then zero pad to the slot length
    assert blob[4:] == bytes(156)


def test_layer1_roundtrip_fuzz():
    import random

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_mpeg1_layer1,
        parse_mpeg1_layer1_frames,
    )

    rng = random.Random(485)
    for _ in range(40):
        sr_idx = rng.randrange(3)
        alloc = [0] * 32
        for sb in rng.sample(range(32), rng.randrange(1, 12)):
            alloc[sb] = rng.randrange(1, 15)
        active = [i for i in range(32) if alloc[i]]
        scf = [rng.randrange(63) for _ in active]
        frames = []
        for _f in range(rng.randrange(1, 4)):
            samples = [
                rng.randrange(1 << (alloc[sb] + 1))
                for _g in range(12)
                for sb in active
            ]
            frames.append((alloc, scf, samples))
        blob = encode_mpeg1_layer1(sr_idx, 14, frames)  # 448 kbps fits
        dec = parse_mpeg1_layer1_frames(blob)
        assert dec["n_frames"] == len(frames)
        for f, (al, sc, sm) in zip(dec["frames"], frames):
            assert f["alloc"] == al and f["scf"] == sc and f["samples"] == sm
        assert dec["code_sum"] == sum(s for _, _, sm in frames for s in sm)


def test_layer1_strictness():
    import pytest as _pytest

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_mpeg1_layer1,
        mpeg1_layer1_synthesize,
        parse_mpeg1_layer1_frames,
    )

    alloc = [0] * 32
    alloc[0] = 3
    blob = encode_mpeg1_layer1(
        0, 5, [(alloc, [7], [5] * 12)]
    )
    # bad sync
    bad = bytearray(blob)
    bad[0] = 0x00
    with _pytest.raises(ValueError, match="sync"):
        parse_mpeg1_layer1_frames(bytes(bad))
    # forbidden allocation 15 (first alloc nibble lives in byte 4's
    # high nibble)
    bad = bytearray(blob)
    bad[4] = 0xF0 | (bad[4] & 0x0F)
    with _pytest.raises(ValueError, match="allocation 15"):
        parse_mpeg1_layer1_frames(bytes(bad))
    # truncation
    with _pytest.raises(ValueError, match="truncated"):
        parse_mpeg1_layer1_frames(blob[:-8] if len(blob) % 4 else blob[:30])
    # reserved bitrate index via the length helper
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        mpeg1_layer1_frame_bytes,
    )

    with _pytest.raises(ValueError, match="reserved"):
        mpeg1_layer1_frame_bytes(0, 1)
    # the synthesis filterbank is the declared stub
    with _pytest.raises(NotImplementedError):
        mpeg1_layer1_synthesize([])


# --- ZIP64 -------------------------------------------------------------------


def test_zip64_roundtrip_and_classic_rejection():
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_zip64,
        parse_zip64_entries,
        parse_zip_entries,
    )

    members = [
        ("a.txt", b"hello zip64 world"),
        ("dir/b.bin", bytes(range(256)) * 3),
        ("empty", b""),
    ]
    blob = encode_zip64(members)
    got, info = parse_zip64_entries(blob)
    assert got == [(n, len(p)) for n, p in members]
    assert info["n_crc_ok"] == 3
    assert info["payload_bytes"] == sum(len(p) for _, p in members)
    # the classic parser must refuse the sentineled archive rather
    # than misread it
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_zip_entries(blob)
    # and the zip64 parser must refuse a classic archive
    from eeecs485_p4_mapreduce_spark.operators.multimodal import encode_zip

    with _pytest.raises(ValueError, match="sentineled|locator|short"):
        parse_zip64_entries(encode_zip(members))


def test_zip64_tampering_raises():
    import struct

    import pytest as _pytest

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_zip64,
        parse_zip64_entries,
    )

    blob = encode_zip64([("x", b"payload")])
    # break the locator signature
    bad = bytearray(blob)
    bad[-42] ^= 0xFF
    with _pytest.raises(ValueError, match="locator"):
        parse_zip64_entries(bytes(bad))
    # point the EOCD64 offset out of bounds
    bad = bytearray(blob)
    bad[-34:-26] = struct.pack("<Q", len(blob))
    with _pytest.raises(ValueError, match="out of bounds"):
        parse_zip64_entries(bytes(bad))
    # corrupt the payload: CRC must count the member out
    bad = bytearray(blob)
    body_at = 30 + 1 + 20  # local header + name 'x' + zip64 extra
    bad[body_at] ^= 0xFF
    _members, info = parse_zip64_entries(bytes(bad))
    assert info["n_crc_ok"] == 0


# --- Adam7 geometry ----------------------------------------------------------


def test_adam7_tiny_shape_sweep():
    """Every (w, h) in 1..9 x 1..9 with every filter type round-trips
    through the interlaced encoder/decoder — the empty-pass geometry
    sweep (w or h of 1 leaves up to 3 passes empty)."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    rng = np.random.RandomState(485)
    for w in range(1, 10):
        for h in range(1, 10):
            px = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
            ft = (w + h) % 5
            got = decode_png_pixels(encode_png(px, ft, interlace=True))
            assert got.shape == (h, w)
            assert (got == px).all(), (w, h, ft)


# --- winnowing ---------------------------------------------------------------


def _winnow_python(text: str, k: int, w: int) -> set:
    import hashlib

    if len(text) < k:
        return set()
    grams = [
        int(hashlib.md5(text[i : i + k].encode()).hexdigest()[:8], 16)
        for i in range(len(text) - k + 1)
    ]
    if len(grams) < w:
        return set()
    sel = set()
    for j in range(len(grams) - w + 1):
        window = grams[j : j + w]
        m = min(window)
        # rightmost minimal hash in the window
        pos = j + max(i for i, h in enumerate(window) if h == m)
        sel.add((pos + 1, grams[pos]))
    return sel


def test_winnowing_matches_python(spark, duck, sf_dir):
    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        WINNOW_K,
        WINNOW_W,
        dedup_winnowing,
    )

    texts = dict(
        duck.sql("SELECT doc_id, text FROM documents LIMIT 50").fetchall()
    )
    got = {
        r["doc_id"]: r
        for r in dedup_winnowing(spark, sf_dir).collect()
        if r["doc_id"] in texts
    }
    for d, text in texts.items():
        sel = _winnow_python(text, WINNOW_K, WINNOW_W)
        assert got[d]["n_fp"] == len(sel), d
        assert got[d]["fp_sum"] == sum(h for _, h in sel), d


def test_winnowing_shared_substring_guarantee(spark, duck, tmp_path):
    """The MOSS property the operator exists for: two docs sharing a
    substring of length >= K + W - 1 MUST share a fingerprint; a doc
    with no such overlap shares none. Pinned on a crafted corpus
    (the r12 lesson: grain bugs hide when the fixture corpus lacks
    the distinguishing input)."""
    import pandas as pd

    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        dedup_winnowing,
    )

    common = "the quick brown fox jumps"
    corpus = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                f"alpha {common} omega",
                f"zzz {common} qqq",
                "completely unrelated text here",
                "tiny",  # < K chars: zero grams, zero fingerprints
            ],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
        }
    )
    d = tmp_path / "winnow"
    d.mkdir()
    corpus.to_parquet(d / "documents.parquet")
    rows = {r["doc_id"]: r for r in dedup_winnowing(spark, str(d)).collect()}
    assert rows[1]["n_shared_fp"] >= 1
    assert rows[2]["n_shared_fp"] >= 1
    assert rows[3]["n_shared_fp"] == 0
    assert rows[4]["n_fp"] == 0 and rows[4]["n_grams"] == 0


def test_winnowing_overlong_doc_fails_loudly(spark, tmp_path):
    """The positional-key-domain guard must actually FIRE (the review
    found the first version was a withColumn+drop Catalyst pruned to
    dead code): a doc at 2^20 chars must raise, not silently corrupt
    fingerprints."""
    import pandas as pd
    import pytest as _pytest

    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        _WINNOW_MAXPOS,
        dedup_winnowing,
    )

    corpus = pd.DataFrame(
        {
            "doc_id": [1],
            "text": ["a" * _WINNOW_MAXPOS],
            "lang": ["en"],
            "source": ["s"],
        }
    )
    d = tmp_path / "overlong"
    d.mkdir()
    corpus.to_parquet(d / "documents.parquet")
    with _pytest.raises(Exception, match="positional key domain"):
        dedup_winnowing(spark, str(d)).collect()


def test_zip64_forged_xlen_raises_valueerror():
    """A forged central xlen walking past the archive end must raise
    ValueError (the walker contract), never struct.error (review
    repro)."""
    import struct

    import pytest as _pytest

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_zip64,
        parse_zip64_entries,
    )

    blob = bytearray(encode_zip64([("x", b"payload")]))
    # central entry starts right after the one local record
    cd_off = 30 + 1 + 20 + 7
    assert struct.unpack_from("<I", blob, cd_off)[0] == 0x02014B50
    # xlen field sits at central offset +30; forge it huge and retag
    # the extra field so the walker keeps scanning past the buffer
    struct.pack_into("<H", blob, cd_off + 30, 60000)
    struct.pack_into("<H", blob, cd_off + 46 + 1, 0x9999)
    with _pytest.raises(ValueError):
        parse_zip64_entries(bytes(blob))


# --- q137 / q140 / ta_msttr --------------------------------------------------


def test_local_clustering_matches_python(spark, duck, sf_dir):
    """Brute-force per-node triangle counts + lcc over the co-purchase
    edge set."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        q137_local_clustering,
    )

    rows = duck.sql(
        """
        SELECT a.l_partkey, b.l_partkey
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
        """
    ).fetchall()
    adj: dict = {}
    for u, v in rows:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    got = {
        r["part"]: r for r in q137_local_clustering(spark, sf_dir).collect()
    }
    assert set(got) == set(adj)
    for node, nbrs in adj.items():
        deg = len(nbrs)
        tri = sum(
            1
            for a in nbrs
            for b in nbrs
            if a < b and b in adj.get(a, ())
        )
        r = got[node]
        assert r["degree"] == deg and r["n_triangles"] == tri, node
        exp = 2 * tri * 1_000_000 // (deg * (deg - 1)) if deg >= 2 else 0
        assert r["lcc_ppm"] == exp, node


def test_assortativity_matches_python(spark, duck, sf_dir):
    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        q140_degree_assortativity,
    )

    rows = duck.sql(
        """
        SELECT a.l_partkey, b.l_partkey
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
        """
    ).fetchall()
    deg: dict = {}
    for u, v in rows:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    pairs = [(deg[u], deg[v]) for u, v in rows]
    pairs += [(y, x) for x, y in pairs]
    m2 = len(pairs)
    sx = sum(x for x, _ in pairs)
    sxx = sum(x * x for x, _ in pairs)
    sxy = sum(x * y for x, y in pairs)
    got = q140_degree_assortativity(spark, sf_dir).collect()[0]
    assert got["n_endpoint_pairs"] == m2
    assert got["deg_sum"] == sx
    assert got["deg_sq_sum"] == sxx
    assert got["deg_prod_sum"] == sxy
    den = m2 * sxx - sx * sx
    exp = (m2 * sxy - sx * sx) / den if den else 0.0
    assert abs(got["assortativity_r"] - exp) < 1e-6


def test_msttr_matches_python(spark, duck, sf_dir):
    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        MSTTR_SEG,
        ta_msttr_segments,
    )

    texts = dict(
        duck.sql("SELECT doc_id, text FROM documents LIMIT 60").fetchall()
    )
    got = {
        r["doc_id"]: r
        for r in ta_msttr_segments(spark, sf_dir).collect()
        if r["doc_id"] in texts
    }
    for d, text in texts.items():
        toks = _flat_toks(text)
        n_seg = len(toks) // MSTTR_SEG
        dsum = sum(
            len(set(toks[s * MSTTR_SEG : (s + 1) * MSTTR_SEG]))
            for s in range(n_seg)
        )
        r = got[d]
        assert r["n_tokens"] == len(toks), d
        assert r["n_segments"] == n_seg, d
        assert r["distinct_sum"] == dsum, d
        exp = (
            dsum * 1_000_000 // (n_seg * MSTTR_SEG) if n_seg else 0
        )
        assert r["msttr_ppm"] == exp, d


def test_join_amplification_matches_python(spark, duck, sf_dir):
    """The estimate must equal the true executed join size (computed
    by DuckDB actually running the join) — the whole point of the
    histogram method."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        TOPK_AMP,
        skew_join_amplification,
    )

    true_rows = duck.sql(
        "SELECT count(*) FROM"
        " (SELECT l_partkey FROM lineitem WHERE l_suppkey % 2 = 0) a"
        " JOIN"
        " (SELECT l_partkey FROM lineitem WHERE l_suppkey % 2 = 1) b"
        " ON a.l_partkey = b.l_partkey"
    ).fetchone()[0]
    got = skew_join_amplification(spark, sf_dir).collect()[0]
    assert got["est_rows"] == true_rows
    amps = sorted(
        (
            r[0]
            for r in duck.sql(
                "SELECT nl * nr FROM"
                " (SELECT l_partkey k, count(*) nl FROM lineitem"
                "  WHERE l_suppkey % 2 = 0 GROUP BY 1) a"
                " JOIN"
                " (SELECT l_partkey k, count(*) nr FROM lineitem"
                "  WHERE l_suppkey % 2 = 1 GROUP BY 1) b USING (k)"
            ).fetchall()
        ),
        reverse=True,
    )
    assert got["max_amp"] == amps[0]
    assert (
        got[f"top{TOPK_AMP}_share_ppm"]
        == sum(amps[:TOPK_AMP]) * 1_000_000 // sum(amps)
    )


def test_graph_delta_link_matches_python(spark, duck, sf_dir):
    """Independent reference: recompute RP-LSH bands and the exact
    top-M banded links in pure Python (integer quantized sign bits,
    float cosine) and compare the full link set."""
    import math

    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        RP_BPB,
        RP_PLANES,
        RP_SCALE,
        _rp_planes,
    )
    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        GD_BATCH,
        GD_M,
        sim_graph_delta_link,
    )

    rows = duck.sql(
        "SELECT vec_id, embedding::DOUBLE[] FROM embeddings"
    ).fetchall()
    planes = _rp_planes()
    bands: dict = {}
    vecs: dict = {}
    for vid, v in rows:
        vecs[vid] = v
        vq = [math.floor(x * RP_SCALE) for x in v]
        bits = [
            1 if sum(a * b for a, b in zip(vq, planes[j])) > 0 else 0
            for j in range(RP_PLANES)
        ]
        bands[vid] = [
            sum(bits[RP_BPB * b + r] << r for r in range(RP_BPB))
            for b in range(RP_PLANES // RP_BPB)
        ]
    base_ids = [vid for vid in vecs if vid % 10 != 0]
    expected = {}
    for vid in vecs:
        if vid % 10 != 0 or vid >= 10 * GD_BATCH:
            continue
        cands = {
            b
            for b in base_ids
            if any(x == y for x, y in zip(bands[vid], bands[b]))
        }
        scored = []
        for b in cands:
            dot = sum(x * y for x, y in zip(vecs[vid], vecs[b]))
            na = math.sqrt(sum(x * x for x in vecs[vid]))
            nb = math.sqrt(sum(x * x for x in vecs[b]))
            scored.append((round(dot / (na * nb), 6) + 0.0, b))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for r, (c, b) in enumerate(scored[:GD_M], 1):
            expected[(vid, r)] = (b, c)
    got = {
        (r["new_id"], r["link_rank"]): (r["neighbor_id"], r["cos_r"])
        for r in sim_graph_delta_link(spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert got[k][0] == expected[k][0], k
        assert abs(got[k][1] - expected[k][1]) < 2e-6, k


def test_stream_join_amplification_equals_batch_path(spark, sf_dir):
    """The incrementally folded histogram must yield exactly the batch
    audit's numbers — micro-batched maintenance converges to the
    batch state."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r25 import (
        skew_join_amplification,
        stream_join_amplification,
    )

    batch = skew_join_amplification(spark, sf_dir).collect()[0]
    stream = stream_join_amplification(spark, sf_dir).collect()[0]
    assert stream.asDict() == batch.asDict()
