"""Oracle + independent-reference tests for the queries in
operators/staged_r24.py: DuckDB hash parity at the session sf_dir, plus
per-query checks the hash can't express."""

from __future__ import annotations

from pathlib import Path

import pytest

from eeecs485_p4_mapreduce_spark.operators import staged_r24
from tests.conftest import assert_query_matches_oracle, registered_in


@pytest.mark.parametrize("name", registered_in(staged_r24))
def test_staged_r24_matches_oracle(spark, duck, sf_dir, name):
    assert_query_matches_oracle(spark, duck, sf_dir, name)


# --- LZ4 block codec ---------------------------------------------------------


def test_lz4_roundtrip_fuzz():
    """Hand compressor -> hand decompressor over seeded payloads of
    every interesting shape: empty, tiny, highly repetitive (long and
    overlapping matches incl. offset < length RLE-style copies),
    incompressible random bytes, and word-soup text."""
    import random

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        lz4_block_compress,
        lz4_block_decompress,
    )

    rng = random.Random(485)
    payloads = [b"", b"a", b"ab" * 300, b"x" * 1000, bytes(range(256))]
    for _ in range(120):
        n = rng.randrange(0, 800)
        payloads.append(bytes(rng.randrange(256) for _ in range(n)))
        word = bytes(
            rng.randrange(97, 123) for _ in range(rng.randrange(1, 9))
        )
        payloads.append(word * rng.randrange(1, 120))
        vocab = [
            bytes(
                rng.randrange(97, 123)
                for _ in range(rng.randrange(2, 10))
            )
            for _ in range(30)
        ]
        payloads.append(b" ".join(rng.choice(vocab) for _ in range(150)))
    saw_match = False
    for p in payloads:
        blob = lz4_block_compress(p)
        dec, info = lz4_block_decompress(blob)
        assert dec == p
        saw_match = saw_match or info["n_matches"] > 0
        if len(p) > 64 and len(set(p)) <= 4:
            assert len(blob) < len(p), "repetitive input must compress"
    assert saw_match, "fuzz corpus never produced a match"


def test_lz4_golden_vector():
    """Known-answer check against a hand-assembled LZ4 sequence (the
    interop stand-in — no lz4 library exists in this container):
    token 0x54 = 5 literals + (4+4)-byte match, offset 5 makes the
    match copy the literals, then a literals-only terminator."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        lz4_block_decompress,
    )

    blob = bytes([0x54]) + b"abcde" + bytes([0x05, 0x00])
    blob += bytes([0x50]) + b"WORLD"
    dec, info = lz4_block_decompress(blob)
    assert dec == b"abcde" + b"abcdeabc" + b"WORLD"
    assert info["n_sequences"] == 2
    assert info["n_matches"] == 1
    assert info["match_bytes"] == 8

    # overlapping copy: offset 1 over a 1-byte history = RLE expansion
    blob2 = bytes([0x1F]) + b"z" + bytes([0x01, 0x00, 200]) + bytes(
        [0x00]
    )
    dec2, _ = lz4_block_decompress(blob2)
    assert dec2 == b"z" * (1 + 15 + 4 + 200)


def test_lz4_is_strict():
    import pytest as _pytest

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        lz4_block_compress,
        lz4_block_decompress,
    )

    good = lz4_block_compress(b"the quick brown fox " * 8)
    with _pytest.raises(ValueError):
        lz4_block_decompress(b"")
    for cut in range(1, len(good)):
        try:
            dec, _ = lz4_block_decompress(good[:cut])
            # a truncation that still parses must not silently equal
            # the full payload
            assert dec != lz4_block_decompress(good)[0]
        except ValueError:
            pass
    # zero offset
    with _pytest.raises(ValueError, match="zero"):
        lz4_block_decompress(
            bytes([0x14]) + b"a" + bytes([0x00, 0x00]) + bytes([0x00])
        )
    # back-reference before start
    with _pytest.raises(ValueError, match="before start"):
        lz4_block_decompress(
            bytes([0x14]) + b"a" + bytes([0x09, 0x00]) + bytes([0x00])
        )
    # bomb guard
    with _pytest.raises(ValueError, match="max_output"):
        lz4_block_decompress(
            bytes([0x1F]) + b"z" + bytes([0x01, 0x00, 255, 255, 200])
            + bytes([0x00]),
            max_output=256,
        )


def test_lz4_mutation_fuzz_only_valueerror():
    """Every single-byte mutation of a valid block either decodes to
    SOME bytes or raises ValueError — never an unhandled exception or
    a hang (the executor-safety property of the decoder family)."""
    import random

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        lz4_block_compress,
        lz4_block_decompress,
    )

    rng = random.Random(24)
    base = lz4_block_compress(b"lorem ipsum dolor sit amet " * 6)
    bad = []
    for _ in range(400):
        i = rng.randrange(len(base))
        mut = bytearray(base)
        mut[i] ^= 1 << rng.randrange(8)
        try:
            lz4_block_decompress(bytes(mut), max_output=1 << 16)
        except ValueError:
            pass
        except Exception as exc:  # noqa: BLE001
            bad.append((i, type(exc).__name__))
    assert not bad, bad[:5]


# --- TIFF --------------------------------------------------------------------


def test_tiff_strips_roundtrip_via_shared_codec():
    """mm_tiff_strip_decode rides the SAME encode_tiff/parse_tiff_ifds
    pair as the registered mm_tiff_ifd walker (no second IFD codec);
    the strips parameter must carry real pixel bytes through and the
    walker's strip_sum must be their exact checksum."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_tiff,
        parse_tiff_ifds,
    )

    px = bytes((i * 7 + 3) % 256 for i in range(31 * 17))
    r = parse_tiff_ifds(encode_tiff([(31, 17)], strips=[px]))
    assert (r["width0"], r["height0"], r["n_tags"], r["strip_sum"]) == (
        31,
        17,
        8,
        sum(px),
    )
    # multi-page with mixed strips
    a, b = bytes(range(12)), bytes(range(100, 106))
    r2 = parse_tiff_ifds(encode_tiff([(4, 3), (3, 2)], strips=[a, b]))
    assert r2["n_ifds"] == 2
    assert r2["strip_sum"] == sum(a) + sum(b)
    # default constant-fill path is unchanged
    r3 = parse_tiff_ifds(encode_tiff([(4, 3)], seed=5))
    assert r3["strip_sum"] == 12 * ((5 * 7) % 251)


def test_tiff_strips_param_is_strict():
    import pytest as _pytest

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_tiff,
    )

    with _pytest.raises(ValueError, match="strips count"):
        encode_tiff([(4, 3)], strips=[b"x" * 12, b"y" * 12])
    with _pytest.raises(ValueError, match="strip length"):
        encode_tiff([(4, 3)], strips=[b"x" * 11])


# --- RIFF / WebP -------------------------------------------------------------


def test_riff_webp_walk_and_padding():
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        build_webp_vp8l,
        walk_riff_webp,
    )

    for extra in (b"", b"x", b"xy", b"odd-length-payload!"):
        blob = build_webp_vp8l(640, 480, extra)
        r = walk_riff_webp(blob)
        assert (r["width"], r["height"]) == (640, 480)
        assert r["meta_bytes"] == len(extra)
        assert r["n_chunks"] == 2
        assert r["riff_size"] + 8 == len(blob)
    # 14-bit dimension extremes
    for w, h in ((1, 1), (1 << 14, 1 << 14)):
        r = walk_riff_webp(build_webp_vp8l(w, h, b"m"))
        assert (r["width"], r["height"]) == (w, h)


def test_riff_webp_is_strict():
    import pytest as _pytest

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        build_webp_vp8l,
        walk_riff_webp,
    )

    good = bytearray(build_webp_vp8l(10, 10, b"meta!"))
    with _pytest.raises(ValueError, match="RIFF"):
        walk_riff_webp(b"LIST" + bytes(good[4:]))
    mut = bytearray(good)
    mut[4] ^= 0xFF  # riff size wrong
    with _pytest.raises(ValueError, match="size"):
        walk_riff_webp(bytes(mut))
    mut = bytearray(good)
    mut[20] = 0x30  # VP8L signature byte
    with _pytest.raises(ValueError, match="VP8L"):
        walk_riff_webp(bytes(mut))
    with _pytest.raises(ValueError):
        walk_riff_webp(bytes(good[:-3]))


# --- parquet DataPageV2 / DELTA ----------------------------------------------


def test_datapage_v2_decoder_matches_native_read(spark, sf_dir):
    """Byte-level v2/delta decode == pyarrow's own read of the same
    shard files, row for row."""
    import pyarrow.parquet as pq

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_parquet_v2_delta,
    )
    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        _pq_v2_spool,
    )

    spool = _pq_v2_spool(spark, sf_dir)
    shards = sorted(Path(spool).glob("shard-*.parquet"))
    assert len(shards) >= 4
    checked = 0
    for shard in shards[:3]:
        data = shard.read_bytes()
        rows = decode_parquet_v2_delta(data, "doc_id", "source")
        native = pq.read_table(str(shard)).to_pylist()
        assert [r["doc_id"] for r in rows] == [
            r["doc_id"] for r in native
        ]
        assert [r["source"] for r in rows] == [
            r["source"] for r in native
        ]
        md = pq.ParquetFile(str(shard)).metadata
        encs = {
            md.row_group(rg).column(c).encodings
            for rg in range(md.num_row_groups)
            for c in range(md.num_columns)
        }
        assert any("DELTA_BINARY_PACKED" in e for e in encs)
        assert any("DELTA_LENGTH_BYTE_ARRAY" in e for e in encs)
        checked += len(rows)
    assert checked > 0


def test_datapage_v2_decoder_is_strict(spark, sf_dir):
    """v1 pages, dictionary encodings, and truncations must raise —
    the v2 decoder never silently mis-reads a layout it doesn't
    support."""
    import pytest as _pytest

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_parquet_v2_delta,
    )
    from eeecs485_p4_mapreduce_spark.operators.staged_r23 import (
        _pq_datapage_spool,
    )
    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        _pq_v2_spool,
    )

    v1 = sorted(Path(_pq_datapage_spool(spark, sf_dir)).glob("*.parquet"))
    with _pytest.raises(ValueError):
        decode_parquet_v2_delta(v1[0].read_bytes(), "doc_id", "source")
    v2 = sorted(Path(_pq_v2_spool(spark, sf_dir)).glob("*.parquet"))
    data = v2[0].read_bytes()
    with _pytest.raises(ValueError):
        decode_parquet_v2_delta(data[: len(data) // 2], "doc_id", "source")
    with _pytest.raises(ValueError, match="schema"):
        decode_parquet_v2_delta(data, "nope", "source")


def test_delta_binary_packed_negative_and_wide(tmp_path):
    """Adversarial delta streams straight through pyarrow: descending
    sequences (negative min-delta), wide jumps (big bit widths), and a
    constant column (bit width 0)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_parquet_v2_delta,
    )

    cases = [
        list(range(5000, 0, -7)),
        [0, 1 << 40, -(1 << 40), 17, -17, 0, 0, 1],
        [42] * 300,
    ]
    for i, ids in enumerate(cases):
        t = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "source": pa.array([f"s{j % 3}" for j in range(len(ids))]),
            }
        ).cast(
            pa.schema(
                [
                    pa.field("doc_id", pa.int64(), nullable=False),
                    pa.field("source", pa.string(), nullable=False),
                ]
            )
        )
        p = tmp_path / f"case-{i}.parquet"
        pq.write_table(
            t,
            str(p),
            compression="NONE",
            use_dictionary=False,
            column_encoding={
                "doc_id": "DELTA_BINARY_PACKED",
                "source": "DELTA_LENGTH_BYTE_ARRAY",
            },
            data_page_version="2.0",
            row_group_size=128,
        )
        rows = decode_parquet_v2_delta(p.read_bytes(), "doc_id", "source")
        assert [r["doc_id"] for r in rows] == ids


# --- analytics queries vs plain-python references ----------------------------


def _docs_pylist(duck):
    return duck.sql(
        "SELECT doc_id, lower(text) AS text, source FROM documents"
        " ORDER BY doc_id"
    ).fetchall()


def _py_toks(text: str) -> list:
    toks: list = []
    for t in text.split(" "):
        toks.extend(t.split("\t"))
    return toks


def test_ks_matches_python(spark, duck, sf_dir):
    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        q133_ks_test,
    )

    rows = duck.sql(
        "SELECT CAST(round(l_quantity) AS BIGINT),"
        " l_returnflag = 'R' FROM lineitem"
    ).fetchall()
    from collections import Counter

    ca: Counter = Counter()
    cb: Counter = Counter()
    for v, is_a in rows:
        (ca if is_a else cb)[v] += 1
    na, nb = sum(ca.values()), sum(cb.values())
    cuma = cumb = 0
    best = (-1, None)
    for v in sorted(set(ca) | set(cb)):
        cuma += ca.get(v, 0)
        cumb += cb.get(v, 0)
        gap = abs(cuma * nb - cumb * na)
        if gap > best[0]:
            best = (gap, v)
    got = q133_ks_test(spark, sf_dir).collect()[0]
    assert got["na"] == na and got["nb"] == nb
    assert got["d_num"] == best[0]
    assert abs(got["d_r"] - best[0] / (na * nb)) < 1e-6
    assert got["d_at_value"] == best[1]


def test_cusum_matches_python(spark, duck, sf_dir):
    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        q131_cusum_changepoint,
    )

    days = dict(
        duck.sql(
            "SELECT CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) // 86400"
            " AS BIGINT), count(*) FROM orders GROUP BY 1"
        ).fetchall()
    )
    n, t = len(days), sum(days.values())
    s = 0
    series = []
    for day in sorted(days):
        s += n * days[day] - t
        series.append((day, s))
    top = sorted(series, key=lambda r: (-abs(r[1]), r[0]))[:5]
    got = q131_cusum_changepoint(spark, sf_dir).collect()
    assert [(r["day"], r["s_scaled"]) for r in got] == top
    # the full CUSUM telescopes to zero — sanity of the scaling
    assert series[-1][1] == 0


def test_sax_matches_python(spark, duck, sf_dir):
    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        SAX_W,
        q132_sax_symbols,
    )

    daily = duck.sql(
        "SELECT CAST(epoch(CAST(l_shipdate AS TIMESTAMP)) // 86400"
        " AS BIGINT) AS day,"
        " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
        " AS BIGINT) FROM lineitem GROUP BY 1 ORDER BY day"
    ).fetchall()
    n = len(daily)
    segs: dict = {}
    for t_idx, (_, cents) in enumerate(daily):
        segs.setdefault(t_idx * SAX_W // n, []).append(cents)
    means = {
        s: sum(v) * 1000 // len(v) for s, v in segs.items()
    }
    ranked = sorted(means.items(), key=lambda kv: (kv[1], kv[0]))
    brk = [
        ranked[SAX_W // 4 - 1][1],
        ranked[SAX_W // 2 - 1][1],
        ranked[3 * SAX_W // 4 - 1][1],
    ]
    expect = {
        s: (
            len(v),
            means[s],
            chr(97 + sum(means[s] >= b for b in brk)),
        )
        for s, v in segs.items()
    }
    got = {
        r["seg"]: (r["n_days"], r["m_scaled"], r["symbol"])
        for r in q132_sax_symbols(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) == SAX_W


def test_range_balance_invariants(spark, duck, sf_dir):
    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        RB_BUCKETS,
        skew_range_balance,
    )

    rows = skew_range_balance(spark, sf_dir).collect()
    total = duck.sql("SELECT count(*) FROM lineitem").fetchone()[0]
    assert sum(r["n_rows"] for r in rows) == total
    assert all(0 <= r["bucket"] < RB_BUCKETS for r in rows)
    # splits from a uniform-ish key keep every bucket within a small
    # multiple of ideal — but ONLY once the 1-in-101 sample is dense
    # enough to place 31 split points (at sf0.001 ~50 sampled rows
    # leave whole-bucket gaps; the audit still reports them, which is
    # exactly its job). Gate the tightness check on sample density.
    ideal = 1000000 // RB_BUCKETS
    m = duck.sql(
        "SELECT count(*) FROM lineitem WHERE l_orderkey % 101 = 0"
    ).fetchone()[0]
    if m >= RB_BUCKETS * 8:
        assert max(r["share_ppm"] for r in rows) <= 3 * ideal
    assert max(r["share_ppm"] for r in rows) <= 250000  # never 25%+


def test_budget_cap_matches_python(spark, duck, sf_dir):
    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        curate_token_budget_cap,
    )

    docs = _docs_pylist(duck)
    by_src: dict = {}
    for doc_id, text, source in docs:
        by_src.setdefault(source, []).append(
            (doc_id, len(_py_toks(text)))
        )
    expect = set()
    for source, items in by_src.items():
        cap = sum(n for _, n in items) // 2
        run = 0
        for doc_id, n in sorted(items):
            if run + n > cap:
                break
            expect.add((doc_id, source, n, run))
            run += n
    got = {
        (r["doc_id"], r["source"], r["n_toks"], r["tok_before"])
        for r in curate_token_budget_cap(spark, sf_dir).collect()
    }
    assert got == expect
    assert expect, "budget cap kept nothing — vacuous fixture"


def test_renyi_matches_python(spark, duck, sf_dir):
    from collections import Counter

    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        ta_renyi_repetition,
    )

    docs = _docs_pylist(duck)
    got = {
        r["doc_id"]: (
            r["n_toks"],
            r["n_distinct"],
            r["sum_sq"],
            r["coll_ppm"],
        )
        for r in ta_renyi_repetition(spark, sf_dir).collect()
    }
    for doc_id, text, _ in docs[:40]:
        c = Counter(_py_toks(text))
        n = sum(c.values())
        ssq = sum(v * v for v in c.values())
        assert got[doc_id] == (
            n,
            len(c),
            ssq,
            ssq * 1000000 // (n * n),
        ), doc_id
    # a maximally repetitive doc would score 1e6; every doc is <= that
    assert all(v[3] <= 1000000 for v in got.values())


def test_dsir_matches_python(spark, duck, sf_dir):
    import hashlib

    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        DSIR_BUCKETS,
        DSIR_TARGET_MOD,
        ta_dsir_quantized,
    )

    docs = _docs_pylist(duck)

    def bkt(tok: str) -> int:
        return (
            int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            % DSIR_BUCKETS
        )

    tc: dict = {}
    bc: dict = {}
    for doc_id, text, _ in docs:
        tgt = doc_id % DSIR_TARGET_MOD == 0
        for t in _py_toks(text):
            b = bkt(t)
            d = tc if tgt else bc
            d[b] = d.get(b, 0) + 1
    wt = {
        b: len(bin(tc.get(b, 0) + 1)) - 2 - (len(bin(bc.get(b, 0) + 1)) - 2)
        for b in set(tc) | set(bc)
    }
    got = {
        r["doc_id"]: (r["n_toks"], r["dsir_q"])
        for r in ta_dsir_quantized(spark, sf_dir).collect()
    }
    for doc_id, text, _ in docs[:40]:
        toks = _py_toks(text)
        assert got[doc_id] == (
            len(toks),
            sum(wt[bkt(t)] for t in toks),
        ), doc_id
    # target docs should skew positive vs background on average
    tgt_scores = [
        v[1] / v[0]
        for k, v in got.items()
        if k % DSIR_TARGET_MOD == 0 and v[0]
    ]
    bg_scores = [
        v[1] / v[0]
        for k, v in got.items()
        if k % DSIR_TARGET_MOD != 0 and v[0]
    ]
    assert sum(tgt_scores) / len(tgt_scores) >= sum(bg_scores) / len(
        bg_scores
    )


def test_bbit_minhash_properties(spark, duck, sf_dir):
    """b-bit matches dominate full matches (a full match IS a b-bit
    match), the corrected estimate is sane, and one pair re-derived in
    plain python agrees."""
    import hashlib

    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        _MH_A,
        _MH_B,
        _MH_P,
        N_HASHES,
    )
    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        dedup_bbit_minhash,
    )

    rows = dedup_bbit_minhash(spark, sf_dir).collect()
    assert rows, "no candidate pairs — vacuous fixture"
    for r in rows:
        assert r["n_match_bbit"] >= r["n_match_full"]
        assert 0 <= r["est_bbit_ppm"] <= 1000000
        assert r["est_full_ppm"] == r["n_match_full"] * 1000000 // 16

    docs = dict(
        (d, t)
        for d, t, _ in _docs_pylist(duck)
    )

    def sig(doc_id: int) -> list:
        toks = _py_toks(docs[doc_id])
        shingles = {
            " ".join(toks[i : i + 3])
            for i in range(len(toks) - 2)
        }
        bases = [
            int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
            for s in shingles
        ]
        return [
            min((_MH_A[i] * b + _MH_B[i]) % _MH_P for b in bases)
            for i in range(N_HASHES)
        ]

    r0 = rows[0]
    sa, sb = sig(r0["doc_a"]), sig(r0["doc_b"])
    assert r0["n_match_full"] == sum(a == b for a, b in zip(sa, sb))
    assert r0["n_match_bbit"] == sum(
        a % 16 == b % 16 for a, b in zip(sa, sb)
    )


def test_rp_lsh_recall_vs_bruteforce(spark, duck, sf_dir):
    """LSH candidates + exact rerank must recover most of the true
    top-5 (recall@5 measured against a plain-python brute force) and
    every reported neighbor's cosine must be exact."""
    import math

    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        RP_NQ,
        RP_TOPK,
        sim_rp_lsh_cosine,
    )

    vecs = dict(
        duck.sql(
            "SELECT vec_id, embedding::DOUBLE[] FROM embeddings"
        ).fetchall()
    )

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a))
            * math.sqrt(sum(y * y for y in b))
        )

    truth = {}
    for q in range(RP_NQ):
        scored = sorted(
            (
                (round(cos(vecs[q], v), 6) + 0.0, nid)
                for nid, v in vecs.items()
                if nid != q
            ),
            key=lambda t: (-t[0], t[1]),
        )
        truth[q] = {nid for _, nid in scored[:RP_TOPK]}
    got: dict = {}
    for r in sim_rp_lsh_cosine(spark, sf_dir).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        expect = round(cos(vecs[r["query_id"]], vecs[r["neighbor_id"]]), 6)
        assert abs(r["cos_r"] - expect) < 1e-9
    hits = sum(len(got.get(q, set()) & truth[q]) for q in truth)
    recall = hits / (RP_NQ * RP_TOPK)
    assert recall >= 0.5, f"recall@{RP_TOPK} {recall:.2f}"


def test_stream_semantic_dedup_eliminates_rekeyed_dupes(
    spark, duck, sf_dir
):
    """The spool feeds strictly MORE rows than there are semantic
    events (the re-keyed fourth slice), so matching the distinct
    counts proves cross-batch state actually dropped the duplicates."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        stream_semantic_dedup,
    )

    got = {
        r["event_type"]: r["n_events"]
        for r in stream_semantic_dedup(spark, sf_dir).collect()
    }
    base = dict(
        duck.sql(
            "SELECT event_type, count(DISTINCT (user_id, ts))"
            " FROM events GROUP BY event_type"
        ).fetchall()
    )
    fed = dict(
        duck.sql(
            "SELECT event_type, count(*) + count(*) FILTER"
            " (WHERE event_id % 5 = 0) FROM events GROUP BY event_type"
        ).fetchall()
    )
    assert got == base
    assert sum(fed.values()) > sum(base.values()), (
        "no duplicates were injected — the test is vacuous"
    )


def test_delta_binary_packed_bomb_guard():
    """A crafted delta header claiming 2^40 values with bit-width-0
    miniblocks consumes no input while yielding values — the decoder
    must reject a total beyond the caller's max_values instead of
    expanding without bound (the inflate/lz4 bomb-guard discipline)."""
    import pytest as _pytest

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        _delta_binary_packed,
    )

    def uvarint(n: int) -> bytes:
        out = bytearray()
        while True:
            b = n & 0x7F
            n >>= 7
            out.append(b | (0x80 if n else 0))
            if not n:
                return bytes(out)

    # header: block 128, 4 miniblocks, total 2^40, first value 0;
    # then one block: min_delta 0, bit widths all 0 (no data bytes)
    bomb = (
        uvarint(128) + uvarint(4) + uvarint(1 << 40) + uvarint(0)
        + uvarint(0) + bytes([0, 0, 0, 0])
    )
    with _pytest.raises(ValueError, match="bomb"):
        _delta_binary_packed(bomb, 0, max_values=10_000)
    # an honest small run under the cap still decodes (first value and
    # min-delta are ZIGZAG varints: zigzag(10) = 20, zigzag(0) = 0)
    small = uvarint(128) + uvarint(4) + uvarint(3) + uvarint(20) + (
        uvarint(0) + bytes([0, 0, 0, 0])
    )
    vals, _ = _delta_binary_packed(small, 0, max_values=10_000)
    assert vals == [10, 10, 10]


def test_delta_page_values_absolute_ceiling():
    """The bomb cap must NOT be derivable from the crafted file alone:
    a header claiming num_values == total == 2^40 passes a
    total<=num_values comparison, so an absolute per-page ceiling has
    to reject it regardless of what the page header says."""
    import pytest as _pytest

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        _MAX_PQ_PAGE_VALUES,
        _delta_binary_packed,
    )

    def uvarint(n: int) -> bytes:
        out = bytearray()
        while True:
            b = n & 0x7F
            n >>= 7
            out.append(b | (0x80 if n else 0))
            if not n:
                return bytes(out)

    bomb = (
        uvarint(128) + uvarint(4) + uvarint(1 << 40) + uvarint(0)
        + uvarint(0) + bytes([0, 0, 0, 0])
    )
    # max_values colluding with the forged total must not bypass the cap
    with _pytest.raises(ValueError, match="bomb"):
        _delta_binary_packed(bomb, 0, max_values=1 << 40)
    assert _MAX_PQ_PAGE_VALUES < 1 << 40


def test_staged_names_do_not_shadow_registered_queries():
    """The r13 collision lesson: a query reusing a registered name must
    fail loudly instead of silently never registering. Re-registering
    any staged_r24 name raises, and the registry keeps the staged_r24
    function under it."""
    from eeecs485_p4_mapreduce_spark.registry import QUERIES, load_all, query

    load_all()
    names = registered_in(staged_r24)
    assert names
    for n in names:
        fn = QUERIES[n]
        with pytest.raises(ValueError, match="duplicate query name"):
            query(n)(lambda spark, sf_dir: None)
        assert QUERIES[n] is fn is getattr(staged_r24, fn.__name__)


def test_mann_whitney_matches_python(spark, duck, sf_dir):
    """Doubled-midrank arithmetic vs a from-scratch python rank-sum,
    plus the U_A + U_B = na*nb identity and the AUC/rank duality."""
    from collections import Counter

    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        q134_mann_whitney,
    )

    rows = duck.sql(
        "SELECT CAST(round(l_quantity) AS BIGINT),"
        " l_returnflag = 'R' FROM lineitem"
    ).fetchall()
    ca: Counter = Counter()
    cb: Counter = Counter()
    for v, is_a in rows:
        (ca if is_a else cb)[v] += 1
    na, nb = sum(ca.values()), sum(cb.values())
    # brute-force pairwise definition of U_A: wins + ties/2 (doubled)
    u2 = 0
    for va, n_a in ca.items():
        for vb, n_b in cb.items():
            if va > vb:
                u2 += 2 * n_a * n_b
            elif va == vb:
                u2 += n_a * n_b
    got = q134_mann_whitney(spark, sf_dir).collect()[0]
    assert (got["na"], got["nb"]) == (na, nb)
    assert got["u2_a"] == u2
    assert got["u2_a"] + got["u2_b"] == 2 * na * nb
    assert abs(got["auc_r"] - u2 / (2 * na * nb)) < 1e-6


def test_ewma_spikes_matches_python(spark, duck, sf_dir):
    """The aggregate() fold vs a plain python replay of the
    recurrence, including first-day semantics and the cross-multiplied
    spike rule."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r24 import (
        q135_ewma_spikes,
    )

    daily = duck.sql(
        "SELECT CAST(epoch(CAST(l_shipdate AS TIMESTAMP)) // 86400"
        " AS BIGINT) AS day,"
        " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
        " AS BIGINT) FROM lineitem GROUP BY 1 ORDER BY day"
    ).fetchall()
    expect = {}
    l_prev = None
    for day, y in daily:
        if l_prev is None:
            expect[day] = (y, y, 0, 0)
            l_prev = y
        else:
            l_new = (y + 4 * l_prev) // 5
            expect[day] = (
                y,
                l_new,
                l_prev,
                1 if y * 2 > 3 * l_prev else 0,
            )
            l_prev = l_new
    got = {
        r["day"]: (r["y"], r["ewma"], r["ewma_prev"], r["is_spike"])
        for r in q135_ewma_spikes(spark, sf_dir).collect()
    }
    assert got == expect
    assert any(v[3] for v in got.values()), "no spike days — vacuous"
