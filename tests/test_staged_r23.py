"""Oracle + independent-reference tests for the queries in
operators/staged_r23.py: DuckDB hash parity at the session sf_dir, plus
per-query checks the hash can't express."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from eeecs485_p4_mapreduce_spark.operators import staged_r23
from tests.conftest import assert_query_matches_oracle, registered_in

REPO_ROOT = Path(__file__).resolve().parents[1]


@pytest.mark.parametrize("name", registered_in(staged_r23))
def test_staged_r23_matches_oracle(spark, duck, sf_dir, name):
    assert_query_matches_oracle(spark, duck, sf_dir, name)


# --- parquet data-page decoder ------------------------------------------------


def test_datapage_decoder_matches_native_read(spark, sf_dir):
    """Byte-level decode == pyarrow's own read of the same file, row
    for row — the library-free decoder against the reference reader."""
    import pyarrow.parquet as pq

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_parquet_int64_string,
    )
    from eeecs485_p4_mapreduce_spark.operators.staged_r23 import (
        _pq_datapage_spool,
    )

    spool = _pq_datapage_spool(spark, sf_dir)
    files = sorted(Path(spool).glob("shard-*.parquet"))
    assert len(files) >= 4
    for f in files[:3]:
        rows = decode_parquet_int64_string(
            f.read_bytes(), "doc_id", "source"
        )
        native = pq.read_table(str(f)).to_pylist()
        assert [(r["doc_id"], r["source"]) for r in rows] == [
            (r["doc_id"], r["source"]) for r in native
        ]
        # row-group geometry must match the file's real metadata
        md = pq.ParquetFile(str(f)).metadata
        seen = sorted({(r["rg_ordinal"], r["rg_rows"]) for r in rows})
        real = [
            (i, md.row_group(i).num_rows)
            for i in range(md.num_row_groups)
        ]
        assert seen == real


def test_datapage_decoder_is_strict():
    """Malformed inputs raise, never mis-decode: bad magic, truncated
    footer, and a compressed file (the decoder's declared boundary)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import io

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_parquet_int64_string,
    )

    with pytest.raises(ValueError, match="magic"):
        decode_parquet_int64_string(b"NOPE" + b"\0" * 20, "a", "b")

    schema = pa.schema(
        [
            pa.field("doc_id", pa.int64(), nullable=False),
            pa.field("source", pa.string(), nullable=False),
        ]
    )
    t = pa.table(
        {"doc_id": [1, 2], "source": ["x", "y"]}, schema=schema
    )
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="snappy")
    with pytest.raises(ValueError, match="compress"):
        decode_parquet_int64_string(buf.getvalue(), "doc_id", "source")

    buf2 = io.BytesIO()
    pq.write_table(
        t, buf2, compression="NONE", data_page_version="1.0"
    )
    good = buf2.getvalue()
    assert [
        r["doc_id"]
        for r in decode_parquet_int64_string(good, "doc_id", "source")
    ] == [1, 2]
    with pytest.raises(ValueError):
        decode_parquet_int64_string(good[:-6], "doc_id", "source")


# --- zlib/deflate decoder -------------------------------------------------------


def test_inflate_roundtrip_fuzz():
    """Hand decoder == zlib's own compressor over ~450 seeded payloads
    covering ALL three block types: empty, tiny, repetitive (long LZ77
    back-references incl. the 258-byte max match and dist==len overlap
    copies), incompressible random bytes, wide-alphabet text (dynamic
    blocks), and multi-block streams forced with Z_FULL_FLUSH."""
    import random
    import zlib

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        inflate_zlib,
    )

    rng = random.Random(485)
    payloads = [b"", b"a", b"ab" * 200, b"x" * 300, bytes(range(256))]
    for _ in range(100):
        n = rng.randrange(0, 400)
        payloads.append(bytes(rng.randrange(256) for _ in range(n)))
        word = bytes(rng.randrange(97, 123) for _ in range(rng.randrange(1, 9)))
        payloads.append(word * rng.randrange(1, 80))
        vocab = [
            bytes(rng.randrange(97, 123) for _ in range(rng.randrange(2, 10)))
            for _ in range(30)
        ]
        payloads.append(b" ".join(rng.choice(vocab) for _ in range(120)))

    saw_dynamic = False
    for i, p in enumerate(payloads):
        for strategy, level in (
            (zlib.Z_FIXED, 6),
            (None, 0),
            (zlib.Z_DEFAULT_STRATEGY, 9),
        ):
            if strategy is None:
                co = zlib.compressobj(level, zlib.DEFLATED, 15)
            else:
                co = zlib.compressobj(level, zlib.DEFLATED, 15, 9, strategy)
            if i % 3 == 0 and len(p) > 10:  # multi-block stream
                half = len(p) // 2
                blob = (
                    co.compress(p[:half])
                    + co.flush(zlib.Z_FULL_FLUSH)
                    + co.compress(p[half:])
                    + co.flush()
                )
            else:
                blob = co.compress(p) + co.flush()
            dec, info = inflate_zlib(blob)
            assert dec == p
            assert info["adler32"] == zlib.adler32(p)
            assert info["comp_bytes"] == len(blob)
            if strategy is None:
                assert info["n_fixed"] == 0, "level 0 must be all stored"
            if strategy == zlib.Z_FIXED:
                assert info["n_dynamic"] == 0
            saw_dynamic = saw_dynamic or info["n_dynamic"] > 0
    assert saw_dynamic, "fuzz corpus never exercised BTYPE=10"


def test_inflate_is_strict():
    """Every malformation class raises, never mis-decodes: wrong CM,
    failed header check, FDICT, LEN/NLEN corruption, truncation at any
    byte, an Adler-32 trailer mismatch, and the dynamic-header
    malformations (over-subscribed code lengths, zero-length
    end-of-block, code-length-run overflow, repeat-with-no-previous,
    empty code-length code)."""
    import zlib

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        _BitReader,
        _dynamic_tables,
        inflate_zlib,
    )

    co = zlib.compressobj(6, zlib.DEFLATED, 15, 9, zlib.Z_FIXED)
    payload = b"the quick brown fox " * 4
    good = co.compress(payload) + co.flush()
    assert inflate_zlib(good)[0] == payload

    with pytest.raises(ValueError, match="CM"):
        inflate_zlib(bytes([0x79]) + good[1:])  # CM=9
    with pytest.raises(ValueError, match="header check"):
        inflate_zlib(bytes([good[0], good[1] ^ 0x01]) + good[2:])
    # FDICT set, FCHECK recomputed so only the dict bit is at fault
    cmf = good[0]
    flg = (good[1] | 0x20) & 0xE0
    flg |= (31 - (cmf * 256 + flg) % 31) % 31
    with pytest.raises(ValueError, match="FDICT"):
        inflate_zlib(bytes([cmf, flg]) + good[2:])
    # stored block with corrupted NLEN
    co0 = zlib.compressobj(0, zlib.DEFLATED, 15)
    stored = co0.compress(payload) + co0.flush()
    with pytest.raises(ValueError, match="LEN/NLEN"):
        inflate_zlib(stored[:5] + bytes([stored[5] ^ 0xFF]) + stored[6:])
    for cut in range(1, len(good)):
        with pytest.raises(ValueError):
            inflate_zlib(good[:cut])
    with pytest.raises(ValueError, match="adler32"):
        inflate_zlib(good[:-1] + bytes([good[-1] ^ 0x01]))

    # --- hand-crafted malformed DYNAMIC headers (fed straight to the
    # header reader: no valid zlib encoder can emit these) ---
    def bits(*fields) -> bytes:
        buf, acc, nb = bytearray(), 0, 0
        for value, width in fields:
            acc |= value << nb
            nb += width
            while nb >= 8:
                buf.append(acc & 0xFF)
                acc >>= 8
                nb -= 8
        if nb:
            buf.append(acc & 0xFF)
        return bytes(buf)

    def dyn_header(cl_lengths_by_order, *symbol_bits):
        fields = [(0, 5), (0, 5), (len(cl_lengths_by_order) - 4, 4)]
        fields += [(ln, 3) for ln in cl_lengths_by_order]
        fields += list(symbol_bits)
        fields.append((0, 64))  # padding so truncation never fires first
        return _BitReader(bits(*fields))

    with pytest.raises(ValueError, match="over-subscribed"):
        _dynamic_tables(dyn_header([1, 1, 1, 0]))  # syms 16,17,18 @ 1 bit
    with pytest.raises(ValueError, match="empty code-length"):
        _dynamic_tables(dyn_header([0, 0, 0, 0]))
    # cl code {sym0: 0b0, sym16: 0b1}; first symbol is the repeat
    with pytest.raises(ValueError, match="no previous length"):
        _dynamic_tables(dyn_header([1, 0, 0, 1], (1, 1)))
    # cl code {sym0: 0b0, sym18: 0b1}; two max-run zero-fills = 276 > 258
    with pytest.raises(ValueError, match="overflows HLIT"):
        _dynamic_tables(
            dyn_header([0, 0, 1, 1], (1, 1), (127, 7), (1, 1), (127, 7))
        )
    # cl code {sym1: 0b0, sym18: 0b1}; 1 + 138 + 119 = 258 lengths but
    # the end-of-block symbol (256) is left at zero length
    cl = [0] * 18
    cl[2] = 1  # sym 18
    cl[17] = 1  # sym 1
    with pytest.raises(ValueError, match="end-of-block"):
        _dynamic_tables(
            dyn_header(cl, (0, 1), (1, 1), (127, 7), (1, 1), (108, 7))
        )


def test_inflate_mutation_fuzz():
    """Single-bit flips anywhere in a valid stream must either raise
    or still decode to the exact original payload (flips in the
    spec-ignored padding bits are the only silent survivors — the
    Adler-32 trailer catches every payload-changing corruption)."""
    import zlib

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        inflate_zlib,
    )

    payload = b"mutation fuzz target with repeats repeats repeats"
    co = zlib.compressobj(6, zlib.DEFLATED, 15, 9, zlib.Z_FIXED)
    fixed_blob = co.compress(payload) + co.flush()
    dyn_payload = (
        b"dynamic mutation corpus: many distinct words so zlib elects"
        b" a dynamic tree here, once twice thrice quartus quintus"
    ) * 3
    dyn_blob = zlib.compress(dyn_payload, 9)
    assert inflate_zlib(dyn_blob)[1]["n_dynamic"] > 0
    for good, want in ((fixed_blob, payload), (dyn_blob, dyn_payload)):
        for byte_i in range(len(good)):
            for bit in range(8):
                mut = bytearray(good)
                mut[byte_i] ^= 1 << bit
                try:
                    dec, _info = inflate_zlib(bytes(mut))
                except ValueError:
                    continue
                assert dec == want, f"silent mis-decode at {byte_i}.{bit}"


# --- keyword-in-context concordance ---------------------------------------------


def test_kwic_matches_python(spark, sf_dir):
    """Independent pure-Python concordance (dictionary derivation,
    hit positions, context slicing) must agree row-for-row, and the
    windows must actually be clipped at doc edges."""
    from collections import Counter

    import duckdb

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.operators.staged_r23 import (
        KWIC_CTX,
        KWIC_MIN_LEN,
        KWIC_TOP_TERMS,
        ta_kwic_concordance,
    )

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM"
        f" read_parquet('{table_path(sf_dir, 'documents')}')"
    ).fetchall()

    def toks(t):
        out = []
        for x in t.lower().split(" "):
            out.extend(x.split("\t"))
        return out

    counts = Counter(
        tok for _d, t in docs for tok in toks(t) if len(tok) >= KWIC_MIN_LEN
    )
    terms = set(
        tok
        for tok, _c in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            :KWIC_TOP_TERMS
        ]
    )
    expect = set()
    for d, t in docs:
        tk = toks(t)
        for i0, tok in enumerate(tk):
            if tok in terms:
                left = " ".join(tk[max(0, i0 - KWIC_CTX) : i0])
                right = " ".join(tk[i0 + 1 : i0 + 1 + KWIC_CTX])
                expect.add((tok, d, i0 + 1, left, right))
    got = {
        (r.term, r.doc_id, r.pos, r.left_ctx, r.right_ctx)
        for r in ta_kwic_concordance(spark, sf_dir).collect()
    }
    assert got == expect
    assert any(p == 1 for _t, _d, p, _l, _r in expect), "no edge-clipped hit"
    assert any(
        len(left.split(" ")) == KWIC_CTX for _t, _d, _p, left, _r in expect
    ), "no full left window in fixture"


# --- two-phase salted top-N -------------------------------------------------------


def test_twophase_topn_matches_python(spark, sf_dir):
    """Pure-Python per-type sort must agree row-for-row, and the
    no-loss property behind the pattern must be exercised: at least
    one type's global top-N spans multiple salt shards (so phase 2
    is actually merging, not rubber-stamping one shard)."""
    import duckdb

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.operators.staged_r23 import (
        TOPN_N,
        TOPN_SALTS,
        skew_twophase_topn,
    )

    ev = duckdb.sql(
        f"SELECT event_type, event_id, value FROM"
        f" read_parquet('{table_path(sf_dir, 'events')}')"
    ).fetchall()
    by_type: dict[str, list] = {}
    for t, eid, v in ev:
        by_type.setdefault(t, []).append((eid, v))
    expect = set()
    for t, rows in by_type.items():
        rows.sort(key=lambda r: (r[1] is None, -(r[1] or 0.0), r[0]))
        for rnk, (eid, v) in enumerate(rows[:TOPN_N], start=1):
            expect.add((t, rnk, eid, v))
    got = {
        (r.event_type, r.rnk, r.event_id, r.value)
        for r in skew_twophase_topn(spark, sf_dir).collect()
    }
    assert got == expect

    # no-loss property is only exercised if some top-N set straddles salts
    from pyspark.sql import functions as F

    salted = (
        spark.createDataFrame(
            [(t, eid) for t, rnk, eid, v in expect],
            ["event_type", "event_id"],
        )
        .select(
            "event_type",
            F.pmod(F.xxhash64(F.col("event_id")), F.lit(TOPN_SALTS)).alias(
                "s"
            ),
        )
        .groupBy("event_type")
        .agg(F.countDistinct("s").alias("n_shards"))
        .collect()
    )
    assert any(r.n_shards > 1 for r in salted), (
        "every top-N landed in one salt shard; fixture too small to"
        " exercise the merge"
    )


# --- DoReMi domain-reweighting step ----------------------------------------------


def test_doremi_step_matches_python(spark, sf_dir):
    """Independent pure-Python reimplementation of the whole update
    (loss proxy, clip, multiplicative factor, renormalize, smooth)
    in plain ints must agree exactly, and the mixture invariants
    must hold: final weights within a floor-rounding unit of 10000,
    every weight positive, direction of the update matches the sign
    of the excess loss."""
    import duckdb

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.operators.staged_r23 import (
        DOREMI_CLIP_C,
        DOREMI_ETA,
        DOREMI_SMOOTH_DEN,
        DOREMI_SMOOTH_NUM,
        curate_doremi_step,
    )

    docs = duckdb.sql(
        f"SELECT source, text FROM"
        f" read_parquet('{table_path(sf_dir, 'documents')}')"
    ).fetchall()
    dom: dict[str, list[int]] = {}
    for src, t in docs:
        n = 1
        toks = []
        for x in t.lower().split(" "):
            toks.extend(x.split("\t"))
        dom.setdefault(src, [0, 0])
        dom[src][0] += n
        dom[src][1] += len(toks)
    t_docs = sum(v[0] for v in dom.values())
    t_tokens = sum(v[1] for v in dom.values())
    mean_c = t_tokens * 100 // t_docs
    expect = {}
    us = {}
    for src, (n_docs, n_tokens) in dom.items():
        loss_c = n_tokens * 100 // n_docs
        excess = max(-DOREMI_CLIP_C, min(DOREMI_CLIP_C, loss_c - mean_c))
        base_bp = n_tokens * 10000 // t_tokens
        us[src] = base_bp * (100000 + DOREMI_ETA * excess)
        expect[src] = (n_docs, n_tokens, loss_c, excess, base_bp)
    sum_u = sum(us.values())
    rows = {r.source: r for r in curate_doremi_step(spark, sf_dir).collect()}
    assert set(rows) == set(dom)
    total_final = 0
    for src, (n_docs, n_tokens, loss_c, excess, base_bp) in expect.items():
        w_bp = us[src] * 10000 // sum_u
        f_bp = (
            DOREMI_SMOOTH_NUM * w_bp + 10000 // len(dom)
        ) // DOREMI_SMOOTH_DEN
        r = rows[src]
        assert (
            r.n_docs, r.n_tokens, r.loss_c, r.excess_c,
            r.base_bp, r.weight_bp, r.final_bp,
        ) == (n_docs, n_tokens, loss_c, excess, base_bp, w_bp, f_bp), src
        assert r.final_bp > 0
        if excess > 0:
            assert r.weight_bp >= r.base_bp - 1, "upweight on excess loss"
        total_final += r.final_bp
    assert len(dom) >= 2, "single-domain fixture makes this vacuous"
    assert 10000 - 2 * len(dom) <= total_final <= 10000


# --- Kaplan-Meier survival -------------------------------------------------------


def test_survival_km_matches_python(spark, sf_dir):
    """Independent pure-Python product-limit estimator (direct
    product form, not the engine's exp-sum-log) must agree to the
    rounding grain, and the curve must obey KM invariants:
    survival non-increasing, n_risk strictly decreasing, n_risk ==
    #subjects with duration >= t."""
    import duckdb

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.operators.staged_r23 import (
        q128_survival_km,
    )

    subj = duckdb.sql(
        f"""
        SELECT date_diff('day', o.o_orderdate, max(l.l_shipdate)) AS dur,
               max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS ev
        FROM read_parquet('{table_path(sf_dir, 'orders')}') o
        JOIN read_parquet('{table_path(sf_dir, 'lineitem')}') l
          ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
        """
    ).fetchall()
    durs = sorted({d for d, _e in subj})
    s = 1.0
    expect = {}
    for t in durs:
        n_risk = sum(1 for d, _e in subj if d >= t)
        d_ev = sum(1 for d, e in subj if d == t and e)
        s *= (n_risk - d_ev) / n_risk
        if d_ev:
            expect[t] = (n_risk, d_ev, s)

    rows = sorted(
        (r.t, r.n_risk, r.n_event, r.survival)
        for r in q128_survival_km(spark, sf_dir).collect()
    )
    assert [t for t, *_ in rows] == sorted(expect)
    prev_s, prev_risk = 1.0 + 1e-12, None
    for t, n_risk, n_event, surv in rows:
        e_risk, e_ev, e_s = expect[t]
        assert (n_risk, n_event) == (e_risk, e_ev), t
        assert abs(surv - e_s) < 1e-6, (t, surv, e_s)
        assert surv <= prev_s, "survival must be non-increasing"
        assert prev_risk is None or n_risk < prev_risk
        prev_s, prev_risk = surv, n_risk
    assert len(rows) >= 10, "fixture too event-poor; KM test vacuous"


# --- bloom contamination screen ------------------------------------------------


def test_bloom_contamination_matches_python(spark, sf_dir):
    """Independent hashlib reimplementation of the whole screen (build
    + probe) must agree row-for-row — and the Bloom no-false-negative
    guarantee must hold: every train doc sharing an exact window with
    the eval split is flagged."""
    import hashlib

    import duckdb

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.operators.staged_r23 import (
        BLOOM_EVAL_MOD,
        BLOOM_K,
        BLOOM_W,
        curate_bloom_contamination,
    )

    docs = duckdb.sql(
        f"SELECT doc_id, lower(text) AS t FROM"
        f" read_parquet('{table_path(sf_dir, 'documents')}')"
    ).fetchall()

    def windows(t: str):
        toks = [x for x in t.split(" ")]
        flat = []
        for tok in toks:
            flat.extend(tok.split("\t"))
        toks = flat
        return [
            " ".join(toks[i : i + BLOOM_W])
            for i in range(len(toks) - BLOOM_W + 1)
        ]

    def probes(win: str):
        h = hashlib.md5(win.encode()).hexdigest()
        return [int(h[4 * i : 4 * i + 4], 16) for i in range(BLOOM_K)]

    bits: set[int] = set()
    eval_wins: set[str] = set()
    for d, t in docs:
        if d % BLOOM_EVAL_MOD == 0:
            for w in windows(t):
                eval_wins.add(w)
                bits.update(probes(w))

    expect = {}
    exact_contaminated = set()
    for d, t in docs:
        if d % BLOOM_EVAL_MOD == 0:
            continue
        # distinct windows per doc — the engine/oracle shingle grain
        wins = list(dict.fromkeys(windows(t)))
        if not wins:
            continue
        hits = sum(1 for w in wins if all(p in bits for p in probes(w)))
        if any(w in eval_wins for w in wins):
            exact_contaminated.add(d)
        if hits:
            expect[d] = (len(wins), hits, hits * 1_000_000 // len(wins))

    out = {
        r.doc_id: (r.n_shingles, r.n_hits, r.hit_ppm)
        for r in curate_bloom_contamination(spark, sf_dir).collect()
    }
    assert out == expect
    assert expect, "no contamination in fixture; test is vacuous"
    # Bloom never misses: exact-overlap docs are a subset of flagged.
    assert exact_contaminated <= set(out)


# --- unicode canonical dedup ----------------------------------------------------


def test_unicode_canonical_group_structure(spark, sf_dir):
    """The adversarial-variant contract: for every COMPLETE group of 4
    docs sharing a base snippet (with a vowel, so the accent variants
    differ from the plain ones), the fold must produce exactly TWO
    canonical groups of two — {plain, fullwidth-upper} and
    {precomposed, combining+respaced}. Accented text must never
    collapse into unaccented (no over-folding), and unicodedata.NFC
    agreement is pinned on the combining variants."""
    import unicodedata

    import duckdb

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.operators.staged_r23 import (
        dedup_unicode_canonical,
    )

    rows = dedup_unicode_canonical(spark, sf_dir).collect()
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM"
        f" read_parquet('{table_path(sf_dir, 'documents')}')"
    ).fetchone()[0]

    by_group: dict[int, list] = {}
    for r in rows:
        assert r.survivor_doc // 4 == r.last_doc // 4, (
            "canonical group crosses a base group (bases are unique)"
        )
        by_group.setdefault(r.survivor_doc // 4, []).append(r)

    complete = [
        g
        for g, rs in by_group.items()
        if (g + 1) * 4 <= n_docs and sum(r.n_variants for r in rs) == 4
    ]
    assert complete, "no complete groups; test is vacuous"
    two_by_two = 0
    for g in complete:
        rs = by_group[g]
        sizes = sorted(r.n_variants for r in rs)
        # every base carries vowels, so 2+2 is the only legal split
        assert sizes == [2, 2], (g, sizes)
        if True:
            two_by_two += 1
            plain = min(rs, key=lambda r: r.survivor_doc)
            acc = max(rs, key=lambda r: r.survivor_doc)
            assert plain.survivor_doc % 4 == 0
            assert plain.last_doc % 4 == 1
            assert acc.survivor_doc % 4 == 2
            assert acc.last_doc % 4 == 3
            # NFC agreement: the accented canonical IS NFC-normal
            assert unicodedata.normalize("NFC", acc.canonical) == (
                acc.canonical
            )
            assert any(ord(ch) > 127 for ch in acc.canonical)
            assert all(ord(ch) < 128 for ch in plain.canonical)
    assert two_by_two > 0, "no vowel groups; test is vacuous"


# --- content-defined chunking ---------------------------------------------------


def _cdc_chunks_py(text: str):
    import hashlib

    from eeecs485_p4_mapreduce_spark.operators.staged_r23 import CDC_MOD

    toks = []
    for t in text.lower().split(" "):
        toks.extend(t.split("\t"))
    chunks, cur = [], []
    for t in toks:
        cur.append(t)
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        if h % CDC_MOD == 0:
            chunks.append(" ".join(cur))
            cur = []
    if cur:
        chunks.append(" ".join(cur))
    return chunks


def test_cdc_chunking_matches_python(spark, sf_dir):
    """Independent hashlib reimplementation of boundary detection,
    chunk assembly, fingerprinting, and the cross-doc aggregate."""
    import hashlib

    import duckdb

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.operators.staged_r23 import (
        CDC_MIN_TOKENS,
        dedup_cdc_chunking,
    )

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM"
        f" read_parquet('{table_path(sf_dir, 'documents')}')"
    ).fetchall()
    per_fp: dict[int, list] = {}
    for d, t in docs:
        for c in _cdc_chunks_py(t):
            if len(c.split(" ")) < CDC_MIN_TOKENS:
                continue
            fp = int(hashlib.md5(c.encode()).hexdigest()[:12], 16)
            per_fp.setdefault(fp, []).append((d, len(c.split(" "))))
    expect = {
        fp: (
            min(ln for _d, ln in occ),
            len({d for d, _ln in occ}),
            len(occ),
            min(d for d, _ln in occ),
        )
        for fp, occ in per_fp.items()
        if len({d for d, _ln in occ}) > 1
    }
    out = {
        r.fp: (r.tok_len, r.n_docs, r.n_occurrences, r.first_doc)
        for r in dedup_cdc_chunking(spark, sf_dir).collect()
    }
    assert out == expect
    assert expect, "no shared chunks in fixture; test is vacuous"


def test_cdc_resynchronization_property():
    """The reason CDC exists: prepending an arbitrary prefix shifts
    every token position, yet all chunks after the first boundary
    inside the original text are IDENTICAL — aligned fixed-size
    chunking (dedup_chunk_shared) shares nothing in this scenario."""
    base = (
        "the fast key order sort table scan merge part window small"
        " hash scan join order batch value group data filter line"
    )
    shifted = "totally different preamble words here " + base
    a, b = _cdc_chunks_py(base), _cdc_chunks_py(shifted)
    # every chunk of `base` after its first boundary appears verbatim
    # in the shifted stream's chunk list
    assert len(a) >= 3, "fixture text too boundary-poor; pick longer"
    shared = set(a[1:]) & set(b)
    assert shared == set(a[1:])


# --- adversarial-grain mini-corpus (review regression) ---------------------------


def test_bloom_and_cdc_adversarial_grain(spark, tmp_path):
    """The driver corpora contain no intra-doc duplicate shingles and
    no empty tokens, so the oracle hashes could not distinguish
    per-occurrence from per-distinct-window counting, or an
    empty-token chunk from a dropped one. This crafted corpus contains
    both; engine and oracle must still hash identically, and the
    adversarial structures must actually surface in the output."""
    import hashlib
    import sys

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eeecs485_p4_mapreduce_spark.operators.staged_r23 import (
        CDC_MOD,
        CURATE_BLOOM_ORACLE,
        DEDUP_CDC_ORACLE,
        curate_bloom_contamination,
        dedup_cdc_chunking,
    )

    sys.path.insert(0, str(REPO_ROOT / "tools"))
    from oracle_check import canon_lines, lines_hash

    # a token whose 32-bit md5 prefix is a CDC boundary
    btok = next(
        w
        for w in (f"tok{i}" for i in range(10_000))
        if int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % CDC_MOD == 0
    )
    five = "alpha beta gamma delta epsilon"
    docs = [
        (0, f"{five} filler words here"),  # eval split (0 % 97 == 0)
        (1, f"{five} mid bridge words {five}"),  # intra-doc repeat
        (2, f"{btok}  xx yy zz"),  # '' opens a chunk (double space)
        (3, f"{btok}  xx yy zz"),  # twin so the chunk crosses docs
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in docs], pa.int64()),
                "text": pa.array([t for _, t in docs], pa.string()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{tmp_path}/documents.parquet')"
    )

    for fn, oracle in (
        (curate_bloom_contamination, CURATE_BLOOM_ORACLE),
        (dedup_cdc_chunking, DEDUP_CDC_ORACLE),
    ):
        s_pd = fn(spark, str(tmp_path)).toPandas()
        d_pd = con.sql(oracle).df()
        assert len(s_pd) == len(d_pd), fn.__name__
        assert lines_hash(canon_lines(s_pd)) == lines_hash(
            canon_lines(d_pd)
        ), fn.__name__

    # the repeated shingle really was counted at distinct grain
    bloom = {
        r.doc_id: r for r in curate_bloom_contamination(
            spark, str(tmp_path)
        ).collect()
    }
    toks1 = docs[1][1].split(" ")
    n_distinct_wins = len({
        " ".join(toks1[i : i + 5]) for i in range(len(toks1) - 4)
    })
    assert bloom[1].n_shingles == n_distinct_wins
    # the empty token survived into the shared chunk (leading space)
    cdc = dedup_cdc_chunking(spark, str(tmp_path)).collect()
    shared = [r for r in cdc if r.n_docs == 2]
    assert any(r.tok_len == 4 for r in shared), (
        "chunk ' xx yy zz' (incl. its empty opener) must round-trip"
    )


# --- gzip member decoder ----------------------------------------------------------


def test_gzip_inflate_roundtrip_and_crc():
    """Hand decoder == the gzip module over seeded payloads (single
    and multi member, all compression levels), the hand CRC-32 equals
    zlib.crc32 on random inputs, and the CRC check value is pinned."""
    import gzip
    import random
    import zlib

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        _crc32_py,
        inflate_gzip_members,
    )

    assert _crc32_py(b"123456789") == 0xCBF43926
    rng = random.Random(1952)
    for _ in range(60):
        blobs, full = [], b""
        for _m in range(rng.randrange(1, 4)):
            n = rng.randrange(0, 600)
            if rng.random() < 0.5:
                p = bytes(rng.randrange(256) for _ in range(n))
            else:
                vocab = [
                    bytes(
                        rng.randrange(97, 123)
                        for _ in range(rng.randrange(2, 9))
                    )
                    for _ in range(20)
                ]
                p = b" ".join(rng.choice(vocab) for _ in range(n // 4))
            assert _crc32_py(p) == zlib.crc32(p) & 0xFFFFFFFF
            blobs.append(gzip.compress(p, rng.choice((0, 1, 6, 9))))
            full += p
        dec, info = inflate_gzip_members(b"".join(blobs))
        assert dec == full
        assert info["n_members"] == len(blobs)
        assert info["comp_bytes"] == sum(len(b) for b in blobs)


def test_gzip_inflate_is_strict():
    """Malformed members raise: bad magic/CM, reserved FLG, FHCRC
    mismatch, unterminated FNAME, FEXTRA subfield overrun, CRC32 and
    ISIZE trailer corruption, truncation at any byte."""
    import gzip
    import zlib

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        inflate_gzip_members,
    )

    payload = b"gzip strictness target " * 8
    good = gzip.compress(payload, 9)
    assert inflate_gzip_members(good)[0] == payload

    with pytest.raises(ValueError, match="empty"):
        inflate_gzip_members(b"")
    with pytest.raises(ValueError, match="magic"):
        inflate_gzip_members(b"\x1f\x8c" + good[2:])
    with pytest.raises(ValueError, match="compression method"):
        inflate_gzip_members(good[:2] + b"\x07" + good[3:])
    with pytest.raises(ValueError, match="reserved FLG"):
        inflate_gzip_members(good[:3] + bytes([good[3] | 0x80]) + good[4:])
    # FHCRC present but wrong: set the flag, append a bogus CRC16
    hdr = bytearray(good[:10])
    hdr[3] |= 0x02
    with pytest.raises(ValueError, match="FHCRC"):
        inflate_gzip_members(bytes(hdr) + b"\xde\xad" + good[10:])
    # FHCRC correct: must decode
    want = zlib.crc32(bytes(hdr)) & 0xFFFF
    ok = bytes(hdr) + want.to_bytes(2, "little") + good[10:]
    assert inflate_gzip_members(ok)[0] == payload
    # unterminated FNAME
    hdr2 = bytearray(good[:10])
    hdr2[3] |= 0x08
    with pytest.raises(ValueError, match="unterminated"):
        inflate_gzip_members(bytes(hdr2) + b"no zero byte anywhere here")
    # FEXTRA subfields overrunning XLEN
    hdr3 = bytearray(good[:10])
    hdr3[3] |= 0x04
    bad_extra = (6).to_bytes(2, "little") + b"GZ" + (9).to_bytes(
        2, "little"
    ) + b"xx"
    with pytest.raises(ValueError, match="FEXTRA"):
        inflate_gzip_members(bytes(hdr3) + bad_extra + good[10:])
    # trailer corruption
    with pytest.raises(ValueError, match="CRC32"):
        inflate_gzip_members(
            good[:-8] + bytes([good[-8] ^ 1]) + good[-7:]
        )
    with pytest.raises(ValueError, match="ISIZE"):
        inflate_gzip_members(
            good[:-1] + bytes([good[-1] ^ 1])
        )
    for cut in range(1, len(good)):
        with pytest.raises(ValueError):
            inflate_gzip_members(good[:cut])


def test_gzip_inflate_mutation_fuzz():
    """Single-bit flips anywhere in a valid 2-member stream either
    raise or decode to the exact original payload (the CRC32 trailer
    catches every payload-changing corruption; MTIME/XFL/OS bytes are
    the legal silent survivors)."""
    import gzip

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        inflate_gzip_members,
    )

    p = b"mutation corpus with words words words and more entropy 0123"
    good = gzip.compress(p, 9) + gzip.compress(p[::-1], 6)
    want = p + p[::-1]
    assert inflate_gzip_members(good)[0] == want
    for byte_i in range(len(good)):
        for bit in range(8):
            mut = bytearray(good)
            mut[byte_i] ^= 1 << bit
            try:
                dec, _info = inflate_gzip_members(bytes(mut))
            except ValueError:
                continue
            assert dec == want, f"silent mis-decode at {byte_i}.{bit}"


# --- greedy k-center coreset ------------------------------------------------------


def test_kcenter_matches_python(spark, sf_dir):
    """Independent numpy farthest-first traversal must pick the same
    centers in the same order, and the greedy invariant must hold:
    each round's winning distance is non-increasing (the k-center
    radius shrinks monotonically as centers are added)."""
    import duckdb
    import numpy as np

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.operators.staged_r23 import (
        CORESET_K,
        curate_coreset_kcenter,
    )

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM"
        f" read_parquet('{table_path(sf_dir, 'embeddings')}')"
        f" ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    X = np.array([r[1] for r in rows], dtype=np.float64)

    chosen = [0]  # min id is first after the ORDER BY
    dists = []
    dmin = ((X - X[0]) ** 2).sum(axis=1)
    for _ in range(1, CORESET_K):
        best = np.lexsort((ids, -dmin))[0]
        dists.append(dmin[best])
        chosen.append(best)
        dmin = np.minimum(dmin, ((X - X[best]) ** 2).sum(axis=1))

    got = sorted(
        (r.rank, r.id, r.dist_sq)
        for r in curate_coreset_kcenter(spark, sf_dir).collect()
    )
    assert [g[1] for g in got] == [int(ids[c]) for c in chosen]
    assert got[0][2] == 0.0
    for rank in range(1, CORESET_K):
        assert abs(got[rank][2] - dists[rank - 1]) < 1e-6, rank
    radii = [g[2] for g in got[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:])), (
        "greedy k-center radius must be non-increasing"
    )
    assert len(set(g[1] for g in got)) == CORESET_K, "duplicate center"


# --- k-core peeling ---------------------------------------------------------------


def test_kcore_on_empty_edge_table_matches_oracle(spark, sf_dir, tmp_path):
    """An empty lineitem table gives an empty edge set, whose degree sum
    is NULL: the peel must return the oracle's empty result, not raise."""
    import duckdb

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.registry import load_all
    from tests.conftest import assert_query_matches_oracle

    load_all()
    empty = str(tmp_path / "lineitem.parquet")
    spark.read.parquet(table_path(sf_dir, "lineitem")).limit(0).write.mode(
        "overwrite"
    ).parquet(empty)
    with duckdb.connect() as duck:
        duck.execute(
            "CREATE VIEW lineitem AS SELECT * FROM"
            f" read_parquet('{empty}/*.parquet')"
        )
        assert_query_matches_oracle(
            spark, duck, str(tmp_path), "q129_kcore_peel"
        )


def test_kcore_matches_python(spark, sf_dir):
    """Independent pure-Python peeling must agree node-for-node, the
    peel must actually remove something (non-vacuous fixture), and the
    fixed-round survivor set must contain the true k-core fixpoint
    (fixed rounds only ever over-approximate it)."""
    import duckdb

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.operators.staged_r23 import (
        KCORE_ROUNDS,
        q129_kcore_peel,
    )

    pairs = duckdb.sql(
        f"SELECT DISTINCT l_partkey * 2, l_suppkey * 2 + 1 FROM"
        f" read_parquet('{table_path(sf_dir, 'lineitem')}')"
    ).fetchall()
    kcore_k = len(pairs) // len({n for ab in pairs for n in ab})

    def peel(edges, rounds):
        for _ in range(rounds):
            deg: dict[int, int] = {}
            for a, b in edges:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {n for n, c in deg.items() if c >= kcore_k}
            nxt = [(a, b) for a, b in edges if a in keep and b in keep]
            if len(nxt) == len(edges):
                return edges, True  # fixpoint reached
            edges = nxt
        return edges, False

    edges, _fix = peel(list(pairs), KCORE_ROUNDS)
    expect: dict[int, int] = {}
    for a, b in edges:
        expect[a] = expect.get(a, 0) + 1
        expect[b] = expect.get(b, 0) + 1
    got = {r.node: r.degree for r in q129_kcore_peel(spark, sf_dir).collect()}
    assert got == expect
    n0 = len({n for ab in pairs for n in ab})
    assert len(got) < n0, "peel removed nothing; fixture vacuous"

    # true k-core (peel to fixpoint) must be a subset of the survivors
    core, _ = peel(list(pairs), 10_000)
    core_nodes = {n for ab in core for n in ab}
    assert core_nodes <= set(got)


# --- Poisson-bootstrap CI ---------------------------------------------------------


def test_bootstrap_ci_matches_python(spark, sf_dir):
    """Independent pure-Python replica construction (same md5 weight
    draws) must agree exactly; the interval must bracket the point
    estimate; and the hash-quantized weights must actually follow the
    Poisson(1) pmf on this corpus (so the CI is a bootstrap, not an
    artifact of degenerate weights)."""
    import hashlib

    import duckdb

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.operators.staged_r23 import (
        _BOOT_HI_IDX,
        _BOOT_LO_IDX,
        BOOT_B,
        q130_bootstrap_ci,
    )

    rows = duckdb.sql(
        f"SELECT o_orderpriority, o_orderkey,"
        f" CAST(round(o_totalprice * 100) AS BIGINT) FROM"
        f" read_parquet('{table_path(sf_dir, 'orders')}')"
    ).fetchall()

    def weight(okey: int, b: int) -> int:
        hx = hashlib.md5(f"{okey}:{b // 8}".encode()).hexdigest()
        h = int(hx[(b % 8) * 4 : (b % 8) * 4 + 4], 16)
        return (
            0 if h < 24109 else 1 if h < 48219 else 2 if h < 60273 else 3
        )

    est: dict = {}
    point: dict = {}
    wcount = [0, 0, 0, 0]
    for prio, okey, cents in rows:
        point.setdefault(prio, [0, 0])
        point[prio][0] += 1
        point[prio][1] += cents
        for b in range(BOOT_B):
            w = weight(okey, b)
            wcount[w] += 1
            s = est.setdefault((prio, b), [0, 0])
            s[0] += w
            s[1] += w * cents
    expect = {}
    for prio, (n, tot) in point.items():
        reps = sorted(
            (est[(prio, b)][1] // est[(prio, b)][0])
            if est[(prio, b)][0]
            else 0
            for b in range(BOOT_B)
        )
        expect[prio] = (
            n, tot // n, reps[_BOOT_LO_IDX - 1], reps[_BOOT_HI_IDX - 1]
        )
    got = {
        r.prio: (r.n_orders, r.mean_cents, r.boot_lo, r.boot_hi)
        for r in q130_bootstrap_ci(spark, sf_dir).collect()
    }
    assert got == expect
    for prio, (n, mean, lo, hi) in got.items():
        assert lo < hi, prio
        assert lo <= mean <= hi, (prio, lo, mean, hi)
    # weight draws follow Poisson(1)'s quantized pmf within 2%
    total = sum(wcount)
    for k, p in enumerate((0.3679, 0.3679, 0.1839, 0.0803)):
        assert abs(wcount[k] / total - p) < 0.02, (k, wcount)


def test_inflate_bomb_guard():
    """Deflate expands up to ~1032:1, so a tiny crafted stream can
    legally produce unbounded output; the decoder must cap expansion at
    ``max_output`` (ValueError, the family's strict-on-malformed
    discipline) across ALL three block types, while well-sized payloads
    at or under the cap still decode."""
    import zlib

    import pytest

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        inflate_zlib,
    )

    big = b"\x00" * 1_000_000
    bomb = zlib.compress(big, 9)  # ~1 KB blob -> 1 MB output
    assert len(bomb) < 2048
    with pytest.raises(ValueError, match="max_output"):
        inflate_zlib(bomb, max_output=65_536)
    # Huffman back-reference path, fixed blocks
    co = zlib.compressobj(6, zlib.DEFLATED, 15, 9, zlib.Z_FIXED)
    bomb_fixed = co.compress(big) + co.flush()
    with pytest.raises(ValueError, match="max_output"):
        inflate_zlib(bomb_fixed, max_output=65_536)
    # Stored-block path (level 0 writes stored blocks)
    co0 = zlib.compressobj(0, zlib.DEFLATED, 15)
    stored = co0.compress(b"s" * 200_000) + co0.flush()
    with pytest.raises(ValueError, match="max_output"):
        inflate_zlib(stored, max_output=100_000)
    # Exactly at the cap decodes fine; default cap unaffected.
    ok = zlib.compress(b"y" * 4096, 9)
    assert inflate_zlib(ok, max_output=4096)[0] == b"y" * 4096
    assert inflate_zlib(bomb)[0] == big
