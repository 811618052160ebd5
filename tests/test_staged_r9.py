"""Oracle + semantics tests for the queries in operators/staged_r9.py.
Every operator gets a constructed-fixture test computed by an
INDEPENDENT reference (hand math, a tiny Python reimplementation, or a
stdlib implementation), because a shared semantic bug hash-matches its
own oracle (the q73/q77 lesson)."""

from __future__ import annotations

import hashlib
import io
import tarfile

import pytest
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.operators import staged_r9
from eeecs485_p4_mapreduce_spark.operators.multimodal import (
    encode_tar,
    encode_tiff,
    parse_tar_members,
    parse_tiff_ifds,
)
from tests.conftest import assert_query_matches_oracle, registered_in


@pytest.mark.parametrize("name", registered_in(staged_r9))
def test_staged_r9_matches_oracle(spark, duck, sf_dir, name):
    assert_query_matches_oracle(spark, duck, sf_dir, name)


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))


# --- q82: CSV roundtrip ----------------------------------------------------


def test_csv_roundtrip_preserves_adversarial_content(spark, tmp_path):
    """Quotes, commas, a backslash, leading/trailing spaces, and NULLs
    must all survive the sink->source roundtrip byte-exactly; expected
    aggregates are computed by plain Python over the same fixture."""
    rows = [
        (0, 'a "quoted" word here', "en", "s1", 11),   # doc 0: NULL (0%7==0)
        (1, "comma, separated, text", "en", "s1", 22),
        (2, "back\\slash and 'single'", "zh", "s1", 33),
        (3, "plain", "de", "s2", 44),
        (7, "seven is null too", "en", "s2", 55),      # doc 7: NULL
        (8, "  padded  ", "en", "s2", 66),
    ]
    _write_docs(spark, tmp_path, rows)
    out = {
        r.source: r
        for r in staged_r9.q82_csv_roundtrip(spark, str(tmp_path)).collect()
    }

    def tricky(text, lang):
        return f' "{lang}" , {text[:15]} '

    exp = {}
    for doc_id, text, lang, source, n_chars in rows:
        e = exp.setdefault(source, [0, 0, 0, 0, 10**9])
        e[0] += 1
        if doc_id % 7 == 0:
            e[1] += 1
        else:
            e[2] += len(tricky(text, lang))
        e[3] += n_chars
        e[4] = min(e[4], doc_id)
    for source, (n, nn, tl, sc, fd) in exp.items():
        r = out[source]
        assert (
            r.n_docs, r.n_null_tricky, r.sum_tricky_len, r.sum_chars,
            r.first_doc,
        ) == (n, nn, tl, sc, fd), source


# --- q83: BFS hops ----------------------------------------------------------


def _bfs_reference(keys):
    """Plain Python BFS over tree (node div 8 -> node, node >= 8) and
    shortcut (node div 64 -> node, node >= 64) edges."""
    from collections import deque

    keyset = set(keys)
    children = {}
    for k in keys:
        if k >= 8:
            children.setdefault(k // 8, []).append(k)
        if k >= 64:
            children.setdefault(k // 64, []).append(k)
    dist = {k: 0 for k in keys if k < 8}
    dq = deque(dist)
    while dq:
        u = dq.popleft()
        for v in children.get(u, []):
            if v in keyset and v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    return dist


def test_bfs_shortcut_beats_tree_path(spark, tmp_path):
    """Node 4160 is 4 tree hops from root 1 (4160->520->65->8->1) but 2
    hops via the div-64 shortcuts (1->65->4160); the query must report
    the min. Histogram checked against an independent Python BFS."""
    keys = list(range(8)) + [8, 65, 520, 4160]
    df = spark.createDataFrame(
        [(k, f"part{k}", "B", "T", 1, float(k)) for k in keys],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    ref = _bfs_reference(keys)
    # both deep nodes beat their tree depths via shortcuts: 520 is 3
    # tree hops (520->65->8->root) but 2 via 8 = 520 div 64; 4160 is 4
    # tree hops but 2 via 65 = 4160 div 64 (and 65 via 1 = 65 div 64)
    assert ref[4160] == 2 and ref[520] == 2
    exp = {}
    for k, d in ref.items():
        e = exp.setdefault(d, [0, 10**9, 0])
        e[0] += 1
        e[1] = min(e[1], k)
        e[2] += 100 * k  # cents = 100 * key
    out = {
        r.hop: (r.n_nodes, r.min_node, r.sum_cents)
        for r in staged_r9.q83_bfs_hops(spark, str(tmp_path)).collect()
    }
    assert out == {d: tuple(e) for d, e in exp.items()}


# --- dedup_url_canonical -----------------------------------------------------


def test_url_canonical_collapses_noise_not_real_params(spark, tmp_path):
    """Variants 0-2 (case/port/slash/fragment/utm noise) collapse to
    one canonical URL with survivor = min doc_id; variant 3 carries a
    real extra parameter and must stay separate."""
    rows = [(d, "t", "en", "s", 1) for d in range(8)]
    _write_docs(spark, tmp_path, rows)
    out = staged_r9.dedup_url_canonical(spark, str(tmp_path)).collect()
    by_canon = {r.canonical: r for r in out}
    assert len(out) == 4  # 2 groups x (noise-collapsed + real-param)
    c0 = "https://www.example0.com/articles/item-0?id=0"
    c0b = "https://www.example0.com/articles/item-0?b=2&id=0"
    assert by_canon[c0].n_urls == 3
    assert by_canon[c0].survivor_doc == 0
    assert by_canon[c0].last_doc == 2
    assert by_canon[c0b].n_urls == 1 and by_canon[c0b].survivor_doc == 3


# --- curate_rejection_sample -------------------------------------------------


def test_rejection_sample_matches_hashlib_reference(spark, tmp_path):
    """Acceptance must equal an independent hashlib.md5 computation of
    the same per-language hex thresholds, and tightening a threshold
    can only shrink the accepted set (monotone subset property)."""
    rows = [
        (d, "t", lang, "s", 10 + d)
        for d, lang in enumerate(["en"] * 40 + ["zh"] * 30 + ["de"] * 30)
    ]
    _write_docs(spark, tmp_path, rows)
    thresholds = {"en": "80", "zh": "4c"}

    def accepted(doc_id, lang):
        h = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
        return h < thresholds.get(lang, "1a")

    exp = {}
    for d, _t, lang, _s, n_chars in rows:
        e = exp.setdefault(lang, [0, 0, 0, -1])
        e[0] += 1
        if accepted(d, lang):
            e[1] += 1
            e[2] += n_chars
            if e[3] == -1:
                e[3] = d
    out = {
        r.lang: r
        for r in staged_r9.curate_rejection_sample(
            spark, str(tmp_path)
        ).collect()
    }
    for lang, (n, acc, chars, first) in exp.items():
        r = out[lang]
        assert (r.n_docs, r.n_accepted, r.accepted_chars,
                r.first_accepted) == (n, acc, chars, first), lang
        assert r.accept_ppm == acc * 1_000_000 // n
    # monotone subsets: every doc accepted under '1a' is accepted
    # under '4c', and every '4c' acceptance under '80'
    a1a = {d for d in range(100) if
           hashlib.md5(str(d).encode()).hexdigest()[:2] < "1a"}
    a4c = {d for d in range(100) if
           hashlib.md5(str(d).encode()).hexdigest()[:2] < "4c"}
    a80 = {d for d in range(100) if
           hashlib.md5(str(d).encode()).hexdigest()[:2] < "80"}
    assert a1a <= a4c <= a80


# --- ta_ndcg_eval ------------------------------------------------------------


def _ndcg_reference(docs, rank_tok, rel_tok, disc, k=10):
    scored = []
    for doc_id, text in docs:
        toks = text.split(" ")
        scored.append(
            (
                doc_id,
                toks.count(rank_tok),
                min(toks.count(rel_tok), 4),
            )
        )
    run = sorted(scored, key=lambda t: (-t[1], t[0]))[:k]
    ideal = sorted(scored, key=lambda t: (-t[2], t[0]))[:k]
    dcg = sum(((1 << r[2]) - 1) * disc[i] for i, r in enumerate(run))
    idcg = sum(((1 << r[2]) - 1) * disc[i] for i, r in enumerate(ideal))
    return dcg, idcg, dcg * 1_000_000 // max(idcg, 1)


def test_ndcg_matches_python_reference_and_perfect_control(spark, tmp_path):
    """12 crafted docs where the rank token only partially predicts the
    relevance token: NDCG must equal the independent Python reference
    and sit strictly between 0 and 1; the degenerate control (rank
    token == relevance token) must score exactly 1.0 (ppm 1000000)."""
    texts = []
    for d in range(12):
        # 'table' count descends with d; 'row' count follows a
        # different order so the run ranking is imperfect
        texts.append(
            (d, " ".join(["table"] * (12 - d) + ["row"] * ((d * 5) % 7)))
        )
    rows = [(d, t, "en", "s", len(t)) for d, t in texts]
    _write_docs(spark, tmp_path, rows)
    out = {
        r.query_name: r
        for r in staged_r9.ta_ndcg_eval(spark, str(tmp_path)).collect()
    }
    dcg, idcg, ppm = _ndcg_reference(
        texts, "table", "row", staged_r9.NDCG_DISC
    )
    r = out["q_table_row"]
    assert (r.dcg_e6, r.idcg_e6, r.ndcg_ppm) == (dcg, idcg, ppm)
    assert 0 < ppm < 1_000_000  # genuinely imperfect ranking
    # degenerate control: ranking by the relevance token itself is the
    # ideal ranking (ties break by doc_id on both sides identically)
    dcg2, idcg2, ppm2 = _ndcg_reference(
        texts, "row", "row", staged_r9.NDCG_DISC
    )
    assert ppm2 == 1_000_000


# --- sim_mips_search ---------------------------------------------------------


def test_mips_order_differs_from_cosine_and_aug_reduction_holds(
    spark, tmp_path
):
    """Fixture where the MIPS winner is NOT the cosine winner (a longer
    vector with worse angle beats a parallel short one on dot), checked
    against a Python dot-product reference; the executed norm-
    augmentation ranking must agree with the dot ranking on every row."""
    import math

    dim = 64

    def vec(*head):
        v = [0.0] * dim
        for i, x in enumerate(head):
            v[i] = float(x)
        return v

    emb = [
        (0, vec(1.0, 0.0), 0),        # query: unit x
        (1, vec(0.9, 0.0), 0),        # parallel, short: cosine 1.0, dot 0.9
        (2, vec(2.0, 2.0), 0),        # 45 degrees, long: cos .707, dot 2.0
        (3, vec(0.5, 0.1), 0),
        (4, vec(-1.0, 0.0), 0),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], lab) for i, v, lab in emb],
        "vec_id long, embedding array<float>, label int",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = [
        r
        for r in staged_r9.sim_mips_search(spark, str(tmp_path)).collect()
        if r.query_id == 0
    ]
    out.sort(key=lambda r: r.rank)
    # Python reference: dot against query 0, ties by id
    dots = {i: v[0] * 1.0 for i, v, _ in emb if i != 0}
    ref = sorted(dots, key=lambda i: (-dots[i], i))
    assert [r.neighbor_id for r in out] == ref
    assert out[0].neighbor_id == 2  # MIPS winner
    # cosine winner is vec 1 (angle 0), NOT the MIPS winner
    cosines = {
        i: v[0] / math.sqrt(sum(x * x for x in v))
        for i, v, _ in emb
        if i != 0
    }
    assert max(cosines, key=lambda i: cosines[i]) == 1
    assert all(r.aug_rank_matches for r in out)
    assert out[0].dot == 2.0


# --- mm_tar_webdataset -------------------------------------------------------


def test_tar_encoder_agrees_with_stdlib_tarfile():
    """The ustar encoder must produce archives Python's own tarfile
    reads back member-for-member, byte-for-byte."""
    members = [
        ("00000001.txt", b"hello world"),
        ("00000001.json", b'{"a": 1}'),
        ("00000001.bin", bytes(range(256)) * 3),
    ]
    blob = encode_tar(members)
    with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
        got = [(m.name, m.size) for m in tf.getmembers()]
        assert got == [(n, len(p)) for n, p in members]
        for name, payload in members:
            assert tf.extractfile(name).read() == payload
    parsed, info = parse_tar_members(blob)
    assert parsed == [(n, len(p)) for n, p in members]
    assert info["n_checksum_ok"] == 3
    assert info["archive_bytes"] == len(blob)


def test_tar_walker_rejects_corruption():
    blob = bytearray(encode_tar([("a.txt", b"x" * 100)]))
    flip = bytearray(blob)
    flip[300] ^= 1  # inside the header -> checksum breaks
    with pytest.raises(ValueError, match="checksum"):
        parse_tar_members(bytes(flip))
    with pytest.raises(ValueError, match="block-aligned"):
        parse_tar_members(bytes(blob[:-1]))
    nopad = bytearray(blob)
    nopad[512 + 100] = 7  # nonzero byte inside the data padding
    with pytest.raises(ValueError, match="padding"):
        parse_tar_members(bytes(nopad))
    with pytest.raises(ValueError, match="end-of-archive"):
        parse_tar_members(bytes(blob[:-1024]))


def test_tar_query_walks_expected_member_layout(spark, tmp_path):
    _write_docs(spark, tmp_path, [(5, "t", "en", "s", 1)])
    r = staged_r9.mm_tar_webdataset(spark, str(tmp_path)).collect()[0]
    # doc 5: k = 2 + 5 % 3 = 4 members, sizes 50+(35+13j)%300
    sizes = [50 + (5 * 7 + j * 13) % 300 for j in range(4)]
    exts = [staged_r9._TAR_EXTS[(5 + j) % 4] for j in range(4)]
    assert r.n_members == 4
    assert r.payload_bytes == sum(sizes)
    assert r.archive_bytes == 4 * 1024 + 1024
    assert r.sum_name_len == sum(len(f"{5:08d}.{e}") for e in exts)


# --- mm_tiff_ifd -------------------------------------------------------------


def test_tiff_walker_both_endians_and_strip_checksum():
    for be in (False, True):
        blob = encode_tiff([(16, 8), (21, 11)], big_endian=be, seed=37)
        r = parse_tiff_ifds(blob)
        exp_sum = ((37 * 7) % 251) * 16 * 8 + ((37 * 7 + 13) % 251) * 21 * 11
        assert r == {
            "big_endian": be,
            "n_ifds": 2,
            "n_tags": 16,
            "width0": 16,
            "height0": 8,
            "strip_bytes": 16 * 8 + 21 * 11,
            "strip_sum": exp_sum,
        }


def test_tiff_walker_rejects_corruption():
    blob = bytearray(encode_tiff([(4, 4)], seed=1))
    bad_magic = bytearray(blob)
    bad_magic[0:2] = b"XX"
    with pytest.raises(ValueError, match="byte-order"):
        parse_tiff_ifds(bytes(bad_magic))
    bad_off = bytearray(blob)
    bad_off[4] = 0xFF  # IFD offset far out of bounds
    with pytest.raises(ValueError, match="out of bounds"):
        parse_tiff_ifds(bytes(bad_off))
    # a strip that overruns the payload
    short = bytes(blob[:-8])
    with pytest.raises(ValueError, match="strip out of bounds"):
        parse_tiff_ifds(short)


def test_tiff_query_single_and_two_page(spark, tmp_path):
    _write_docs(
        spark, tmp_path, [(6, "t", "en", "s", 1), (7, "t", "en", "s", 1)]
    )
    out = {
        r.media_id: r
        for r in staged_r9.mm_tiff_ifd(spark, str(tmp_path)).collect()
    }
    assert out[6].n_ifds == 2 and out[6].big_endian == 0  # 6 % 3 == 0
    assert out[7].n_ifds == 1 and out[7].big_endian == 1
    assert out[7].width0 == 16 + 7 % 16 and out[7].height0 == 8 + 7 % 8


# --- stream_topk_windowed ----------------------------------------------------


def test_stream_topk_ranks_with_deterministic_ties(spark, tmp_path):
    """Two hourly windows; window 1 has a count tie broken by
    event_type ascending; only the top 3 of 4 types may appear."""
    rows = []
    eid = 0

    def add(ts, etype, n):
        nonlocal eid
        for _ in range(n):
            rows.append((eid, ts, 1, etype, 0.1, "{}"))
            eid += 1

    add("2024-01-01 10:00:00", "view", 5)
    add("2024-01-01 10:10:00", "click", 3)
    add("2024-01-01 10:20:00", "purchase", 3)  # tie with click
    add("2024-01-01 10:30:00", "error", 1)     # rank 4: dropped
    add("2024-01-01 11:00:00", "signup", 2)
    _write_events(spark, tmp_path, rows)
    out = staged_r9.stream_topk_windowed(spark, str(tmp_path)).collect()
    w1 = sorted(
        [r for r in out if r.window_start == "2024-01-01 10:00:00"],
        key=lambda r: r.rnk,
    )
    assert [(r.event_type, r.n_events, r.rnk) for r in w1] == [
        ("view", 5, 1),
        ("click", 3, 2),     # tie: 'click' < 'purchase'
        ("purchase", 3, 3),
    ]
    w2 = [r for r in out if r.window_start == "2024-01-01 11:00:00"]
    assert [(r.event_type, r.n_events, r.rnk) for r in w2] == [
        ("signup", 2, 1)
    ]
