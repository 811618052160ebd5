"""Oracle + semantics tests for the queries in operators/staged_r21.py,
with independent references: Allen's relations get a brute-force Python
classifier plus the partition-completeness identity; the msgpack codec
gets exact promotion-boundary widths, nested roundtrip fuzz, and
strictness negatives; the bitemporal as-of gets a brute-force Python
reconstruction over the same parquet."""

from __future__ import annotations

import pytest

from eeecs485_p4_mapreduce_spark.operators import staged_r21
from tests.conftest import assert_query_matches_oracle, registered_in


@pytest.mark.parametrize("name", registered_in(staged_r21))
def test_staged_r21_matches_oracle(spark, duck, sf_dir, name):
    assert_query_matches_oracle(spark, duck, sf_dir, name)


# --- Allen's interval relations ----------------------------------------------


def _allen(a, b):
    (as_, ae), (bs, be) = a, b
    if ae < bs:
        return "before"
    if ae == bs and as_ < bs:
        return "meets"
    if bs < as_ and be == as_:
        return "met_by"
    if be < as_:
        return "after"
    if as_ == bs and ae == be:
        return "equals"
    if as_ == bs and ae < be:
        return "starts"
    if as_ == bs and ae > be:
        return "started_by"
    if as_ > bs and ae < be:
        return "during"
    if as_ < bs and ae > be:
        return "contains"
    if as_ > bs and ae == be:
        return "finishes"
    if as_ < bs and ae == be:
        return "finished_by"
    if as_ < bs and bs < ae < be:
        return "overlaps"
    return "overlapped_by"


def test_allen_relations_python_reference(spark, duck, sf_dir):
    """Brute-force per-pair classification must reproduce every count,
    and the 13 relations must PARTITION the pairs (census total equals
    the pair count — no pair unclassified or double-counted)."""
    from collections import Counter

    from eeecs485_p4_mapreduce_spark.operators.staged_r21 import (
        q120_allen_relations,
    )

    got = {
        r["relation"]: r["n_pairs"]
        for r in q120_allen_relations(spark, sf_dir)
        .toPandas()
        .to_dict("records")
    }
    rows = duck.sql(
        """
        SELECT o_custkey,
               l_orderkey,
               CAST(min(epoch_us(l_shipdate)) // 86400000000 AS BIGINT),
               CAST(max(epoch_us(l_shipdate)) // 86400000000 AS BIGINT)
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
        """
    ).fetchall()
    by_cust: dict = {}
    for c, k, s, e in rows:
        by_cust.setdefault(c, []).append((k, (s, e)))
    expect: Counter = Counter()
    n_pairs = 0
    for ivs in by_cust.values():
        ivs.sort()
        for i in range(len(ivs)):
            for j in range(i + 1, len(ivs)):
                expect[_allen(ivs[i][1], ivs[j][1])] += 1
                n_pairs += 1
    assert got == dict(expect)
    assert sum(got.values()) == n_pairs  # the relations partition pairs


def test_allen_case_is_exhaustive_and_exclusive():
    """Every (as_, ae, bs, be) configuration on a small grid maps to
    exactly one relation, and swapping the operands maps to the exact
    inverse — the algebra's involution."""
    inverse = {
        "before": "after",
        "meets": "met_by",
        "overlaps": "overlapped_by",
        "starts": "started_by",
        "during": "contains",
        "finishes": "finished_by",
        "equals": "equals",
    }
    inverse.update({v: k for k, v in inverse.items()})
    for as_ in range(4):
        for ae in range(as_, 4):
            for bs in range(4):
                for be in range(bs, 4):
                    r = _allen((as_, ae), (bs, be))
                    assert _allen((bs, be), (as_, ae)) == inverse[r]


# --- msgpack codec -----------------------------------------------------------


def test_msgpack_promotion_boundaries():
    """Encoded widths flip exactly at the spec boundaries."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_msgpack,
    )

    widths = {
        127: 1, 128: 2, 255: 2, 256: 3, 65535: 3, 65536: 5,
        2**32 - 1: 5, 2**32: 9, 2**64 - 1: 9,
        -1: 1, -32: 1, -33: 2, -128: 2, -129: 3, -32768: 3,
    }
    for v, w in widths.items():
        assert len(encode_msgpack(v)) == w, v
    # str flips fixstr -> str8 at 32 bytes; arrays at 16 elements
    assert len(encode_msgpack("x" * 31)) == 32
    assert len(encode_msgpack("x" * 32)) == 34
    assert len(encode_msgpack([0] * 15)) == 16
    assert len(encode_msgpack([0] * 16)) == 19


def test_msgpack_roundtrip_fuzz():
    """Nested pseudo-random objects roundtrip exactly, and the census
    stats agree with a direct walk of the source object."""
    import random

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_msgpack,
        parse_msgpack,
    )

    def rand_value(rng, depth):
        kind = rng.randrange(7 if depth < 3 else 5)
        if kind == 0:
            return rng.choice(
                [0, 1, 127, 128, 255, 256, 65535, 65536, 2**32, -1,
                 -32, -33, -128, rng.randrange(2**20)]
            )
        if kind == 1:
            return "s" * rng.randrange(40)
        if kind == 2:
            return bytes(rng.randrange(256) for _ in range(rng.randrange(20)))
        if kind == 3:
            return None
        if kind == 4:
            return rng.random() < 0.5
        if kind == 5:
            return [rand_value(rng, depth + 1) for _ in range(rng.randrange(20))]
        return {
            f"k{i}": rand_value(rng, depth + 1)
            for i in range(rng.randrange(10))
        }

    for seed in range(20):
        rng = random.Random(seed)
        obj = rand_value(rng, 0)
        st = parse_msgpack(encode_msgpack(obj))
        assert st["value"] == obj, seed

        def walk(v, acc):
            if isinstance(v, bool):
                acc["n_bool"] += 1
            elif v is None:
                acc["n_nil"] += 1
            elif isinstance(v, int):
                acc["n_ints"] += 1
                acc["sum_ints"] += v
            elif isinstance(v, str):
                acc["n_strs"] += 1
                acc["str_bytes"] += len(v.encode())
            elif isinstance(v, bytes):
                acc["n_bins"] += 1
                acc["bin_bytes"] += len(v)
            elif isinstance(v, list):
                acc["n_arrays"] += 1
                for x in v:
                    walk(x, acc)
            else:
                acc["n_maps"] += 1
                for k, x in v.items():
                    walk(k, acc)
                    walk(x, acc)

        acc = {k: 0 for k in st if k not in ("value", "file_bytes")}
        walk(obj, acc)
        for k, v in acc.items():
            assert st[k] == v, (seed, k)


def test_msgpack_strictness():
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_msgpack,
        parse_msgpack,
    )

    good = encode_msgpack({"a": [1, "xy", None], "b": 300})
    with pytest.raises(ValueError):
        parse_msgpack(good[:-1])  # truncated
    with pytest.raises(ValueError):
        parse_msgpack(good + b"\x00")  # trailing bytes
    with pytest.raises(ValueError):
        parse_msgpack(b"\xc1")  # reserved tag
    with pytest.raises(ValueError):
        parse_msgpack(b"\xd9\x05ab")  # str8 length overruns payload


# --- bitemporal as-of --------------------------------------------------------


def test_bitemporal_python_reference(spark, duck, sf_dir):
    """Brute-force Python reconstruction: identical cutoffs, identical
    per-user winner under the (eff_day, recorded_us, event_id)
    tiebreak, identical seen-counts."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r21 import (
        q121_bitemporal_asof,
    )

    got = {
        r["user_id"]: (
            r["asof_day"],
            r["recorded_us"],
            r["value_cents"],
            r["n_seen"],
        )
        for r in q121_bitemporal_asof(spark, sf_dir)
        .toPandas()
        .to_dict("records")
    }
    rows = duck.sql(
        f"""
        SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT),
               CAST(round(value * 100) AS BIGINT)
        FROM read_parquet('{sf_dir}/events.parquet')
        """
    ).fetchall()
    corr = [
        (u, e, rec, rec // 86400000000 - e % 5, cents)
        for u, e, rec, cents in rows
    ]
    recs = [c[2] for c in corr]
    effs = [c[3] for c in corr]
    r_cut = min(recs) + 3 * (max(recs) - min(recs)) // 4
    e_cut = min(effs) + 3 * (max(effs) - min(effs)) // 4
    expect: dict = {}
    counts: dict = {}
    for u, e, rec, eff, cents in corr:
        if rec > r_cut or eff > e_cut:
            continue
        counts[u] = counts.get(u, 0) + 1
        key = (eff, rec, e)
        if u not in expect or key > expect[u][0]:
            expect[u] = (key, cents)
    assert got == {
        u: (k[0], k[1], cents, counts[u])
        for u, (k, cents) in expect.items()
    }


# --- simhash pigeonhole ------------------------------------------------------


def test_pigeonhole_theorem_pure_python():
    """The completeness argument itself: any two 60-bit words within
    hamming 3 agree exactly on at least one of the 4 15-bit blocks —
    checked by flipping every (<=3)-subset pattern of a random word's
    bits via deterministic seeds."""
    import random

    rng = random.Random(485)
    for _ in range(50):
        w = rng.getrandbits(60)
        positions = rng.sample(range(60), 3)
        for k in range(4):  # flip 0..3 of the chosen positions
            v = w
            for p in positions[:k]:
                v ^= 1 << p
            shared = any(
                (w >> (15 * b)) & 0x7FFF == (v >> (15 * b)) & 0x7FFF
                for b in range(4)
            )
            assert shared, (w, v, k)


def test_simhash_pigeonhole_complete_vs_bruteforce(spark, sf_dir):
    """The operator's output must equal the brute-force all-pairs
    hamming<=3 join over ITS OWN signatures — completeness (no pair
    missed by the block index) and soundness (exact verification)."""
    from itertools import combinations

    from eeecs485_p4_mapreduce_spark.operators.staged_r21 import (
        _simhash60,
        dedup_simhash_pigeonhole,
    )

    sigs = {
        r["doc_id"]: r["sh"]
        for r in _simhash60(spark, sf_dir).toPandas().to_dict("records")
    }
    expect = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup_simhash_pigeonhole(spark, sf_dir)
        .toPandas()
        .to_dict("records")
    }
    assert got == expect
    assert len(got) > 0  # the corpus's near-dup families must surface


# --- link prediction ---------------------------------------------------------


def test_link_prediction_python_reference(spark, duck, sf_dir):
    """Brute-force: rebuild the graph, score every non-edge by
    common-neighbor Jaccard, and the operator's top-20 must equal the
    reference's top-20 under the same total order; every returned pair
    must be a genuine non-edge with cn >= 1."""
    from itertools import combinations

    from eeecs485_p4_mapreduce_spark.operators.staged_r21 import (
        q122_link_prediction,
    )

    got = [
        (
            r["part_v"],
            r["part_w"],
            r["common_neighbors"],
            r["deg_v"],
            r["deg_w"],
            r["jaccard_ppm"],
        )
        for r in q122_link_prediction(spark, sf_dir)
        .toPandas()
        .to_dict("records")
    ]
    rows = duck.sql(
        """
        WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        SELECT a.l_partkey, b.l_partkey
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
        """
    ).fetchall()
    edges = {(a, b) for a, b in rows}
    nbrs: dict = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    scored = []
    for v, w in combinations(sorted(nbrs), 2):
        if (v, w) in edges:
            continue
        cn = len(nbrs[v] & nbrs[w])
        if cn == 0:
            continue
        dv, dw = len(nbrs[v]), len(nbrs[w])
        scored.append(
            (v, w, cn, dv, dw, cn * 1_000_000 // (dv + dw - cn))
        )
    scored.sort(key=lambda r: (-r[5], -r[2], r[0], r[1]))
    assert got == scored[:20]
    for v, w, cn, *_ in got:
        assert (v, w) not in edges
        assert cn >= 1


# --- ABC x XYZ matrix --------------------------------------------------------


def test_abc_xyz_python_reference(spark, duck, sf_dir):
    """Brute-force: rebuild per-part revenue and per-period demand,
    classify with the exact integer predicates, and the matrix cells
    must match; both axes must be non-degenerate (>= 2 classes each),
    and the cells must partition the part population."""
    from collections import Counter

    from eeecs485_p4_mapreduce_spark.operators.staged_r21 import (
        q123_abc_xyz_matrix,
    )

    got = {
        (r["abc_class"], r["xyz_class"]): (r["n_parts"], r["revenue_cents"])
        for r in q123_abc_xyz_matrix(spark, sf_dir)
        .toPandas()
        .to_dict("records")
    }
    rows = duck.sql(
        """
        SELECT l_partkey,
               CAST(epoch_us(l_shipdate) AS BIGINT)//86400000000//180,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT),
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                   * 100, 0) AS BIGINT)) AS BIGINT)
        FROM lineitem GROUP BY 1, 2
        """
    ).fetchall()
    periods = {m for _, m, _, _ in rows}
    n = len(periods)
    per_part: dict = {}
    for p, _, q, c in rows:
        s1, s2, rev = per_part.get(p, (0, 0, 0))
        per_part[p] = (s1 + q, s2 + q * q, rev + c)
    ranked = sorted(per_part.items(), key=lambda kv: (-kv[1][2], kv[0]))
    tot = sum(v[2] for v in per_part.values())
    cum = 0
    expect: Counter = Counter()
    revs: Counter = Counter()
    for p, (s1, s2, rev) in ranked:
        cum += rev
        abc = "A" if cum * 100 <= tot * 80 else (
            "B" if cum * 100 <= tot * 95 else "C"
        )
        var = n * s2 - s1 * s1
        xyz = "X" if 4 * var < s1 * s1 else (
            "Y" if var < s1 * s1 else "Z"
        )
        expect[(abc, xyz)] += 1
        revs[(abc, xyz)] += rev
    assert got == {k: (v, revs[k]) for k, v in expect.items()}
    assert len({a for a, _ in got}) >= 2
    assert len({x for _, x in got}) >= 2
    assert sum(v[0] for v in got.values()) == len(per_part)


# --- runs test ---------------------------------------------------------------


def test_runs_test_python_reference(spark, duck, sf_dir):
    """Brute-force: rebuild the series, find the exact lower median,
    count runs sequentially, mirror the ppm arithmetic — all fields
    must match bit-for-bit, plus the structural identity
    n_above + n_below = n_days_used and runs <= n_days_used."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r21 import (
        q124_runs_test,
    )

    got = q124_runs_test(spark, sf_dir).toPandas().iloc[0]
    rows = duck.sql(
        f"""
        SELECT CAST(epoch_us(l_shipdate) AS BIGINT)//86400000000 AS d,
               CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT))
                 AS BIGINT) AS c
        FROM read_parquet('{sf_dir}/lineitem.parquet')
        GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    cents_sorted = sorted((c, d) for d, c in rows)
    med = cents_sorted[(len(rows) + 1) // 2 - 1][0]
    signs = [1 if c > med else 0 for _, c in rows if c != med]
    n = len(signs)
    a = sum(signs)
    runs = 1 + sum(
        1 for i in range(1, n) if signs[i] != signs[i - 1]
    )
    assert int(got.n_days_used) == n
    assert int(got.n_above) == a
    assert int(got.n_below) == n - a
    assert int(got.n_above) + int(got.n_below) == n
    assert int(got.n_runs) == runs
    assert runs <= n
    assert int(got.runs_ratio_ppm) == runs * n * 1_000_000 // (
        n + 2 * a * (n - a)
    )


# --- HHI concentration -------------------------------------------------------


def test_hhi_python_reference(spark, duck, sf_dir):
    """Brute-force per-nation HHI with the mirrored integer arithmetic,
    plus the statistic's invariants: 1e6/n <= HHI <= 1e6 (up to ppm
    flooring) and top1_share² / 1e6 <= HHI."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r21 import (
        q125_hhi_concentration,
    )

    got = {
        r["nation_name"]: (
            r["n_suppliers"],
            r["revenue_cents"],
            r["hhi_ppm"],
            r["top1_share_ppm"],
        )
        for r in q125_hhi_concentration(spark, sf_dir)
        .toPandas()
        .to_dict("records")
    }
    rows = duck.sql(
        """
        SELECT n_name, s_suppkey,
               CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT))
                 AS BIGINT)
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2
        """
    ).fetchall()
    by_nation: dict = {}
    for n, sk, rev in rows:
        by_nation.setdefault(n, []).append(int(rev))
    for n, revs in by_nation.items():
        tot = sum(revs)
        shares = [r * 1_000_000 // tot for r in revs]
        hhi = sum(sh * sh for sh in shares) // 1_000_000
        expect = (len(revs), tot, hhi, max(shares))
        assert got[n] == expect, n
        # invariants (ppm flooring can undershoot slightly)
        assert hhi <= 1_000_000
        assert hhi >= 1_000_000 // len(revs) - len(revs)
        assert max(shares) ** 2 // 1_000_000 <= hhi
    assert set(got) == set(by_nation)
