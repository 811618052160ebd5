"""Seeded inputs: the engine's ten parquet tables and the MapReduce text
corpus. The same seed gives byte-identical inputs."""

from __future__ import annotations

import os

import numpy as np

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = (["de", "en", "es", "fr", "zh"], [0.14, 0.44, 0.15, 0.13, 0.14])
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write ``<table>.parquet`` for every table the engine reads, with
    the schemas and value domains of the engine's test data at scale
    factor ``sf``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), min(2000, int(50_000 * sf))
    n_user = max(10, int(15_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def pick(values, n, p=None):
        return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]

    tables = {
        "region": {"r_regionkey": (np.arange(5), i32), "r_name": (REGIONS, s)},
        "nation": {
            "n_nationkey": (np.arange(25), i32),
            "n_name": ([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": (np.arange(25) % 5, i32),
        },
        "customer": {
            "c_custkey": (np.arange(n_cust), i64),
            "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": (rng.integers(0, 25, n_cust), i32),
            "c_acctbal": (_money(rng, n_cust, -999.99, 9999.99), f64),
            "c_mktsegment": (pick(SEGMENTS, n_cust), s),
        },
        "supplier": {
            "s_suppkey": (np.arange(n_supp), i64),
            "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": (rng.integers(0, 25, n_supp), i32),
            "s_acctbal": (_money(rng, n_supp, -999.99, 9999.99), f64),
        },
        "part": {
            "p_partkey": (np.arange(n_part), i64),
            "p_name": (
                [f"{a} {b}" for a, b in zip(pick(ADJECTIVES, n_part), pick(NOUNS, n_part))],
                s,
            ),
            "p_brand": ([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], s),
            "p_type": (pick(PART_TYPES, n_part), s),
            "p_size": (rng.integers(1, 51, n_part), i32),
            "p_retailprice": (np.round(900 + (np.arange(n_part) % 1000) / 10, 1), f64),
        },
        "orders": {
            "o_orderkey": (np.arange(n_ord), i64),
            "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": (pick(["F", "O", "P"], n_ord), s),
            "o_totalprice": (_money(rng, n_ord, 1000, 500_000), f64),
            "o_orderdate": (_days(rng, n_ord, "1995-01-01", "2001-08-01"), ts),
            "o_orderpriority": (pick(PRIORITIES, n_ord), s),
        },
        "lineitem": {
            "l_orderkey": (rng.integers(0, n_ord, n_li), i64),
            "l_partkey": (rng.integers(0, n_part, n_li), i64),
            "l_suppkey": (rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": (rng.integers(1, 8, n_li), i32),
            "l_quantity": (rng.integers(1, 51, n_li).astype(float), f64),
            "l_extendedprice": (_money(rng, n_li, 900, 105_000), f64),
            "l_discount": (rng.integers(0, 11, n_li) / 100, f64),
            "l_tax": (rng.integers(0, 9, n_li) / 100, f64),
            "l_returnflag": (pick(["A", "N", "R"], n_li), s),
            "l_linestatus": (pick(["F", "O"], n_li), s),
            "l_shipdate": (_days(rng, n_li, "1995-01-02", "2001-11-04"), ts),
        },
    }
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    tables["events"] = {
        "event_id": (np.arange(n_ev), i64),
        "ts": (np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), ts),
        "user_id": (rng.integers(0, n_user, n_ev), i64),
        "event_type": (pick(EVENT_TYPES, n_ev), s),
        "value": (np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    }
    texts: list[str] = []
    for _ in range(n_doc):
        if texts and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, len(texts))] + " dup")
        else:
            texts.append(" ".join(pick(DOC_WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": (np.arange(n_doc), i64),
        "text": (texts, s),
        "lang": (pick(LANGS[0], n_doc, p=LANGS[1]), s),
        "source": ([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": ([len(t) for t in texts], i64),
    }
    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": (np.arange(n_emb), i64),
        "embedding": (list(vecs), pa.list_(pa.float32())),
        "label": (rng.integers(0, 10, n_emb), i32),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        arrays = [pa.array(v, type=t) for v, t in cols.values()]
        pq.write_table(pa.Table.from_arrays(arrays, names=list(cols)),
                       os.path.join(out_dir, f"{name}.parquet"))


GREP_WORDS = ["product", "Product", "PRODUCTS", "byproduct", "productive", "Production"]


def make_corpus(out_dir: str, seed: int, n_files: int, total_bytes: int) -> list[str]:
    """Write ``file01``..``fileNN`` of English-like text, about
    ``total_bytes / n_files`` each, and return their paths. Words follow a Zipf law over a seeded vocabulary; lines are
    mostly 10-80 words of prose with some 1-4 word lines; every file has
    blank lines; words come in mixed case; some separators are tabs or
    double spaces; about one line in fifty holds a ``product`` word."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    # Word length by rank is fixed, so every seed gives the same tokens
    # per byte and the same work per job; the seed picks the letters.
    vocab = ["".join(rng.choice(letters, 2 + i % 8)) for i in range(4000)]
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    zipf /= zipf.sum()
    size = total_bytes // n_files
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n_files):
        lines: list[str] = [""]  # FIXTURES.md §1: at least one blank line per file
        n = 0
        while n < size:
            r = rng.random()
            if r < 0.03:
                lines.append("")
                continue
            n_words = int(rng.integers(1, 5)) if r < 0.13 else int(rng.integers(10, 81))
            words = [vocab[j] for j in rng.choice(len(vocab), n_words, p=zipf)]
            case = rng.random(n_words)
            words = [w.upper() if c < 0.03 else w.capitalize() if c < 0.18 else w
                     for w, c in zip(words, case)]
            if rng.random() < 0.02:
                words[int(rng.integers(0, n_words))] = GREP_WORDS[int(rng.integers(0, len(GREP_WORDS)))]
            seps = rng.random(n_words - 1)
            line = words[0]
            for w, sp in zip(words[1:], seps):
                line += ("\t" if sp < 0.05 else "  " if sp < 0.06 else " ") + w
            lines.append(line)
            n += len(line) + 1
        rng.shuffle(lines)
        path = os.path.join(out_dir, f"file{i + 1:02d}")
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths
