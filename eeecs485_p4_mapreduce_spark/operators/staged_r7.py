"""Round-7 registrations that were built + oracle-proven in round 6.

Round 6 had already used the ~10-query per-round registration budget
(the rotation-coverage cap set by the round-4 verdict: the driver's
50-slot window must keep cycling the proven block every ~4 rounds), so
these nine were implemented, pytest hash-checked against DuckDB,
plan-gate compliant and x10-probed in round 6, then joined the graded
surface in round 7. Each registers with ``@query``. Same contract as
every registered query: identical aliases both sides, round()-ed or
integer-exact outputs, no nullable hash-bearing columns.

Surface:

- ``q76_interval_coverage`` — per-user union length of overlapping
  activity intervals (each event opens [ts, ts+300s)): the warehouse
  "coverage" op, via gaps-and-islands with a running max end — never an
  interval self-join.
- ``q77_mad_outliers`` — robust outlier detection by Median Absolute
  Deviation (the robust twin of q63's 3-sigma z-score): both medians
  computed EXACTLY from value-histogram prefix counts (q24's two-phase
  trick, applied twice), with all comparisons in scaled integers so the
  hash is arithmetic-order-proof.
- ``ta_rake_keywords`` — RAKE keyword extraction (Rose et al. 2010):
  stopword-delimited candidate phrases, word degree/frequency scores,
  integer-scaled phrase scores, corpus top-25.
- ``dedup_substring_spans`` — ExactSubstr-style duplicate-span detection
  (Lee et al. 2022 "Deduplicating Training Data..."): every K-token
  SLIDING window (not chunk_shared's fixed non-overlapping chunks),
  md5-keyed, spans aggregated per hash — no quadratic pair emission.
- ``sim_ivfpq_search`` — the FAISS-standard composed index: IVF coarse
  cells restrict candidates, ADC table lookups score them — the two
  registered index families (sim_ivf_*, sim_pq_*) composed into the
  production read path.
- ``mm_avi_mjpeg_frames`` — REAL video-container decode: a RIFF AVI
  carrying MJPEG frames is built and then parsed chunk-by-chunk on the
  executors, each frame decoded with the real baseline-JPEG codec;
  exact header/count columns plus arithmetically-bounded per-frame
  brightness booleans (the JPEG-lossy twin of mm_codec_verify's
  contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.catalog import (
    load_table,
    pin_disk,
    read_parquet_cached,
    spread_small_source,
)
from eeecs485_p4_mapreduce_spark.registry import query

INTERVAL_US = 300_000_000  # 5-minute activity window, as q57


Q76_ORACLE = f"""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {INTERVAL_US} AS e
      FROM events
    ), flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ), islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ), merged AS (
      SELECT user_id, island, min(s) AS ms, max(e) AS me,
             count(*) AS n_events
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(me - ms) // 1000000 AS BIGINT) AS covered_seconds,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(max(me - ms) // 1000000 AS BIGINT) AS longest_run_seconds
    FROM merged GROUP BY user_id
"""


@query("q76_interval_coverage", oracle=Q76_ORACLE)
def q76_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals coverage per user: each event opens a 5-minute
    activity interval; overlapping/touching intervals merge into runs
    (gaps-and-islands: an interval starts a new island iff its start
    exceeds the RUNNING MAX of all previous ends — the running max, not
    lag(e), is what makes nested intervals correct), and the report is
    total covered seconds + interval counts per user. One shuffle on
    user_id reused by both windows and the final aggregate; no
    self-join, no per-pair overlap test — the sweep-line sibling of
    q57's global concurrency. Integer microsecond arithmetic end to
    end, so the hash needs no rounding."""
    from pyspark.sql.window import Window

    iv = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(INTERVAL_US)).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = iv.withColumn(
        "new_island",
        F.when(
            prev_max_e.isNull() | (F.col("s") > prev_max_e), 1
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"),
        F.max("e").alias("me"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.expr("sum(me - ms) div 1000000").alias("covered_seconds"),
        F.sum("n_events").alias("n_events"),
        F.expr("max(me - ms) div 1000000").alias("longest_run_seconds"),
    )


# ---------------------------------------------------------------------------
# q77: MAD outliers. All medians are EXACT, computed from (group, scaled
# value) count histograms with prefix sums — never percentile() over raw
# rows (unbounded per-group state; the q26-restructure lesson). Working
# units: milli-value integers (v_m = round(value * 1000)); medians are
# carried doubled (med2x) and the MAD doubled again (mad4x) so every
# interpolated midpoint stays an exact integer, and the 3 * 1.4826 * MAD
# outlier test becomes a pure integer comparison: with dev = dev2x/2
# and mad = mad4x/4 (all in milli-units),
#   dev > 3 * 1.4826 * mad  <=>  dev2x/2 > 4.4478 * mad4x/4
#                           <=>  10000 * dev2x > 22239 * mad4x
# (22239 = 44478/2, exact). A constructed-fixture test pins the fence:
# the first cut of this inequality was mis-scaled and flagged
# dev > 1.11*mad — hash-green against its own equally-wrong oracle,
# caught only by the independent fixture (the q73 lesson again).
# ---------------------------------------------------------------------------
Q77_ORACLE = """
    WITH v AS (
      SELECT event_type, CAST(round(value * 1000, 0) AS BIGINT) AS vm
      FROM events
    ), med AS (
      SELECT event_type,
             CAST(round(2 * quantile_cont(vm, 0.5), 0) AS BIGINT) AS med2x
      FROM v GROUP BY event_type
    ), dev AS (
      SELECT v.event_type, vm, med2x, abs(2 * vm - med2x) AS dev2x
      FROM v JOIN med USING (event_type)
    ), mad AS (
      SELECT event_type,
             CAST(round(2 * quantile_cont(dev2x, 0.5), 0) AS BIGINT)
               AS mad4x
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(d.med2x) AS DOUBLE) / 2000 AS median_value,
           CAST(max(m.mad4x) AS DOUBLE) / 4000 AS mad_value,
           CAST(sum(CASE WHEN 10000 * d.dev2x > 22239 * m.mad4x
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
"""


def _exact_median2x(counts: DataFrame, group: str, val: str) -> DataFrame:
    """Exact DOUBLED median per group from a (group, value, cnt)
    histogram: interpolate ranks floor(h)+1 / floor(h)+2 at h =
    0.5*(n-1). Returns (group, med2x: bigint). Windows run over the
    histogram (distinct values per group), never raw rows."""
    from pyspark.sql.window import Window

    w_cum = (
        Window.partitionBy(group)
        .orderBy(val)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = (
        counts.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("n", F.sum("cnt").over(Window.partitionBy(group)))
        .withColumn("lo", F.expr("floor(0.5d * (n - 1))"))
    )
    agg = ranked.groupBy(group).agg(
        F.min(F.when(F.col("cum") > F.col("lo"), F.col(val))).alias("vlo"),
        F.min(F.when(F.col("cum") > F.col("lo") + 1, F.col(val))).alias(
            "vhi"
        ),
        F.first("n").alias("n"),
    )
    # 2*median = 2*vlo + frac*2*(vhi-vlo); frac = 0.5*(n-1) - floor is
    # 0 or 0.5, so med2x is an exact integer.
    return agg.selectExpr(
        group,
        "cast(round(2 * vlo + (0.5d * (n - 1) - floor(0.5d * (n - 1)))"
        " * 2 * (coalesce(vhi, vlo) - vlo), 0) as bigint) AS med2x",
        "n",
    )


@query("q77_mad_outliers", oracle=Q77_ORACLE)
def q77_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-Absolute-Deviation outliers per event_type — the robust
    twin of q63's 3-sigma rule (one wild value can't drag the center or
    the spread). Two histogram passes: (type, milli-value) counts give
    the exact median; (type, |2v - med2x|) counts give the exact MAD;
    the 3 * 1.4826 * MAD fence is evaluated as 10000*dev2x >
    22239*mad4x, all BIGINT, so both engines agree bit-for-bit. At
    100 TB each pass is a partial-aggregated groupBy; the only windows
    run over histogram rows (aggregate-bounded)."""
    v = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 1000, 0).cast("long").alias("vm"),
    )
    h1 = v.groupBy("event_type", "vm").agg(F.count(F.lit(1)).alias("cnt"))
    med = _exact_median2x(h1.withColumnRenamed("vm", "val"), "event_type", "val")
    # dev feeds the MAD histogram AND the fence count — pin it so the
    # events scan + median join run once (the persist a two-pass robust
    # statistic does between its passes).
    # event-sized: DISK_ONLY persist keeps lineage (recoverable on
    # executor loss) and stays out of exec memory — see SCALE.md.
    dev = v.join(F.broadcast(med.select("event_type", "med2x")), "event_type").withColumn(
        "dev2x", F.abs(2 * F.col("vm") - F.col("med2x"))
    ).transform(pin_disk)
    h2 = dev.groupBy("event_type", "dev2x").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    mad = _exact_median2x(
        h2.withColumnRenamed("dev2x", "val"), "event_type", "val"
    ).selectExpr("event_type", "med2x AS mad4x")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("med2x").cast("double") / 2000).alias("median_value"),
            (F.max("mad4x").cast("double") / 4000).alias("mad_value"),
            F.sum(
                F.when(
                    10000 * F.col("dev2x") > 22239 * F.col("mad4x"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )







# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010). Candidate phrases are
# maximal stopword-free token runs; word score = degree/frequency where
# degree sums the lengths of every phrase the word occurs in; a phrase
# scores the sum of its words' scores. All scores are integer-scaled
# ((1e6 * deg) div freq summed as BIGINT) so the corpus top-k is
# hash-provable without float-accumulation caveats. Scale shape: the
# phrase build is one posexplode + a doc_id-partitioned prefix-sum
# window (per-task rows bounded by one document); word stats reduce
# map-side to vocabulary size; the top-k is orderBy().limit()
# (TakeOrdered), never a global window.
# ---------------------------------------------------------------------------
RAKE_TOP_K = 25
_RAKE_STOPS = ("a", "and", "in", "is", "of", "that", "the", "to")
_RAKE_STOPS_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOPS)

TA_RAKE_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, t.i AS pos, toks[t.i] AS tok
      FROM (SELECT doc_id, string_split_regex(lower(text), '[ \t]') AS toks
            FROM documents),
           LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) t
    ), marked AS (
      SELECT doc_id, pos, tok,
             CASE WHEN tok IN ({_RAKE_STOPS_SQL}) OR tok = ''
                  THEN 1 ELSE 0 END AS is_stop
      FROM toks
    ), segmented AS (
      SELECT doc_id, pos, tok, is_stop,
             sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS phrase_id
      FROM marked
    ), members AS (
      SELECT doc_id, phrase_id, pos, tok FROM segmented WHERE is_stop = 0
    ), phrases AS (
      SELECT doc_id, phrase_id,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             count(*) AS plen
      FROM members GROUP BY doc_id, phrase_id
    ), wordstats AS (
      SELECT m.tok,
             count(*) AS freq,
             CAST(sum(p.plen) AS BIGINT) AS deg
      FROM members m JOIN phrases p USING (doc_id, phrase_id)
      GROUP BY m.tok
    ), phrase_scores AS (
      SELECT p.doc_id, p.phrase_id, p.phrase, p.plen,
             CAST(sum((1000000 * w.deg) // w.freq) AS BIGINT) AS score
      FROM phrases p
      JOIN members m USING (doc_id, phrase_id)
      JOIN wordstats w ON w.tok = m.tok
      GROUP BY p.doc_id, p.phrase_id, p.phrase, p.plen
    ), agg AS (
      SELECT phrase, CAST(min(plen) AS BIGINT) AS n_words,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(min(score) AS BIGINT) AS score
      FROM phrase_scores GROUP BY phrase
    )
    SELECT phrase, n_words, n_occurrences, score,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY score DESC, phrase) AS rnk
          FROM agg)
    WHERE rnk <= {RAKE_TOP_K}
"""


@query("ta_rake_keywords", oracle=TA_RAKE_ORACLE)
def ta_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-{RAKE_TOP_K} RAKE keyphrases (see section comment).
    Empty tokens (consecutive separators) delimit phrases exactly like
    stopwords, mirroring the wc golden-file lesson that ''-tokens are
    real. Identical phrase texts aggregate (their member-word scores are
    identical by construction, pinned with min())."""
    from pyspark.sql.window import Window

    from eeecs485_p4_mapreduce_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens()).alias("pos", "tok")
    ).withColumn(
        "is_stop",
        F.when(
            F.col("tok").isin(*_RAKE_STOPS) | (F.col("tok") == ""), 1
        ).otherwise(0),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # members feeds three consumers (phrases, wordstats, the scoring
    # join) and phrases two — pinning both keeps the posexplode +
    # per-doc prefix window to ONE execution instead of three (the
    # persist any multi-pass RAKE does between its passes).
    # corpus-token-sized: DISK_ONLY persist keeps lineage (recoverable
    # on executor loss), stays out of exec memory — see SCALE.md.
    members = (
        toks.withColumn("phrase_id", F.sum("is_stop").over(w))
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "phrase_id", "pos", "tok")
        .transform(pin_disk)
    )
    phrases = members.groupBy("doc_id", "phrase_id").agg(
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list("
            "struct(pos, tok))), s -> s.tok))"
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    ).transform(pin_disk)
    wordstats = (
        members.join(phrases, ["doc_id", "phrase_id"])
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("deg"),
        )
    )
    phrase_scores = (
        members.join(F.broadcast(wordstats), "tok")
        .withColumn("wscore", F.expr("(1000000 * deg) div freq"))
        .groupBy("doc_id", "phrase_id")
        .agg(F.sum("wscore").alias("score"))
        .join(phrases, ["doc_id", "phrase_id"])
    )
    agg = phrase_scores.groupBy("phrase").agg(
        F.min("plen").alias("n_words"),
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("score").alias("score"),
    )
    top = agg.orderBy(F.col("score").desc(), "phrase").limit(RAKE_TOP_K)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), "phrase"))
        .cast("long"),
    )





# ---------------------------------------------------------------------------
# ExactSubstr-style duplicate spans (Lee et al. 2022): EVERY K-token
# sliding window is hashed (md5 over the joined tokens) and windows
# occurring in 2+ documents are reported, aggregated PER SPAN — never
# exploded into doc pairs (a boilerplate span shared by 10k docs would
# otherwise emit 10^8 pairs; the per-span row with doc-range + counts is
# the actionable unit and is O(distinct spans)). Differs from
# dedup_chunk_shared, which hashes fixed NON-overlapping 32-token chunks
# and misses duplicates that straddle a chunk boundary; sliding windows
# are the real ExactSubstr semantics. Scale: the explode factor is
# ~n_tokens per doc (map-side), the one shuffle groups by the
# high-entropy span hash, and document bodies never move.
# ---------------------------------------------------------------------------
SPAN_K = 12  # tokens per window

DEDUP_SPANS_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '[ \t]') AS toks
      FROM documents
    ), spans AS (
      SELECT doc_id, t.i AS pos,
             md5(array_to_string(toks[t.i:t.i + {SPAN_K} - 1], ' ')) AS h
      FROM toks,
           LATERAL (SELECT unnest(range(1, len(toks) - {SPAN_K} + 2)) AS i) t
      WHERE len(toks) >= {SPAN_K}
    )
    SELECT h AS span_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id,
           CAST(min(pos) AS BIGINT) AS first_pos
    FROM spans
    GROUP BY h
    HAVING count(DISTINCT doc_id) >= 2
"""


@query("dedup_substring_spans", oracle=DEDUP_SPANS_ORACLE)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate K-token spans across documents (see section comment).
    Spark generates each doc's windows ARRAY-SIDE (one index-aware
    transform over the token array — no self-join of token positions),
    then posexplodes to (doc_id, pos, hash) rows; 1-based positions to
    match the oracle's list slicing."""
    from eeecs485_p4_mapreduce_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    spans = (
        docs.select("doc_id", tokens().alias("toks"))
        .filter(F.expr(f"size(toks) >= {SPAN_K}"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {SPAN_K} + 1),"
                    f" i -> md5(concat_ws(' ', slice(toks, i, {SPAN_K}))))"
                )
            ).alias("pos0", "h"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    )
    return (
        spans.groupBy(F.col("h").alias("span_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.min("pos").alias("first_pos"),
        )
        .filter(F.col("n_docs") >= 2)
    )

# ---------------------------------------------------------------------------
# IVF+PQ composed search — the FAISS-standard billion-scale layout
# (IVFADC, Jegou et al. 2011): the IVF coarse quantizer restricts
# candidates to the query's NPROBE nearest cells, and each candidate is
# scored by ADC table lookups over its PQ codes — no full-vector math on
# the scored relation AND no full-corpus candidate set, which is what
# neither sim_ivf_search (full vectors in-cell) nor sim_pq_search (ADC
# over the whole corpus) demonstrates alone. Everything broadcast-sized
# stays broadcast (centroids, probe list, distance table, codebook); the
# corpus flows scan -> cell assign -> PQ codes with shuffles keyed on
# vec_id only. Oracle: the two registered oracles' CTE families composed.
# ---------------------------------------------------------------------------


def _ivfpq_oracle() -> str:
    from eeecs485_p4_mapreduce_spark.operators.similarity import (
        _DUCK_IVF_CELLS,
        _DUCK_PQ_CTES,
        N_QUERIES,
        NPROBE,
        TOP_K,
    )

    return f"""
    WITH {_DUCK_IVF_CELLS},
    {_DUCK_PQ_CTES},
    cells2 AS (
      SELECT vec_id, c_label AS cell FROM scored WHERE rnk = 1
    ),
    probes2 AS (
      SELECT vec_id AS query_id, c_label AS cell
      FROM scored WHERE vec_id < {N_QUERIES} AND rnk <= {NPROBE}
    ),
    wide AS (
      SELECT vec_id,
             max(CASE WHEN subspace = 0 THEN code END) AS c0,
             max(CASE WHEN subspace = 1 THEN code END) AS c1,
             max(CASE WHEN subspace = 2 THEN code END) AS c2,
             max(CASE WHEN subspace = 3 THEN code END) AS c3
      FROM pqa GROUP BY vec_id
    ),
    qd AS (SELECT * FROM pqd WHERE vec_id < {N_QUERIES})
    SELECT query_id, neighbor_id, rank, round(adc, 4) AS adc_dist
    FROM (
      SELECT p.query_id, w.vec_id AS neighbor_id,
             q0.qerr + q1.qerr + q2.qerr + q3.qerr AS adc,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY q0.qerr + q1.qerr + q2.qerr + q3.qerr, w.vec_id
             ) AS rank
      FROM (SELECT DISTINCT c2.vec_id, p2.query_id
            FROM cells2 c2 JOIN probes2 p2 ON c2.cell = p2.cell
            WHERE c2.vec_id <> p2.query_id) p
      JOIN wide w ON w.vec_id = p.vec_id
      JOIN qd q0 ON q0.vec_id = p.query_id AND q0.subspace = 0
                AND q0.code = w.c0
      JOIN qd q1 ON q1.vec_id = p.query_id AND q1.subspace = 1
                AND q1.code = w.c1
      JOIN qd q2 ON q2.vec_id = p.query_id AND q2.subspace = 2
                AND q2.code = w.c2
      JOIN qd q3 ON q3.vec_id = p.query_id AND q3.subspace = 3
                AND q3.code = w.c3
    )
    WHERE rank <= {TOP_K}
"""


@query("sim_ivfpq_search", oracle=_ivfpq_oracle())
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k restricted to IVF cells (see section comment). Reuses
    the registered building blocks: _centroids_packed/_ASSIGN_SORTED for
    the coarse cells, _pq_codes_wide for the codes, and sim_pq_search's
    per-subspace broadcast distance-table joins with the identical
    left-associated adc sum so doubles hash bit-for-bit."""
    from pyspark.sql.window import Window

    from eeecs485_p4_mapreduce_spark.operators.similarity import (
        _ASSIGN_SORTED,
        _centroids_packed,
        _emb_with_norm,
        _pq_codes_wide,
        _pq_codebook,
        _pq_dist_expr,
        N_QUERIES,
        NPROBE,
        PQ_M,
        TOP_K,
    )

    # the embedding load feeds the coarse assignment, the probe list,
    # AND the PQ code build — pin it so the composition reads parquet
    # once (the old plan re-scanned embeddings 12 times).
    # full embedding table: DISK_ONLY persist keeps lineage
    # (recoverable on executor loss) — see SCALE.md.
    emb = _emb_with_norm(spark, sf_dir).transform(pin_disk)
    packed = _centroids_packed(emb).localCheckpoint(eager=False)
    scored = emb.crossJoin(F.broadcast(packed)).selectExpr(
        "vec_id",
        "v",
        f"slice({_ASSIGN_SORTED}, 1, {NPROBE}) AS top_cells",
    )
    cells = scored.selectExpr(
        "vec_id", "element_at(top_cells, 1).c_label AS cell"
    )
    probes = (
        scored.filter(F.col("vec_id") < N_QUERIES)
        .selectExpr("vec_id AS query_id", "v AS qv", "explode(top_cells) AS tc")
        .select("query_id", "qv", F.col("tc.c_label").alias("cell"))
    )
    # row-local wide codes (r15): no explode + groupBy(vec_id) pivot
    wide = _pq_codes_wide(emb.select("vec_id", "v"))
    structs = ", ".join(
        f"struct({s} as subspace, {_pq_dist_expr('qv', 'cv', s)} as qdist)"
        for s in range(PQ_M)
    )
    # One packed |queries|-row broadcast of the whole distance table
    # (position subspace*PQ_K + code) replaces 4 sequential
    # per-subspace broadcast joins; same qdist doubles, same
    # d0+d1+d2+d3 association — see sim_pq_search (r10 A/B on the
    # rerank twin: 4.9 s -> 3.4 s warm).
    from eeecs485_p4_mapreduce_spark.operators.similarity import PQ_K

    dpacked = (
        probes.select("query_id", "qv")
        .distinct()
        .crossJoin(F.broadcast(_pq_codebook(emb)))
        .select(
            "query_id",
            F.explode(F.expr(f"array({structs})")).alias("sd"),
            "code",
        )
        .groupBy("query_id")
        .agg(
            F.expr(
                f"transform(array_sort(collect_list(struct("
                f"sd.subspace * {PQ_K} + code AS pos, sd.qdist AS qd))),"
                f" s -> s.qd)"
            ).alias("dt")
        )
    )
    res = (
        cells.join(
            F.broadcast(probes.select("query_id", "cell")),
            "cell",
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(wide, "vec_id")
        .join(F.broadcast(dpacked), "query_id")
    )
    for s in range(PQ_M):
        res = res.withColumn(
            f"d{s}",
            F.expr(f"element_at(dt, cast({s} * {PQ_K} + c{s} + 1 as int))"),
        )
    adc = (
        ((F.col("d0") + F.col("d1")) + F.col("d2")) + F.col("d3")
    ).alias("adc_raw")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_raw"), F.col("vec_id")
    )
    return (
        res.select("query_id", F.col("vec_id").alias("neighbor_id"), adc,
                   F.col("vec_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("adc_raw", 4).alias("adc_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Real VIDEO-container decode, graded: each document synthesizes an
# AVI/MJPG file (RIFF writer + the real baseline-JPEG encoder), and the
# registered computation parses the chunk stream and decodes every frame
# with the real JPEG codec on the executors. Header facts (dims, frame
# count, rate) are exact columns; frame CONTENT is constant-gray per
# frame, whose DC-only JPEG round trip is exact at quant=1, so the
# decoded per-frame means sum to a closed-form integer the oracle
# recomputes — plus a tolerance boolean in case a future codec change
# perturbs the rounding (the mm_codec_verify lossy-contract pattern).
# ---------------------------------------------------------------------------
AVI_SCHEMA_FIELDS = (
    "media_id",
    "n_frames",
    "width",
    "height",
    "usec_per_frame",
    "frames_mean_sum",
    "frames_within_tol",
)

MM_AVI_ORACLE = """
    WITH params AS (
      SELECT doc_id,
             8 + (doc_id % 4) * 4 AS w,
             8 + (doc_id % 3) * 4 AS h,
             2 + doc_id % 2 AS n,
             33333 + (doc_id % 5) * 1000 AS usec
      FROM documents
    ), means AS (
      SELECT doc_id,
             CAST(sum((7 * doc_id + 31 * t.j) % 256) AS BIGINT) AS msum
      FROM params, LATERAL (SELECT unnest(range(n)) AS j) t
      GROUP BY doc_id
    )
    SELECT p.doc_id AS media_id,
           CAST(p.n AS BIGINT) AS n_frames,
           CAST(p.w AS BIGINT) AS width,
           CAST(p.h AS BIGINT) AS height,
           CAST(p.usec AS BIGINT) AS usec_per_frame,
           m.msum AS frames_mean_sum,
           TRUE AS frames_within_tol
    FROM params p JOIN means m USING (doc_id)
"""


@query("mm_avi_mjpeg_frames", oracle=MM_AVI_ORACLE)
def mm_avi_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build an AVI/MJPG of 2-3 constant-grey frames,
    decode container + frames for real, and emit exact header columns,
    the integer sum of rounded per-frame means, and a <=1-gray-level
    tolerance boolean. One Arrow mapInPandas pass over doc_id,
    explicitly repartitioned to core width first (the media_walk_query
    rule: the pure-Python codec work is the whole cost, and the
    single-file documents.parquet otherwise serializes every decode on
    one core — r09 A/B: 6.1 s -> ~1 s warm at sf0.1); each payload is
    built and decoded exactly once inside its partition."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_avi_frames,
        encode_avi_mjpeg,
        encode_jpeg,
    )

    schema = StructType(
        [
            StructField(n, LongType(), False)
            for n in AVI_SCHEMA_FIELDS[:-1]
        ]
        + [StructField("frames_within_tol", BooleanType(), False)]
    )

    docs = load_table(spark, sf_dir, "documents")

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in AVI_SCHEMA_FIELDS}
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 8 + (d % 4) * 4, 8 + (d % 3) * 4
                n = 2 + d % 2
                usec = 33333 + (d % 5) * 1000
                # GREY constant frames: 1 JPEG component, dims <= 20px —
                # sized so the per-doc pure-Python codec work stays in
                # mm_codec_verify's census envelope (the first cut used
                # 2-4 RGB frames up to 40px and cost 47 s at sf0.1)
                jpegs = [
                    encode_jpeg(
                        np.full((h, w), (7 * d + 31 * j) % 256, np.uint8),
                        quant=1,
                    )
                    for j in range(n)
                ]
                frames, meta = decode_avi_frames(
                    encode_avi_mjpeg(jpegs, w, h, usec)
                )
                means = [f.astype(np.float64).mean() for f in frames]
                ok = all(
                    abs(m - (7 * d + 31 * j) % 256) <= 1.0
                    for j, m in enumerate(means)
                )
                out["media_id"].append(d)
                out["n_frames"].append(len(frames))
                out["width"].append(int(meta["width"]))
                out["height"].append(int(meta["height"]))
                out["usec_per_frame"].append(int(meta["usec_per_frame"]))
                out["frames_mean_sum"].append(
                    int(sum(int(round(m)) for m in means))
                )
                out["frames_within_tol"].append(bool(ok))
            yield pd.DataFrame(out)

    return (
        spread_small_source(docs.select("doc_id"))
        .mapInPandas(run, schema)
    )


# ---------------------------------------------------------------------------
# PMI collocations: bigrams whose words co-occur far more than chance
# (Church & Hanks 1990) — the statistical step beyond ta_top_bigrams'
# raw counts (which surface "of the", not collocations). Ranking uses
# the INTEGER ratio (1e6 * c_ab * N) div (c_a * c_b), strictly monotone
# in PMI = log2(N*c_ab/(c_a*c_b)), so the top-k is hash-exact with no
# float logs anywhere. At sandbox scale the numerator stays far below
# int64; at 100 TB (N ~ 1e12) the production form is the log-space
# double — same ranking, stated in the docstring, not silently swapped.
# ---------------------------------------------------------------------------
PMI_TOP_K = 25
PMI_MIN_COUNT = 5  # drop rare pairs whose PMI is pure noise

TA_PMI_ORACLE = f"""
    WITH toks AS (
      SELECT string_split_regex(lower(text), '[ 	]') AS toks FROM documents
    ), bi AS (
      SELECT w1, w2, count(*) AS c_ab
      FROM (
        SELECT unnest(list_transform(range(len(toks) - 1),
                      i -> toks[i + 1])) AS w1,
               unnest(list_transform(range(len(toks) - 1),
                      i -> toks[i + 2])) AS w2
        FROM toks WHERE len(toks) >= 2
      )
      GROUP BY w1, w2
    ), uni AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest(toks) AS tok FROM toks)
      GROUP BY tok
    ), tot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM bi)
    SELECT bigram, c_ab, c_a, c_b, ratio_e6,
           CAST(rnk AS BIGINT) AS rank
    FROM (
      SELECT b.w1 || ' ' || b.w2 AS bigram,
             CAST(b.c_ab AS BIGINT) AS c_ab,
             CAST(ua.c AS BIGINT) AS c_a,
             CAST(ub.c AS BIGINT) AS c_b,
             CAST((1000000 * b.c_ab * tot.n) // (ua.c * ub.c) AS BIGINT)
               AS ratio_e6,
             row_number() OVER (
               ORDER BY (1000000 * b.c_ab * tot.n) // (ua.c * ub.c) DESC,
                        b.w1 || ' ' || b.w2) AS rnk
      FROM bi b JOIN uni ua ON ua.tok = b.w1
                JOIN uni ub ON ub.tok = b.w2, tot
      WHERE b.c_ab >= {PMI_MIN_COUNT}
    ) WHERE rnk <= {PMI_TOP_K}
"""


@query("ta_pmi_collocations", oracle=TA_PMI_ORACLE)
def ta_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-{PMI_TOP_K} PMI collocations (see section comment).
    Bigram and unigram counts reduce map-side to vocabulary size; the
    unigram table is broadcast twice (left/right word); the top-k is
    orderBy().limit() over the PMI-eligible bigram table. The ratio is
    pure BIGINT arithmetic — both engines rank identically with no
    float in sight."""
    from pyspark.sql.window import Window

    from eeecs485_p4_mapreduce_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(tokens().alias("toks")).filter("size(toks) >= 2")
    bi = (
        tk.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("b")
        )
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .localCheckpoint(eager=False)  # bigram-vocab sized; feeds the total AND scoring
    )
    uni = (
        docs.select(F.explode(tokens()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # broadcast twice (left/right word)
    )
    tot = bi.agg(F.sum("c_ab").alias("n"))
    scored = (
        bi.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(
            F.broadcast(uni.selectExpr("tok AS w1", "c AS c_a")), "w1"
        )
        .join(
            F.broadcast(uni.selectExpr("tok AS w2", "c AS c_b")), "w2"
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "concat(w1, ' ', w2) AS bigram",
            "c_ab",
            "c_a",
            "c_b",
            "(1000000 * c_ab * n) div (c_a * c_b) AS ratio_e6",
        )
    )
    top = scored.orderBy(
        F.col("ratio_e6").desc(), "bigram"
    ).limit(PMI_TOP_K)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("ratio_e6").desc(), "bigram"))
        .cast("long"),
    )


# ---------------------------------------------------------------------------
# Streaming CDC apply: the events stream is treated as a keyed CHANGELOG
# (key = (user_id, event_type); every event upserts that key's current
# value), and foreachBatch merges each micro-batch into a stored
# snapshot parquet — read stored, union the batch's per-key latest,
# re-argmax, overwrite — the standard "apply CDC into a serving table"
# job. maxFilesPerTrigger forces multiple merge batches so cross-batch
# upsert ordering is genuinely exercised; the oracle is the batch
# last-value-per-key (row_number over ts DESC), so a hash match proves
# the incremental merges compose to the batch answer regardless of how
# the changelog was split into batches. Latest-row selection inside
# each merge is max(struct(ts, event_id, value)) — ties impossible
# (event_id unique), no window over the snapshot needed.
# ---------------------------------------------------------------------------
STREAM_CDC_ORACLE = """
    WITH ranked AS (
      SELECT user_id, event_type, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id, event_type) AS n_updates
      FROM events
    )
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           CAST(event_id AS BIGINT) AS last_event_id,
           round(value, 2) + 0.0 AS last_value,
           CAST(n_updates AS BIGINT) AS n_updates
    FROM ranked WHERE rn = 1
"""


@query("stream_cdc_snapshot", oracle=STREAM_CDC_ORACLE)
def stream_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog applied into a stored snapshot via foreachBatch
    (see section comment). At 100 TB the merge's shuffle is keyed on
    the snapshot key and each overwrite rewrites only the snapshot
    (key-cardinality-sized, not history-sized) — history is never
    re-read; production would partition the snapshot and use dynamic
    partition overwrite exactly like the foreachBatch upsert sink in
    streaming/jobs.py."""
    import shutil
    import tempfile
    from pathlib import Path

    from eeecs485_p4_mapreduce_spark.streaming.jobs import spool_events
    from eeecs485_p4_mapreduce_spark.streaming.queries import cached_layout

    def build(sp, d: str) -> None:
        spool_events(sp, sf_dir, d)
        staged = sorted(Path(d).glob("events-000*.parquet"))
        df_all = sp.read.parquet(*[str(p) for p in staged])
        mid = df_all.agg(
            F.expr("percentile_approx(event_id, 0.5)")
        ).first()[0]
        df_all.filter(F.col("event_id") <= mid).write.mode(
            "overwrite"
        ).parquet(str(Path(d) / "part-a.parquet"))
        df_all.filter(F.col("event_id") > mid).write.mode(
            "overwrite"
        ).parquet(str(Path(d) / "part-b.parquet"))
        for pth in staged:
            pth.unlink()

    # own cached layout: the split is deterministic, and mutating the
    # shared _spool layout would corrupt it for other consumers
    spool = cached_layout(spark, sf_dir, "cdc2part", build)

    out_dir = tempfile.mkdtemp(prefix="p4spark_cdc_")
    ckpt = tempfile.mkdtemp(prefix="p4spark_cdc_ckpt_")

    def merge_batch(batch_df, _batch_id: int) -> None:
        sp = batch_df.sparkSession
        partial = (
            batch_df.groupBy("user_id", "event_type")
            .agg(
                F.max(F.struct("ts", "event_id", "value")).alias("last"),
                F.count(F.lit(1)).alias("n_updates"),
            )
            .select(
                "user_id",
                "event_type",
                F.col("last.ts").alias("last_ts"),
                F.col("last.event_id").alias("last_event_id"),
                F.col("last.value").alias("last_value"),
                "n_updates",
            )
        )
        # explicit filesystem first-batch check (not try/except — a
        # transient read error must fail the stream, never silently
        # reset the snapshot; the stream_incremental_rollup rule)
        if any(Path(out_dir).glob("*.parquet")):
            merged = read_parquet_cached(sp, out_dir).unionByName(partial)
        else:
            merged = partial
        (
            merged.groupBy("user_id", "event_type")
            .agg(
                F.max(
                    F.struct("last_ts", "last_event_id", "last_value")
                ).alias("last"),
                F.sum("n_updates").alias("n_updates"),
            )
            .select(
                "user_id",
                "event_type",
                F.col("last.last_ts").alias("last_ts"),
                F.col("last.last_event_id").alias("last_event_id"),
                F.col("last.last_value").alias("last_value"),
                "n_updates",
            )
            .localCheckpoint()  # out_dir is source AND target
            .write.mode("overwrite")
            .parquet(out_dir)
        )

    q = (
        spark.readStream.schema(
            read_parquet_cached(spark, str(Path(spool) / "part-a.parquet")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(spool + "/*.parquet")
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # spool is a cached layout (streaming.queries._LAYOUT_CACHE) — keep it
    out = (
        read_parquet_cached(spark, out_dir)
        .select(
            "user_id",
            "event_type",
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            "last_event_id",
            (F.round("last_value", 2) + F.lit(0.0)).alias("last_value"),
            "n_updates",
        )
        .localCheckpoint()
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# SRT subtitle/caption stats: captions are the TEXT-WITH-TIMING modality
# a video training pipeline aligns against audio/frames; each document
# synthesizes a real SubRip file, the registered computation PARSES it
# back (strict timecode grammar, multi-line cues) on the executors and
# emits timing/density stats. The oracle rebuilds the same cue texts
# with SQL string concatenation and measures their lengths — no digit
# arithmetic duplicated, the construction itself is mirrored.
# Reading-speed column is integer-exact: chars-per-second scaled by
# 1000 via (total_chars * 1000000) div total_cue_ms.
# ---------------------------------------------------------------------------
MM_SRT_ORACLE = """
    WITH cues AS (
      SELECT doc_id, t.j AS j,
             1500 + ((doc_id + t.j) % 5) * 300 AS dur_ms,
             length('cue ' || t.j || ' of doc ' || doc_id)
               + CASE WHEN (doc_id + t.j) % 2 = 0 THEN 8 ELSE 0 END
               AS n_chars
      FROM (SELECT doc_id, 3 + doc_id % 4 AS n FROM documents),
           LATERAL (SELECT unnest(range(n)) AS j) t
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT) AS n_cues,
           CAST(sum(dur_ms) AS BIGINT) AS total_cue_ms,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(max(5000 * j + (doc_id % 7) * 100 + dur_ms) AS BIGINT)
             AS last_end_ms,
           CAST((sum(n_chars) * 1000000) // sum(dur_ms) AS BIGINT)
             AS chars_per_sec_e3
    FROM cues GROUP BY doc_id
"""


@query("mm_srt_subtitles", oracle=MM_SRT_ORACLE)
def mm_srt_subtitles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: synthesize an SRT caption track (3-6 cues, second
    text line on alternating cues), parse it back with the real SubRip
    parser, and emit cue counts, total caption time, character volume,
    and the scaled reading-speed ratio — the caption-density screen a
    video-curation pipeline runs (too-fast captions = bad alignment).
    Zero-shuffle Arrow mapInPandas; the parse is the computation (stats
    come from the PARSED cues, not the generation parameters)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_srt,
        parse_srt,
    )

    fields = (
        "media_id",
        "n_cues",
        "total_cue_ms",
        "total_chars",
        "last_end_ms",
        "chars_per_sec_e3",
    )
    schema = StructType([StructField(n, LongType(), False) for n in fields])
    docs = load_table(spark, sf_dir, "documents")

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in fields}
            for d in pdf["doc_id"]:
                d = int(d)
                n = 3 + d % 4
                src = []
                for j in range(n):
                    start = 5000 * j + (d % 7) * 100
                    dur = 1500 + ((d + j) % 5) * 300
                    lines = [f"cue {j} of doc {d}"]
                    if (d + j) % 2 == 0:
                        lines.append("line two")
                    src.append((start, start + dur, lines))
                cues = parse_srt(encode_srt(src).encode())
                total_ms = sum(e - st for _, st, e, _ in cues)
                total_chars = sum(
                    len(ln) for _, _, _, ls in cues for ln in ls
                )
                out["media_id"].append(d)
                out["n_cues"].append(len(cues))
                out["total_cue_ms"].append(total_ms)
                out["total_chars"].append(total_chars)
                out["last_end_ms"].append(max(e for _, _, e, _ in cues))
                out["chars_per_sec_e3"].append(
                    (total_chars * 1_000_000) // total_ms
                )
            yield pd.DataFrame(out)

    return spread_small_source(docs.select("doc_id")).mapInPandas(run, schema)
