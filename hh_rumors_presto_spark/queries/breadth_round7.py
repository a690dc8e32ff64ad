"""Round-7 breadth batch: winnowing fingerprints, exact autocorrelation,
PAA/SAX time-series symbolization, and an embedding-truncation quality
floor.

- ``text_winnow`` — the winnowing fingerprint selection of Schleimer,
  Wilkerson & Aiken (SIGMOD 2003; the MOSS algorithm): hash every
  character 8-gram, slide a window of 4 consecutive grams, keep each
  window's minimum hash. Guarantees any shared substring of length
  >= 11 contributes a shared fingerprint — the standard local-dedup /
  plagiarism primitive missing from the minhash/simhash/substring
  family already registered.
- ``ts_acf`` — autocorrelation function at lags 1..5 per user series,
  computed EXACTLY: centered terms are scaled by n (n*x_t - S is
  integer cents), so numerator and denominator are BIGINT and the only
  float op is one final division — bit-identical cross-engine.
- ``ts_paa_sax`` — Piecewise Aggregate Approximation + SAX
  symbolization (Lin/Keogh et al. 2003): first 40 events per user in 8
  segments of 5, each segment's exact cent-sum quantized to one of 4
  letters by integer range-quartiles — the classic shape index for
  similarity search over time series, all-integer until the final
  letter string.
- ``emb_truncate_quality`` — Matryoshka-style truncation floor: for 20
  query vectors, the exact top-1 neighbor under full 64-dim integer L2
  vs under the first-16-dims truncation, with per-query agreement.
  Registered as an oracle row so silently degrading the truncated
  representation flips CORRECTNESS, the same discipline as the
  minhash/simhash/IVF-PQ recall floors.

Scale notes (100 TB posture):
- winnowing is explode -> one keyed window per doc (shuffle on doc_id,
  partial distinct-agg downstream); fingerprint postings are the input
  to a bucket-join dedup exactly like dedup_minhash's bands.
- ts_acf / ts_paa_sax are single-shuffle keyed windows with constant
  per-row state (5 lags / segment ids); no unbounded frames.
- emb_truncate_quality broadcasts the 20-query side over the corpus
  (the same brute-force-baseline shape as sim_topk / sim_ivfpq_recall's
  truth arm — the production path at scale is the IVF/LSH keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.queries.analytics_round4 import _quantized
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# text_winnow
# --------------------------------------------------------------------------

_WIN_K = 8  # k-gram length (characters)
_WIN_W = 4  # winnowing window (consecutive k-grams)
_WIN_CAP = 400  # chars of text winnowed (bounds fixture cost; prod: full)


@query(
    "text_winnow",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, substr(text, 1, {_WIN_CAP}) AS s FROM documents
    ),
    grams AS (
        SELECT doc_id, CAST(t.p AS BIGINT) AS pos,
               length(s) - {_WIN_K - 1} AS n_grams,
               CAST(('0x' || substring(
                    md5(substr(s, CAST(t.p AS INT), {_WIN_K})), 1, 10))
                   AS BIGINT) AS h
        FROM d, range(1, {_WIN_CAP + 1}) t(p)
        WHERE t.p <= length(s) - {_WIN_K - 1}
    ),
    win AS (
        SELECT doc_id, pos, n_grams,
               min(h) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING
               ) AS sel
        FROM grams
    )
    SELECT doc_id,
           CAST(count(DISTINCT sel) AS BIGINT) AS n_fp,
           CAST(sum(DISTINCT sel) AS BIGINT) AS fp_sum
    FROM win
    WHERE pos <= n_grams - {_WIN_W - 1}
    GROUP BY doc_id
    """,
)
def text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer et al. 2003): per doc,
    hash all character {_WIN_K}-grams (md5 -> 40-bit int; identity is the
    HASH alone, position-independent, or the shared-substring guarantee
    breaks — any shared span of length >= {_WIN_K}+{_WIN_W}-1 contains a
    full window whose min hash both docs select),
    take the min in every window of {_WIN_W} consecutive grams, and
    reduce the DISTINCT selected fingerprints to (count, sum) — the
    value-checkable digest of the fingerprint set.

    Scale: explode is linear in text size; the min-in-window is one
    keyed window per doc (single shuffle on doc_id); the distinct-agg
    combines map-side. The fingerprint set is what a corpus-level
    local-dedup joins on (band-bucket posture, cf. dedup_minhash)."""
    docs = (
        io.load_table(spark, sf_dir, "documents")
        .select("doc_id", F.substring("text", 1, _WIN_CAP).alias("s"))
        .filter(F.length("s") >= _WIN_K + _WIN_W - 1)
    )
    grams = docs.select(
        "doc_id",
        (F.length("s") - (_WIN_K - 1)).cast("long").alias("n_grams"),
        F.explode(
            F.sequence(F.lit(1), F.length("s") - (_WIN_K - 1))
        ).alias("pos"),
        "s",
    ).select(
        "doc_id",
        "n_grams",
        F.col("pos").cast("long").alias("pos"),
        F.conv(
            F.substring(
                F.md5(F.expr(f"substring(s, pos, {_WIN_K})")), 1, 10
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN_W - 1)
    return (
        grams.withColumn("sel", F.min("h").over(w))
        .filter(F.col("pos") <= F.col("n_grams") - (_WIN_W - 1))
        .groupBy("doc_id")
        .agg(
            F.count_distinct("sel").cast("long").alias("n_fp"),
            F.sum_distinct(F.col("sel")).cast("long").alias("fp_sum"),
        )
    )


# --------------------------------------------------------------------------
# ts_acf
# --------------------------------------------------------------------------

_ACF_BASE_SQL = """
    base AS (
        SELECT user_id,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS xc,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS t
        FROM events WHERE value IS NOT NULL
    )
"""


@query(
    "ts_acf",
    oracle=f"""
    WITH {_ACF_BASE_SQL},
    stats AS (
        SELECT user_id, count(*) AS n, sum(xc) AS s
        FROM base GROUP BY user_id
    ),
    c AS (
        SELECT b.user_id, b.t,
               CAST(st.n * b.xc - st.s AS BIGINT) AS d
        FROM base b JOIN stats st USING (user_id)
    ),
    lagged AS (
        SELECT user_id, d,
               lag(d, 1) OVER w AS d1, lag(d, 2) OVER w AS d2,
               lag(d, 3) OVER w AS d3, lag(d, 4) OVER w AS d4,
               lag(d, 5) OVER w AS d5
        FROM c WINDOW w AS (PARTITION BY user_id ORDER BY t)
    )
    SELECT user_id,
           CAST(sum(d * d) AS BIGINT) AS den,
           CAST(sum(d * d1) AS BIGINT) AS num1,
           CAST(sum(d * d2) AS BIGINT) AS num2,
           CAST(sum(d * d3) AS BIGINT) AS num3,
           CAST(sum(d * d4) AS BIGINT) AS num4,
           CAST(sum(d * d5) AS BIGINT) AS num5,
           CASE WHEN sum(d * d) = 0 THEN NULL
                ELSE CAST(sum(d * d1) AS DOUBLE) / sum(d * d) END AS acf1,
           CASE WHEN sum(d * d) = 0 THEN NULL
                ELSE CAST(sum(d * d5) AS DOUBLE) / sum(d * d) END AS acf5
    FROM lagged GROUP BY user_id
    """,
)
def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation at lags 1..5 per user series, EXACT: with S the
    cent-sum and n the length, the centered term n*x_t - S is an
    integer, so every numerator/denominator is a BIGINT sum and the only
    float operation is the final single division (bit-identical across
    engines). The constant-series den=0 edge returns NULL, not inf.

    Scale: one shuffle on user_id feeds both the stats agg and the lag
    window; 5 lags of constant state per row, no unbounded frames."""
    ev = io.load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    base = ev.select(
        "user_id",
        half_up(F.col("value"), 2).alias("xc"),
        "ts",
        "event_id",
    )
    stats = base.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("xc").alias("s")
    )
    wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = (
        base.join(stats, "user_id")
        .select(
            "user_id",
            "ts",
            "event_id",
            (F.col("n") * F.col("xc") - F.col("s")).cast("long").alias("d"),
        )
    )
    lag_cols = {i: F.lag("d", i).over(wt) for i in range(1, 6)}
    lagged = c.select(
        "user_id", "d", *[lag_cols[i].alias(f"d{i}") for i in range(1, 6)]
    )
    den = F.sum(F.col("d") * F.col("d"))
    nums = {i: F.sum(F.col("d") * F.col(f"d{i}")) for i in range(1, 6)}
    return lagged.groupBy("user_id").agg(
        den.cast("long").alias("den"),
        *[nums[i].cast("long").alias(f"num{i}") for i in range(1, 6)],
        F.when(den == 0, F.lit(None)).otherwise(
            nums[1].cast("double") / den
        ).alias("acf1"),
        F.when(den == 0, F.lit(None)).otherwise(
            nums[5].cast("double") / den
        ).alias("acf5"),
    )


# --------------------------------------------------------------------------
# ts_paa_sax
# --------------------------------------------------------------------------

_SAX_LEN = 40  # events per series prefix
_SAX_SEG = 5  # events per segment -> 8 segments
_SAX_CARD = 4  # alphabet size (a..d)


@query(
    "ts_paa_sax",
    oracle=f"""
    WITH {_ACF_BASE_SQL},
    eligible AS (
        SELECT user_id FROM base GROUP BY user_id
        HAVING count(*) >= {_SAX_LEN}
    ),
    seg AS (
        SELECT user_id, CAST((t - 1) // {_SAX_SEG} AS BIGINT) AS seg,
               CAST(sum(xc) AS BIGINT) AS segsum
        FROM base
        WHERE t <= {_SAX_LEN}
          AND user_id IN (SELECT user_id FROM eligible)
        GROUP BY 1, 2
    ),
    rng AS (
        SELECT user_id, min(segsum) AS lo, max(segsum) AS hi
        FROM seg GROUP BY user_id
    ),
    sym AS (
        SELECT s.user_id, s.seg, s.segsum,
               CASE WHEN r.hi = r.lo THEN 0
                    ELSE CAST(((s.segsum - r.lo) * {_SAX_CARD})
                              // (r.hi - r.lo + 1) AS INT)
               END AS qv
        FROM seg s JOIN rng r USING (user_id)
    )
    SELECT user_id,
           string_agg(chr(97 + qv), '' ORDER BY seg) AS sax,
           CAST(sum(segsum * (seg + 1)) AS BIGINT) AS paa_checksum
    FROM sym GROUP BY user_id
    """,
)
def ts_paa_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAA + SAX symbolization: the first {_SAX_LEN} events per user
    (users shorter than that are skipped) collapse into 8 segments of
    {_SAX_SEG}; each segment's exact cent-sum maps to one of {_SAX_CARD}
    letters by integer range-quartiles (q = (sum-lo)*{_SAX_CARD} //
    (hi-lo+1), constant series -> 'a'); the ordered letters concatenate
    to the SAX word. Everything before the final chr() is BIGINT.

    Scale: one keyed window (rank), one two-level agg on (user, seg) —
    partial-agg friendly; the SAX word is the classic index key for
    time-series motif/similarity search."""
    ev = io.load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        half_up(F.col("value"), 2).alias("xc"),
        F.row_number().over(wt).alias("t"),
    )
    eligible = (
        base.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= _SAX_LEN)
        .select("user_id")
    )
    seg = (
        base.filter(F.col("t") <= _SAX_LEN)
        .join(F.broadcast(eligible), "user_id", "left_semi")
        .groupBy(
            "user_id",
            F.expr(f"CAST((t - 1) DIV {_SAX_SEG} AS BIGINT)").alias("seg"),
        )
        .agg(F.sum("xc").cast("long").alias("segsum"))
    )
    rng = seg.groupBy("user_id").agg(
        F.min("segsum").alias("lo"), F.max("segsum").alias("hi")
    )
    sym = seg.join(rng, "user_id").select(
        "user_id",
        "seg",
        "segsum",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.expr(f"CAST((segsum - lo) * {_SAX_CARD} DIV (hi - lo + 1) AS INT)")
        )
        .alias("qv"),
    )
    return sym.groupBy("user_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(seg, "
            "chr(97 + qv) AS letter))), x -> x.letter), '')"
        ).alias("sax"),
        F.sum(F.col("segsum") * (F.col("seg") + 1))
        .cast("long")
        .alias("paa_checksum"),
    )


# --------------------------------------------------------------------------
# emb_truncate_quality
# --------------------------------------------------------------------------

_TRUNC_QUERIES = 20
_TRUNC_DIM = 16  # truncated prefix (of 64)
_TRUNC_PACK = 100_000  # packed-argmin base; requires vec_id < 100k


@query(
    "emb_truncate_quality",
    oracle=f"""
    WITH xq AS (
        SELECT vec_id, t.j AS j,
               CAST(floor(CAST(embedding[CAST(t.j AS INT) + 1] AS DOUBLE)
                          * 1000) AS BIGINT) AS q
        FROM embeddings, range(0, 64) t(j)
    ),
    pairs AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               sum(CASE WHEN a.j < {_TRUNC_DIM}
                        THEN (a.q - b.q) * (a.q - b.q) ELSE 0 END) AS d16,
               sum((a.q - b.q) * (a.q - b.q)) AS d64
        FROM xq a JOIN xq b ON b.j = a.j AND b.vec_id <> a.vec_id
        WHERE a.vec_id < {_TRUNC_QUERIES}
        GROUP BY 1, 2
    ),
    nn AS (
        SELECT query_id,
               min(d64 * {_TRUNC_PACK} + neighbor_id) AS pf,
               min(d16 * {_TRUNC_PACK} + neighbor_id) AS pt
        FROM pairs GROUP BY query_id
    )
    SELECT query_id,
           CAST(pf % {_TRUNC_PACK} AS BIGINT) AS nn_full,
           CAST(pt % {_TRUNC_PACK} AS BIGINT) AS nn_trunc,
           CAST(CASE WHEN pf % {_TRUNC_PACK} = pt % {_TRUNC_PACK}
                     THEN 1 ELSE 0 END AS BIGINT) AS agree
    FROM nn
    """,
)
def emb_truncate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation quality floor: exact top-1 neighbor under
    the full 64-dim integer L2 vs under the first-{_TRUNC_DIM}-dims
    truncation, per query, with the agreement bit. All-BIGINT
    (floor(x*1000) domain, packed argmin min(d*K + id) for tie-stable
    neighbors), so the quality of the truncated representation is an
    oracle-checked number — the same regression discipline as the
    minhash/IVF-PQ recall floors.

    Scale: the {_TRUNC_QUERIES}-query side broadcasts over the corpus
    (brute-force-baseline shape, cf. sim_topk); a deployment runs this
    on a query sample to validate a truncation before switching the ANN
    index to the cheaper representation."""
    vecs = _quantized(io.load_table(spark, sf_dir, "embeddings"))
    qs = vecs.filter(F.col("vec_id") < _TRUNC_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("yq")
    )

    def l2(a, b):
        return F.aggregate(
            F.zip_with(
                a, b, lambda x, y: F.coalesce((x - y) * (x - y), F.lit(0))
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    pairs = (
        vecs.join(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            l2(F.col("yq"), F.col("q")).alias("d64"),
            l2(
                F.slice("yq", 1, _TRUNC_DIM), F.slice("q", 1, _TRUNC_DIM)
            ).alias("d16"),
        )
    )
    nn = pairs.groupBy("query_id").agg(
        F.min(F.col("d64") * _TRUNC_PACK + F.col("neighbor_id")).alias("pf"),
        F.min(F.col("d16") * _TRUNC_PACK + F.col("neighbor_id")).alias("pt"),
    )
    return nn.select(
        "query_id",
        (F.col("pf") % _TRUNC_PACK).cast("long").alias("nn_full"),
        (F.col("pt") % _TRUNC_PACK).cast("long").alias("nn_trunc"),
        (F.col("pf") % _TRUNC_PACK == F.col("pt") % _TRUNC_PACK)
        .cast("long")
        .alias("agree"),
    )


# --------------------------------------------------------------------------
# dedup_bloom_membership
# --------------------------------------------------------------------------

_BLOOM_M = 16384  # bloom bits
_BLOOM_K = 3  # hash functions per element


@query(
    "dedup_bloom_membership",
    oracle=f"""
    WITH corpus AS (
        SELECT md5(text) AS fp FROM documents WHERE doc_id % 3 <> 0
    ),
    batch AS (
        SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 3 = 0
    ),
    apos AS (
        SELECT DISTINCT
               CAST(('0x' || substring(md5(fp || '#' || CAST(k.i AS VARCHAR)),
                                       1, 8)) AS BIGINT) % {_BLOOM_M} AS pos
        FROM corpus CROSS JOIN (VALUES (0), (1), (2)) k(i)
    ),
    bpos AS (
        SELECT doc_id, fp, k.i,
               CAST(('0x' || substring(md5(fp || '#' || CAST(k.i AS VARCHAR)),
                                       1, 8)) AS BIGINT) % {_BLOOM_M} AS pos
        FROM batch CROSS JOIN (VALUES (0), (1), (2)) k(i)
    ),
    hits AS (
        SELECT b.doc_id, count(a.pos) AS nhit
        FROM bpos b LEFT JOIN apos a ON a.pos = b.pos
        GROUP BY b.doc_id
    ),
    exact AS (
        SELECT DISTINCT b.doc_id
        FROM batch b JOIN corpus c ON c.fp = b.fp
    )
    SELECT h.doc_id,
           CAST(CASE WHEN h.nhit = {_BLOOM_K} THEN 1 ELSE 0 END AS BIGINT)
               AS bloom_hit,
           CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS exact_dup,
           CAST(CASE WHEN h.nhit = {_BLOOM_K} AND e.doc_id IS NULL
                     THEN 1 ELSE 0 END AS BIGINT) AS false_pos
    FROM hits h LEFT JOIN exact e ON e.doc_id = h.doc_id
    """,
)
def dedup_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership prefilter for incremental dedup: the
    standing corpus (doc_id % 3 != 0) builds an m={_BLOOM_M}, k={_BLOOM_K}
    bloom set from md5-derived bit positions; the incoming batch
    (doc_id % 3 == 0) probes it. A doc whose {_BLOOM_K} positions are all
    set is a MAYBE (routed to the expensive exact-fingerprint join); any
    clear position proves NEW (skips the join entirely — the bloom
    guarantee, no false negatives by construction). Per-doc output pins
    bloom_hit, the exact-join truth, and the false-positive flag, so the
    measured FP behavior of this (m, k) is an oracle row.

    Scale: the built side collapses to <= {_BLOOM_M} distinct positions —
    kilobytes, broadcast; the probe is a broadcast left join + count per
    doc. This is how a 100 TB ingest avoids re-joining every new shard
    against the full corpus fingerprint table: definite-new docs (the
    vast majority) never reach the shuffle."""
    docs = io.load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select(
        F.md5("text").alias("fp")
    )
    batch = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.md5("text").alias("fp")
    )

    def pos(fp_col, i: int):
        return (
            F.conv(
                F.substring(F.md5(F.concat(fp_col, F.lit(f"#{i}"))), 1, 8),
                16,
                10,
            ).cast("long")
            % _BLOOM_M
        )

    apos = (
        corpus.select(
            F.explode(
                F.array(*[pos(F.col("fp"), i) for i in range(_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )
    bpos = batch.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(*[pos(F.col("fp"), i) for i in range(_BLOOM_K)])
        ).alias("pos"),
    )
    hits = (
        bpos.join(F.broadcast(apos.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("doc_id")
        .agg(F.count("hit").alias("nhit"))
    )
    exact = (
        batch.join(corpus, "fp", "left_semi").select("doc_id").distinct()
    )
    return (
        hits.join(
            F.broadcast(exact.withColumn("is_dup", F.lit(1))),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            (F.col("nhit") == _BLOOM_K).cast("long").alias("bloom_hit"),
            F.col("is_dup").isNotNull().cast("long").alias("exact_dup"),
            (
                (F.col("nhit") == _BLOOM_K) & F.col("is_dup").isNull()
            )
            .cast("long")
            .alias("false_pos"),
        )
    )


# --------------------------------------------------------------------------
# text_rake_keywords
# --------------------------------------------------------------------------

_RAKE_STOP = (
    "the", "of", "and", "a", "to", "in", "is", "on", "for", "with",
    "as", "by", "at", "an", "be", "this", "that", "it", "are", "was",
)
_RAKE_TOPK = 3
_RAKE_SCALE = 1_000_000  # micro-units: integer floor-div keeps scores exact

_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOP)


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    marked AS (
        SELECT doc_id, pos, tok,
               CASE WHEN lower(tok) IN ({_RAKE_STOP_SQL}) OR tok = ''
                    THEN 1 ELSE 0 END AS is_stop
        FROM toks
    ),
    islanded AS (
        SELECT doc_id, pos, tok, is_stop,
               sum(is_stop) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS phrase_id
        FROM marked
    ),
    phrase_words AS (
        SELECT doc_id, phrase_id, pos, lower(tok) AS w
        FROM islanded WHERE is_stop = 0
    ),
    phrases AS (
        SELECT doc_id, phrase_id,
               string_agg(w, ' ' ORDER BY pos) AS phrase,
               count(*) AS plen
        FROM phrase_words GROUP BY doc_id, phrase_id
    ),
    wordstats AS (
        SELECT doc_id, w,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(plen) AS BIGINT) AS degree
        FROM phrase_words pw
        JOIN phrases ph USING (doc_id, phrase_id)
        GROUP BY doc_id, w
    ),
    scored AS (
        SELECT pw.doc_id, pw.phrase_id,
               sum(ws.degree * {_RAKE_SCALE} // ws.freq) AS score_micro
        FROM (SELECT DISTINCT doc_id, phrase_id, w FROM phrase_words) pw
        JOIN wordstats ws USING (doc_id, w)
        GROUP BY pw.doc_id, pw.phrase_id
    )
    SELECT doc_id, phrase, CAST(score_micro AS BIGINT) AS score_micro
    FROM (
        SELECT s.doc_id, p.phrase, s.score_micro,
               row_number() OVER (
                   PARTITION BY s.doc_id
                   ORDER BY s.score_micro DESC, p.phrase
               ) AS rn
        FROM scored s JOIN phrases p USING (doc_id, phrase_id)
    )
    WHERE rn <= {_RAKE_TOPK}
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs (gaps-and-islands on the stopword
    flag); word degree = Σ phrase length over containing phrases, word
    freq = occurrence count; phrase score = Σ floor(degree*1e6/freq) in
    integer micro-units (exact — no float-sum association drift); top
    {_RAKE_TOPK} phrases per doc with (score desc, phrase) tie order.

    Scale: explode + two keyed aggs + one window per doc — the same
    single-shuffle family as text_tfidf; no pairwise anything."""
    docs = io.load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    stop_arr = [F.lit(w) for w in _RAKE_STOP]
    marked = toks.select(
        "doc_id",
        "pos",
        "tok",
        (
            F.lower("tok").isin(*[w for w in _RAKE_STOP])
            | (F.col("tok") == "")
        )
        .cast("int")
        .alias("is_stop"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islanded = marked.withColumn("phrase_id", F.sum("is_stop").over(w_run))
    pw = islanded.filter(F.col("is_stop") == 0).select(
        "doc_id", "phrase_id", "pos", F.lower("tok").alias("w")
    )
    phrases = pw.groupBy("doc_id", "phrase_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, w))),"
            " x -> x.w), ' ')"
        ).alias("phrase"),
        F.count("*").alias("plen"),
    )
    wordstats = (
        pw.join(phrases.select("doc_id", "phrase_id", "plen"),
                ["doc_id", "phrase_id"])
        .groupBy("doc_id", "w")
        .agg(
            F.count("*").cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
    )
    scored = (
        pw.select("doc_id", "phrase_id", "w")
        .distinct()
        .join(wordstats, ["doc_id", "w"])
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.sum(
                F.expr(f"degree * {_RAKE_SCALE} DIV freq")
            ).alias("score_micro")
        )
    )
    w_top = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("phrase")
    )
    return (
        scored.join(phrases.select("doc_id", "phrase_id", "phrase"),
                    ["doc_id", "phrase_id"])
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= _RAKE_TOPK)
        .select("doc_id", "phrase", F.col("score_micro").cast("long").alias("score_micro"))
    )


# --------------------------------------------------------------------------
# pipeline_span_corrupt
# --------------------------------------------------------------------------

_SPAN_LEN = 3  # tokens per corruption-candidate span group
_SPAN_PCT = 3  # corrupt groups where md5 % 20 < 3 (~15% of tokens)


@query(
    "pipeline_span_corrupt",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE len(string_split(text, ' ')) >= 10
    ),
    flagged AS (
        SELECT doc_id, pos, tok,
               (pos - 1) // {_SPAN_LEN} AS grp,
               CASE WHEN CAST(('0x' || substring(md5(
                        CAST(doc_id AS VARCHAR) || '#' ||
                        CAST((pos - 1) // {_SPAN_LEN} AS VARCHAR)), 1, 8))
                        AS BIGINT) % 20 < {_SPAN_PCT}
                    THEN 1 ELSE 0 END AS corrupt
        FROM toks
    ),
    spans AS (
        SELECT doc_id, grp, corrupt,
               string_agg(tok, ' ' ORDER BY pos) AS span_text,
               count(*) AS n_toks
        FROM flagged
        GROUP BY doc_id, grp, corrupt
    ),
    sentineled AS (
        SELECT doc_id, grp, corrupt, span_text, n_toks,
               CASE WHEN corrupt = 1 THEN
                   sum(corrupt) OVER (
                       PARTITION BY doc_id ORDER BY grp
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               END AS sentinel_no
        FROM spans
    )
    SELECT doc_id,
           string_agg(
               CASE WHEN corrupt = 1
                    THEN '<X_' || CAST(sentinel_no AS VARCHAR) || '>'
                    ELSE span_text END, ' ' ORDER BY grp) AS input_text,
           coalesce(string_agg(
               CASE WHEN corrupt = 1
                    THEN '<X_' || CAST(sentinel_no AS VARCHAR) || '> '
                         || span_text END, ' ' ORDER BY grp), '')
               AS target_text,
           CAST(sum(CASE WHEN corrupt = 1 THEN n_toks ELSE 0 END) AS BIGINT)
               AS n_corrupted_tokens
    FROM sentineled
    GROUP BY doc_id
    """,
)
def pipeline_span_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020): tokens group into
    spans of {_SPAN_LEN}; ~15% of spans (md5-deterministic per (doc,
    span)) are replaced by numbered sentinels in the input while the
    targets sequence pairs each sentinel with its original span — the
    standard denoising-objective data transform, emitted as exact
    strings so the whole example-construction pipeline is value-hashed.

    Scale: explode -> keyed window + two-level agg per doc; the span
    grouping is positional (no shuffle beyond the doc key)."""
    docs = io.load_table(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 10
    )
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    grp = F.expr(f"(pos - 1) DIV {_SPAN_LEN}")
    corrupt = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "#", F.col("doc_id").cast("string"),
                        grp.cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 20
        < _SPAN_PCT
    ).cast("int")
    flagged = toks.select(
        "doc_id", "pos", "tok", grp.alias("grp"), corrupt.alias("corrupt")
    )
    spans = flagged.groupBy("doc_id", "grp", "corrupt").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, tok))),"
            " x -> x.tok), ' ')"
        ).alias("span_text"),
        F.count("*").alias("n_toks"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("grp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sentineled = spans.withColumn(
        "sentinel_no",
        F.when(F.col("corrupt") == 1, F.sum("corrupt").over(w_run)),
    )
    pieces = sentineled.withColumns(
        {
            "piece_in": F.when(
                F.col("corrupt") == 1,
                F.concat(
                    F.lit("<X_"),
                    F.col("sentinel_no").cast("string"),
                    F.lit(">"),
                ),
            ).otherwise(F.col("span_text")),
            "piece_tgt": F.when(
                F.col("corrupt") == 1,
                F.concat(
                    F.lit("<X_"),
                    F.col("sentinel_no").cast("string"),
                    F.lit("> "),
                    F.col("span_text"),
                ),
            ),
        }
    )
    return pieces.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(grp, piece_in))),"
            " x -> x.piece_in), ' ')"
        ).alias("input_text"),
        F.expr(
            "array_join(transform(array_sort(collect_list(CASE WHEN "
            "piece_tgt IS NOT NULL THEN struct(grp, piece_tgt) END)),"
            " x -> x.piece_tgt), ' ')"
        ).alias("target_text"),
        F.sum(F.when(F.col("corrupt") == 1, F.col("n_toks")).otherwise(0))
        .cast("long")
        .alias("n_corrupted_tokens"),
    )


# --------------------------------------------------------------------------
# pipeline_fim_format
# --------------------------------------------------------------------------


@query(
    "pipeline_fim_format",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents WHERE len(string_split(text, ' ')) >= 6
    )
    SELECT doc_id,
           '<PRE> ' || array_to_string(toks[1 : n // 3], ' ')
           || ' <SUF> ' || array_to_string(toks[2 * n // 3 + 1 : n], ' ')
           || ' <MID> ' || array_to_string(toks[n // 3 + 1 : 2 * n // 3], ' ')
               AS fim_text,
           CAST(2 * n // 3 - n // 3 AS BIGINT) AS n_middle_tokens
    FROM base
    """,
)
def pipeline_fim_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle formatting (Bavarian et al. 2022, PSM order):
    deterministic thirds split — prefix, suffix, middle — re-serialized
    as '<PRE> p <SUF> s <MID> m' so the model learns infilling from the
    rearranged causal stream. Pure positional slicing, exact strings.

    Scale: zero-shuffle narrow map (split/slice/concat in codegen)."""
    docs = io.load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).withColumn("n", F.size("toks")).filter(F.col("n") >= 6)
    p_end = F.expr("n DIV 3")
    m_end = F.expr("2 * n DIV 3")
    fim = F.concat(
        F.lit("<PRE> "),
        F.array_join(F.slice("toks", 1, p_end), " "),
        F.lit(" <SUF> "),
        F.array_join(
            F.slice("toks", m_end + 1, F.col("n") - m_end), " "
        ),
        F.lit(" <MID> "),
        F.array_join(F.slice("toks", p_end + 1, m_end - p_end), " "),
    )
    return base.select(
        "doc_id",
        fim.alias("fim_text"),
        (m_end - p_end).cast("long").alias("n_middle_tokens"),
    )


# --------------------------------------------------------------------------
# graph_modularity
# --------------------------------------------------------------------------


def _modularity_oracle() -> str:
    from hh_rumors_presto_spark.queries.extensions_dedup import (
        _jaccard_pairs_sql,
    )

    return (
        _jaccard_pairs_sql()
        + """
    , e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    lang_of AS (SELECT doc_id, lang FROM documents),
    labeled AS (
        SELECT e.a, e.b, la.lang AS lang_a, lb.lang AS lang_b
        FROM e
        JOIN lang_of la ON la.doc_id = e.a
        JOIN lang_of lb ON lb.doc_id = e.b
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
    intra AS (
        SELECT lang_a AS lang, CAST(count(*) AS BIGINT) AS intra_edges
        FROM labeled WHERE lang_a = lang_b GROUP BY lang_a
    ),
    deg AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS deg_sum FROM (
            SELECT lang_a AS lang FROM labeled
            UNION ALL SELECT lang_b FROM labeled)
        GROUP BY lang
    ),
    parts AS (
        SELECT d.lang,
               coalesce(i.intra_edges, 0) AS intra_edges,
               d.deg_sum
        FROM deg d LEFT JOIN intra i USING (lang)
    )
    SELECT (SELECT m FROM m) AS m,
           CAST(sum(4 * (SELECT m FROM m) * intra_edges
                    - deg_sum * deg_sum) AS BIGINT) AS q_num,
           CAST(4 * (SELECT m FROM m) * (SELECT m FROM m) AS BIGINT)
               AS q_den,
           CAST(sum(4 * (SELECT m FROM m) * intra_edges
                    - deg_sum * deg_sum) AS DOUBLE)
               / (4 * (SELECT m FROM m) * (SELECT m FROM m)) AS modularity
    FROM parts
    """
    )


@query("graph_modularity", oracle=_modularity_oracle())
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the language partition over the near-dup
    pair graph: Q = Σ_c (intra_c/m − (deg_c/2m)²), computed as the exact
    integer rational Σ_c (4·m·intra_c − deg_c²) / 4m² with ONE final
    division — the partition-quality score that says whether near-dup
    structure respects a grouping (here: do near-dups stay within a
    language?). The community assignment is a COLUMN, not an iterative
    algorithm, so the oracle is closed-form.

    Scale: the pair list joins the (doc → lang) projection twice
    (broadcast — it is |docs| small relative to pairs at corpus scale),
    then three tiny aggregates."""
    from hh_rumors_presto_spark.queries.extensions_dedup import (
        dedup_ngram_jaccard,
    )

    e = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    lang_of = io.load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    labeled = (
        e.join(
            F.broadcast(
                lang_of.select(
                    F.col("doc_id").alias("a"), F.col("lang").alias("lang_a")
                )
            ),
            "a",
        )
        .join(
            F.broadcast(
                lang_of.select(
                    F.col("doc_id").alias("b"), F.col("lang").alias("lang_b")
                )
            ),
            "b",
        )
    )
    m_df = e.agg(F.count("*").cast("long").alias("m"))
    intra = (
        labeled.filter(F.col("lang_a") == F.col("lang_b"))
        .groupBy(F.col("lang_a").alias("lang"))
        .agg(F.count("*").cast("long").alias("intra_edges"))
    )
    deg = (
        labeled.select(F.col("lang_a").alias("lang"))
        .unionAll(labeled.select(F.col("lang_b").alias("lang")))
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("deg_sum"))
    )
    parts = deg.join(intra, "lang", "left").select(
        "lang",
        F.coalesce(F.col("intra_edges"), F.lit(0)).alias("intra_edges"),
        "deg_sum",
    )
    # m and q_den come from the edge-count scalar, NOT from first()/sum()
    # over `parts`: with an empty pair graph `parts` is empty and those
    # aggregates go NULL, while the oracle's scalar subquery still says
    # m=0 / q_den=0 (r9 sf0 audit find — the engines disagreed NULL-vs-0
    # on the empty graph). q_num distributes: Σ(4m·intra − deg²) =
    # 4m·Σintra − Σdeg², so the sums no longer need m per row; NULL sums
    # over empty parts make q_num and modularity NULL in BOTH engines
    # (NULL-safe eval skips the /0), exactly the oracle's empty shape.
    sums = parts.agg(
        F.sum("intra_edges").cast("long").alias("s_intra"),
        F.sum(F.col("deg_sum") * F.col("deg_sum"))
        .cast("long")
        .alias("s_deg2"),
    )
    return m_df.crossJoin(F.broadcast(sums)).select(
        "m",
        (4 * F.col("m") * F.col("s_intra") - F.col("s_deg2"))
        .cast("long")
        .alias("q_num"),
        (4 * F.col("m") * F.col("m")).cast("long").alias("q_den"),
        (
            (4 * F.col("m") * F.col("s_intra") - F.col("s_deg2")).cast(
                "double"
            )
            / (4 * F.col("m") * F.col("m"))
        ).alias("modularity"),
    )


# --------------------------------------------------------------------------
# corpus_epoch_expand
# --------------------------------------------------------------------------

_EPOCH_FRAC_SCALE = 1_000_000


@query(
    "corpus_epoch_expand",
    oracle=f"""
    WITH doc_tokens AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    src AS (
        SELECT source, CAST(sum(n_tok) AS BIGINT) AS t_src
        FROM doc_tokens GROUP BY source
    ),
    target AS (SELECT max(t_src) AS u FROM src),
    factors AS (
        SELECT s.source, s.t_src,
               (SELECT u FROM target) // s.t_src AS whole,
               ((SELECT u FROM target) % s.t_src) * {_EPOCH_FRAC_SCALE}
                   // s.t_src AS frac_scaled
        FROM src s
    ),
    expanded AS (
        SELECT d.doc_id, d.source, d.n_tok,
               f.whole
               + CASE WHEN CAST(('0x' || substring(md5(
                       'epoch#' || CAST(d.doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % {_EPOCH_FRAC_SCALE} < f.frac_scaled
                      THEN 1 ELSE 0 END AS repeats
        FROM doc_tokens d JOIN factors f USING (source)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(repeats) AS BIGINT) AS n_expanded,
           CAST(sum(repeats * n_tok) AS BIGINT) AS expanded_tokens,
           CAST(min(repeats) AS BIGINT) AS min_repeats,
           CAST(max(repeats) AS BIGINT) AS max_repeats
    FROM expanded
    GROUP BY source
    """,
)
def corpus_epoch_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch expansion for corpus mixing: every source is
    upsampled to the largest source's token mass U via the rational
    repeat factor U/T_src — each doc repeats floor(U/T_src) times plus
    one more when its md5 draw falls under the fractional part
    (deterministic Poisson rounding, exact integer arithmetic at scale
    1e{6}). This is the repeat-factor planning step of multi-epoch data
    mixtures: the expanded token mass per source lands within one doc
    of the target with zero randomness.

    Scale: two aggregates and a broadcast factor join; the actual
    explosion (one output row per repeat) is a downstream
    explode(sequence(1, repeats)) the plan here deliberately reduces to
    its audit numbers — the planning decision is what needs verifying."""
    docs = io.load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    src = docs.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("t_src")
    )
    target = src.agg(F.max("t_src").alias("u"))
    factors = src.crossJoin(F.broadcast(target)).select(
        "source",
        "t_src",
        F.expr("u DIV t_src").alias("whole"),
        F.expr(f"(u % t_src) * {_EPOCH_FRAC_SCALE} DIV t_src").alias(
            "frac_scaled"
        ),
    )
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("epoch#"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _EPOCH_FRAC_SCALE
    )
    expanded = docs.join(F.broadcast(factors), "source").select(
        "source",
        "n_tok",
        (
            F.col("whole")
            + (draw < F.col("frac_scaled")).cast("long")
        ).alias("repeats"),
    )
    return expanded.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("repeats").cast("long").alias("n_expanded"),
        F.sum(F.col("repeats") * F.col("n_tok"))
        .cast("long")
        .alias("expanded_tokens"),
        F.min("repeats").cast("long").alias("min_repeats"),
        F.max("repeats").cast("long").alias("max_repeats"),
    )
