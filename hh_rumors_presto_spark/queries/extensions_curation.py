"""Training-data curation, round 2 batch (BASELINE.json LLM-pipeline
mandate): Gopher-style quality rules, n-gram repetition scoring,
per-domain caps, concat-and-chunk sequence packing, k-means centroid
assignment, exact vocabulary heavy hitters, and an ORC sink roundtrip.

Scale posture (100 TB): every operator is per-document column arithmetic
or a keyed aggregate — no cross-document window except the per-shard
packing cumsum, which partitions by an explicit shard key precisely so no
single task ever sees the global corpus. The k-means assignment
broadcasts only the centroid set (k rows); the corpus is scanned once.

Oracle parity: ratios are computed as one double division of exact
integer counts, identically shaped in both engines; deterministic mode
uses the (count desc, value asc) total order (same convention as
``agg_mode``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec
from hh_rumors_presto_spark.functions import dot
from hh_rumors_presto_spark.registry import query

_STOPWORDS = ("the", "of", "and", "a", "to", "in", "is", "on", "for")

# DuckDB-side bigram list for a toks list column (1-based indexing).
_BIGRAMS_SQL = (
    "list_transform(generate_series(1, len(toks)-1), "
    "i -> list_extract(toks, i) || ' ' || list_extract(toks, i+1))"
)


def _bigrams(toks: F.Column) -> F.Column:
    """Adjacent-pair shingles via zip_with over shifted slices; empty for
    single-token docs (slice length 0). Pass a BOUND array column, not an
    inline split — an inline expression re-evaluates inside the lambda
    (see queries/extensions_dedup.bigram_shingles)."""
    pair = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    return F.when(F.size(toks) >= 2, pair).otherwise(
        F.array().cast("array<string>")
    )


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS toks,
               length(text) AS n_chars
        FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_words,
           CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks)
               AS mean_word_len,
           CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
               / len(toks) AS hash_ratio,
           CAST((length(text) - length(replace(text, '...', ''))) / 3
                AS DOUBLE) / len(toks) AS ellipsis_ratio,
           len(list_distinct(list_filter(toks,
               x -> list_contains({list(_STOPWORDS)!r}::VARCHAR[], x))))
               AS n_stop_distinct,
           len(toks) BETWEEN 20 AND 100000 AS r_wordcount,
           CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks)
               BETWEEN 2.0 AND 10.0 AS r_meanlen,
           len(list_distinct(list_filter(toks,
               x -> list_contains({list(_STOPWORDS)!r}::VARCHAR[], x)))) >= 2
               AS r_stopwords,
           (len(toks) BETWEEN 20 AND 100000)
               AND (CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks)
                    BETWEEN 2.0 AND 10.0)
               AND (CAST(length(text) - length(replace(text, '#', ''))
                    AS DOUBLE) / len(toks) < 0.1)
               AND (len(list_distinct(list_filter(toks,
                    x -> list_contains({list(_STOPWORDS)!r}::VARCHAR[], x)))) >= 2)
               AS passes_gopher
    FROM t
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gates (word-count band, mean word length,
    symbol-to-word ratios, stopword presence) as pure column expressions —
    the rule battery every pretraining corpus filter runs per document.
    Mean word length uses total non-space chars / words, exact integer
    arithmetic until one final double division."""
    docs = io.load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks)
    n_chars = F.length("text")
    mean_len = (n_chars - (n_words - 1)).cast("double") / n_words
    n_hash = n_chars - F.length(F.replace("text", F.lit("#"), F.lit("")))
    n_ellipsis = (
        n_chars - F.length(F.replace("text", F.lit("..."), F.lit("")))
    ) / F.lit(3)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(
        F.array_distinct(
            F.filter(toks, lambda x: F.array_contains(stop_arr, x))
        )
    )
    r_wordcount = n_words.between(20, 100000)
    r_meanlen = mean_len.between(2.0, 10.0)
    hash_ratio = n_hash.cast("double") / n_words
    r_stopwords = n_stop >= 2
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        hash_ratio.alias("hash_ratio"),
        (n_ellipsis.cast("double") / n_words).alias("ellipsis_ratio"),
        n_stop.alias("n_stop_distinct"),
        r_wordcount.alias("r_wordcount"),
        r_meanlen.alias("r_meanlen"),
        r_stopwords.alias("r_stopwords"),
        (
            r_wordcount & r_meanlen & (hash_ratio < 0.1) & r_stopwords
        ).alias("passes_gopher"),
    )


@query(
    "text_repetition",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    b AS (
        SELECT doc_id, unnest({_BIGRAMS_SQL}) AS bigram FROM t
    ),
    counts AS (
        SELECT doc_id, bigram, count(*) AS cnt
        FROM b GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_bigrams,
           count(*) AS n_distinct,
           1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
               AS dup_bigram_frac,
           first(bigram ORDER BY cnt DESC, bigram) AS top_bigram,
           CAST(first(cnt ORDER BY cnt DESC, bigram) AS BIGINT)
               AS top_bigram_cnt,
           CAST(first(cnt ORDER BY cnt DESC, bigram) AS DOUBLE)
               / CAST(sum(cnt) AS DOUBLE) AS top_bigram_frac
    FROM counts
    GROUP BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring (the Gopher/C4 duplicate-n-gram family):
    per-document duplicate-bigram fraction and most-frequent-bigram share.
    Two-level hash aggregate (doc x bigram counts, then per-doc fold with
    a deterministic (cnt desc, bigram asc) mode via min_by) — no window,
    no per-doc collect; shuffle keys are (doc_id, bigram) then doc_id."""
    docs = io.load_table(spark, sf_dir, "documents")
    exploded = docs.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", F.explode(_bigrams(F.col("toks"))).alias("bigram")
    )
    counts = exploded.groupBy("doc_id", "bigram").agg(
        F.count("*").alias("cnt")
    )
    tie = F.struct((-F.col("cnt")).alias("neg_cnt"), F.col("bigram"))
    n_bigrams = F.sum("cnt")
    top_cnt = F.min_by("cnt", tie)
    return counts.groupBy("doc_id").agg(
        n_bigrams.cast("bigint").alias("n_bigrams"),
        F.count("*").alias("n_distinct"),
        (
            F.lit(1.0)
            - F.count("*").cast("double") / n_bigrams.cast("double")
        ).alias("dup_bigram_frac"),
        F.min_by("bigram", tie).alias("top_bigram"),
        top_cnt.cast("bigint").alias("top_bigram_cnt"),
        (top_cnt.cast("double") / n_bigrams.cast("double")).alias(
            "top_bigram_frac"
        ),
    )


_DOMAIN_CAP = 10


@query(
    "corpus_domain_cap",
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN rn <= {_DOMAIN_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn <= {_DOMAIN_CAP} THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS frac_kept
    FROM (
        SELECT source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents
    )
    GROUP BY source
    """,
)
def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps (web-corpus curation: no single domain may
    dominate the training mix): rank docs within each source by quality
    proxy (n_chars desc, doc_id tiebreak), keep the top N, report the
    retention per source. One shuffle on the domain key; the window and
    the summary aggregate share it (Exchange reuse)."""
    docs = io.load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    kept = F.when(F.col("rn") <= _DOMAIN_CAP, 1).otherwise(0)
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(kept).cast("bigint").alias("n_kept"),
            (F.sum(kept).cast("double") / F.count("*")).alias("frac_kept"),
        )
    )


_PACK_CTX = 512
_PACK_SHARDS = 8


@query(
    "pipeline_pack",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               doc_id % {_PACK_SHARDS} AS shard,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    )
    SELECT doc_id, shard, n_tokens,
           CAST(floor(CAST(cum_excl AS DOUBLE) / {_PACK_CTX}.0) AS BIGINT)
               AS pack_id,
           CAST(cum_excl % {_PACK_CTX} AS BIGINT) AS pack_offset
    FROM (
        SELECT doc_id, shard, n_tokens,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_excl
        FROM t
    )
    """,
)
def pipeline_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style pretraining: documents
    are concatenated per shard and split every CTX tokens): exclusive
    running token count -> pack id + offset. Partitioned by an explicit
    shard key so the cumsum window is per-shard — at 100 TB each shard
    packs independently; no global single-partition window exists."""
    docs = io.load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        docs.select(
            "doc_id",
            (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
            n_tokens.alias("n_tokens"),
        )
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            F.floor(cum_excl.cast("double") / F.lit(float(_PACK_CTX)))
            .cast("bigint")
            .alias("pack_id"),
            (cum_excl % _PACK_CTX).cast("bigint").alias("pack_offset"),
        )
    )


_KMEANS_K = 8

_D2_SQL = (
    "list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))"
    " - 2.0 * list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
    " + list_inner_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
)


@query(
    "emb_kmeans_assign",
    oracle=f"""
    SELECT vec_id, centroid_id, dist2
    FROM (
        SELECT e.vec_id, c.vec_id AS centroid_id,
               {_D2_SQL} AS dist2,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_D2_SQL} ASC, c.vec_id
               ) AS rn
        FROM embeddings e
        JOIN embeddings c ON c.vec_id < {_KMEANS_K}
    )
    WHERE rn = 1
    """,
)
def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means assignment step (the inner loop of IVF index training /
    corpus clustering): nearest centroid by squared L2, centroids seeded
    deterministically (first k vec_ids). The k-row centroid set broadcasts
    (BroadcastNestedLoopJoin over k rows == the map-side flat loop a
    hand-rolled assign would do); the corpus scans once and never
    shuffles; argmin via deterministic (dist2, centroid_id) order.
    dist2 expands to v.v - 2 v.c + c.c with identical association in both
    engines, so boundary assignments agree bit-exactly."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    cent = (
        emb.filter(F.col("vec_id") < _KMEANS_K)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("c_emb"),
        )
    )
    e = F.col("embedding")
    c = F.col("c_emb")
    d2 = dot(e, e) - F.lit(2.0) * dot(e, c) + dot(c, c)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dist2").asc(), F.col("centroid_id")
    )
    return (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(cent))
        .select("vec_id", "centroid_id", d2.alias("dist2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id", "dist2")
    )


_HH_SUPPORT = 0.01


@query(
    "agg_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    total AS (SELECT count(*) AS n FROM toks)
    SELECT token, cnt, CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) AS frac
    FROM (
        SELECT token, count(*) AS cnt FROM toks GROUP BY token
    ), total
    WHERE CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) > {_HH_SUPPORT}
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vocabulary heavy hitters (tokens above a support threshold —
    the exact counterpart of count-min/space-saving sketches, and the
    stopword-discovery pass of corpus analysis): explode -> token counts
    -> scalar total broadcast -> threshold filter. The total is a 1-row
    broadcast cross join, not a window over the vocabulary."""
    docs = io.load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = toks.agg(F.count("*").alias("n"))
    frac = F.col("cnt").cast("double") / F.col("n").cast("double")
    return (
        counts.join(F.broadcast(total))
        .filter(frac > _HH_SUPPORT)
        .select("token", "cnt", frac.alias("frac"))
    )


@query(
    "sink_orc_roundtrip",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE)
               AS sum_qty
    FROM lineitem
    WHERE l_discount > 0.05
    GROUP BY l_returnflag
    """,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan roundtrip (second columnar format besides parquet;
    DuckDB cannot read ORC, so the oracle verifies end-to-end value
    fidelity from the parquet source instead): write a filtered
    projection as ORC, read it back, aggregate. Proves the ORC codepath
    preserves values exactly."""
    li = io.load_table(spark, sf_dir, "lineitem")
    out_dir = io.scoped_tmp_dir(spark, "sink_orc", sf_dir)
    sink = li.filter(F.col("l_discount") > 0.05).select(
        "l_returnflag", "l_quantity"
    )
    sink.write.mode("overwrite").orc(out_dir)
    return (
        spark.read.schema(sink.schema).orc(out_dir)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(dec(F.col("l_quantity"), 2)).cast("double").alias("sum_qty"),
        )
    )


# --- round-2 additions: segment dedup, quality ranking, histogram, best-of ---

_SEG = 16  # tokens per segment


@query(
    "text_segment_dedup",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    segs AS (
        SELECT doc_id,
               generate_subscripts(seglist, 1) - 1 AS seg_idx,
               unnest(seglist) AS seg
        FROM (
            SELECT doc_id,
                   list_transform(
                       generate_series(0, CAST((len(toks) + {_SEG} - 1) // {_SEG} AS INT) - 1),
                       i -> array_to_string(list_slice(toks, i * {_SEG} + 1, i * {_SEG} + {_SEG}), ' ')
                   ) AS seglist
            FROM t
        )
    ),
    ranked AS (
        SELECT doc_id, seg_idx,
               row_number() OVER (
                   PARTITION BY md5(seg) ORDER BY doc_id, seg_idx
               ) AS rn
        FROM segs
    )
    SELECT doc_id,
           count(*) AS n_segs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS keep_ratio
    FROM ranked
    GROUP BY doc_id
    """,
)
def text_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-SEGMENT removal (C4/CCNet-style boilerplate
    strip): docs are cut into fixed 16-token segments; a segment survives
    only in its first occurrence corpus-wide (order = (doc_id, seg_idx)).
    Output: per-doc segment counts + keep ratio.

    Scale: segments shuffle once on md5(segment) (the dedup key) —
    identical shape to dedup_exact but at sub-document granularity; the
    per-doc re-agg is a second keyed shuffle. No global window."""
    docs = io.load_table(spark, sf_dir, "documents")
    # bind toks before the lambda slices it (inline split re-evaluates per
    # segment — see extensions_dedup.bigram_shingles)
    toks = F.col("toks")
    nseg = F.floor((F.size(toks) + _SEG - 1) / _SEG).cast("int")
    seglist = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * _SEG + 1, _SEG)),
    )
    segs = docs.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", F.posexplode(seglist).alias("seg_idx", "seg")
    )
    w = Window.partitionBy(F.md5("seg")).orderBy("doc_id", "seg_idx")
    ranked = segs.select(
        "doc_id", "seg_idx", F.row_number().over(w).alias("rn")
    )
    kept = F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_segs"),
        kept.cast("long").alias("n_kept"),
        (kept.cast("double") / F.count("*")).alias("keep_ratio"),
    )


@query(
    "curation_quality_rank",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(string_split(text, ' '),
                        t -> list_contains({list(_STOPWORDS)!r}, t))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS stop_ratio,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS distinct_ratio
        FROM documents
    ),
    blended AS (
        SELECT doc_id, lang,
               0.6 * distinct_ratio + 0.4 * stop_ratio AS score
        FROM scored
    )
    SELECT doc_id, lang, score, pr
    FROM (
        SELECT doc_id, lang, score,
               percent_rank() OVER (
                   PARTITION BY lang ORDER BY score DESC, doc_id
               ) AS pr
        FROM blended
    )
    WHERE pr <= 0.25
    """,
)
def curation_quality_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ensemble ranking: blend exact count ratios (stopword +
    type/token) into one score, percent_rank per language partition, keep
    the top quartile. Every input to the float blend is a single integer
    division (exact, engine-identical); the blend is one fixed-shape
    expression, so the ranking is bit-stable cross-engine.

    Scale: window partitions by lang — at 100 TB with few langs you'd
    pre-bucket by (lang, score-band) or cut on an approx-quantile
    threshold instead of ranking inside one partition per lang; the
    operator contract (top share per class) is the same."""
    docs = io.load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double") / n
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    blended = docs.select(
        "doc_id",
        "lang",
        (F.lit(0.6) * distinct_ratio + F.lit(0.4) * stop_ratio).alias("score"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("score").desc(), "doc_id")
    return (
        blended.select(
            "doc_id", "lang", "score", F.percent_rank().over(w).alias("pr")
        )
        .filter(F.col("pr") <= 0.25)
    )


@query(
    "corpus_length_histogram",
    oracle="""
    SELECT lang,
           length(CAST(n_chars AS VARCHAR)) AS digits,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram in decimal-digit buckets (exact integer
    bucketing — no log(), whose libm rounding differs per engine). The
    length-distribution profile that drives chunk-size and packing
    decisions."""
    docs = io.load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        "lang", F.length(F.col("n_chars").cast("string")).alias("digits")
    ).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "dedup_best_of",
    oracle="""
    SELECT doc_id, n_copies, n_chars
    FROM (
        SELECT doc_id, n_chars,
               count(*) OVER (PARTITION BY md5(text)) AS n_copies,
               row_number() OVER (
                   PARTITION BY md5(text)
                   ORDER BY n_chars DESC, doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn = 1
    """,
)
def dedup_best_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority dedup: exact-content groups keep the BEST survivor (max
    n_chars, then smallest doc_id) rather than first-wins — the shape used
    when duplicates differ in metadata quality. One hash agg via max_by
    over an ordering struct; no window, no second shuffle (the oracle uses
    a window because DuckDB's arg_max can't take the composite tiebreak)."""
    docs = io.load_table(spark, sf_dir, "documents")
    tie = F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
    return (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(
            F.max_by("doc_id", tie).alias("doc_id"),
            F.count("*").alias("n_copies"),
            F.max_by("n_chars", tie).alias("n_chars"),
        )
        .select("doc_id", "n_copies", "n_chars")
    )


_SUB_W = 16  # window tokens
_SUB_STRIDE = 4


@query(
    "dedup_substring",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    wins AS (
        SELECT doc_id,
               CAST((start - 1) // {_SUB_STRIDE} AS INT) AS win_idx,
               md5(array_to_string(toks[start : start + {_SUB_W} - 1], ' ')) AS h
        FROM (
            SELECT doc_id, toks, n,
                   unnest(generate_series(1, n - {_SUB_W} + 1, {_SUB_STRIDE})) AS start
            FROM t WHERE n >= {_SUB_W}
        )
    ),
    ranked AS (
        SELECT doc_id, h,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, win_idx) AS rn
        FROM wins
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(*) FILTER (rn > 1) AS BIGINT) AS n_dup_windows,
           round(CAST(count(*) FILTER (rn > 1) AS DOUBLE) / count(*), 6)
               AS dup_fraction
    FROM ranked
    GROUP BY doc_id
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window duplicated-span detection (the exact-substring dedup
    shape of Lee et al.'s 'Deduplicating Training Data Makes Language
    Models Better', bounded by stride): {_SUB_W}-token windows every
    {_SUB_STRIDE} tokens, hashed; a window is a duplicate if an identical
    span occurred earlier corpus-wide ((doc_id, win_idx) order). Unlike
    fixed segments (text_segment_dedup), overlapping windows catch
    duplicated spans at ANY alignment. One shuffle on the window hash,
    then a per-doc re-agg; window volume is n/stride rows per doc."""
    from pyspark.sql import Window

    docs = io.load_table(spark, sf_dir, "documents")
    toks = F.col("toks")
    wins = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size(toks) >= _SUB_W)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(1), F.size(toks) - _SUB_W + 1, F.lit(_SUB_STRIDE)
                )
            ).alias("start"),
        )
        .select(
            "doc_id",
            (((F.col("start") - 1) / _SUB_STRIDE).cast("int")).alias("win_idx"),
            F.md5(
                F.concat_ws(" ", F.slice(toks, F.col("start"), _SUB_W))
            ).alias("h"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("h").orderBy("doc_id", "win_idx")
    )
    dup = F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
    return (
        wins.select("doc_id", rn.alias("rn"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            dup.cast("long").alias("n_dup_windows"),
            F.round(dup.cast("double") / F.count("*"), 6).alias("dup_fraction"),
        )
    )


_TOKEN_BUDGET = 30_000


@query(
    "corpus_token_budget",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, n_chars, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tok,
               sum(n_tok) OVER (
                   ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM t
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum AS BIGINT) AS cum_tokens
    FROM c WHERE cum <= {_TOKEN_BUDGET}
    """,
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget fill: take documents in quality order (n_chars desc,
    doc_id tiebreak) until the cumulative token count reaches
    {_TOKEN_BUDGET} — the 'best docs until the budget is full' selection
    every sized pretraining mix runs.

    The global cumulative sum is computed WITHOUT a single-partition
    window (same two-phase shape as global_row_number): deterministic
    contiguous quality-range buckets, per-bucket token totals -> prefix-sum
    offsets (tiny, broadcast), then a keyed running sum within each
    bucket. Every full-data operation is partitioned by bucket."""
    docs = io.load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.size(F.split("text", " ")).alias("n_tok")
    )
    # floor(-n_chars/64): descending n_chars -> ascending bucket, each
    # bucket a contiguous 64-char quality range (arithmetic, no sampling)
    bucketed = docs.withColumn(
        "bucket", F.floor(-F.col("n_chars") / F.lit(64)).cast("bigint")
    )
    totals = bucketed.groupBy("bucket").agg(F.sum("n_tok").alias("tok"))
    offsets = totals.select(
        "bucket",
        F.sum("tok")
        .over(Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1))
        .alias("offset"),
    ).fillna({"offset": 0})
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.col("offset") + F.sum("n_tok").over(w)
    return (
        bucketed.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tok"),
            cum.cast("long").alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= _TOKEN_BUDGET)
    )
