"""Corpus-curation operators: the remaining steps of a pretraining data
pipeline beyond dedup/similarity (BASELINE.json mandate, "beyond the
reference's own operators"): language-balanced sampling, blocklist
redaction, corpus n-gram statistics, boilerplate-prefix detection, and
embedding normalization/quantization plumbing.

All oracle-exact: deterministic md5 sampling, integer/rational arithmetic,
and fp expressions written with IDENTICAL association on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec
from hh_rumors_presto_spark.registry import query

# per-language keep rates for the balanced sample: dominant language
# downsampled hard, tail languages kept at a higher rate (the standard
# rebalancing move for multilingual corpora)
STRAT_MOD = {"en": 10, "de": 2, "fr": 2, "es": 2, "zh": 2}


@query(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang
    FROM (
        SELECT doc_id, lang,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM documents
    )
    WHERE (lang = 'en' AND h % 10 = 0) OR (lang <> 'en' AND h % 2 = 0)
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced deterministic sampling: keep 10% of the dominant
    language, 50% of the tail — selection is a pure function of the doc key
    (stable across partitioning/engines/reruns), one scan, no shuffle."""
    docs = io.load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    keep = ((F.col("lang") == "en") & (h % 10 == 0)) | (
        (F.col("lang") != "en") & (h % 2 == 0)
    )
    return docs.filter(keep).select("doc_id", "lang")


_BLOCK_RE = r"\b(customer|query|vector)\b"


@query(
    "text_blocklist",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(text, '{_BLOCK_RE}', '[TERM]', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '{_BLOCK_RE}')) AS INT) AS n_hits,
           len(regexp_extract_all(text, '{_BLOCK_RE}'))
               > len(string_split(text, ' ')) * 0.05 AS flagged
    FROM documents
    WHERE doc_id % 10 = 0
    """,
)
def text_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist redaction (the dictionary form of PII scrubbing): replace
    blocklisted terms, count hits, flag documents whose hit density exceeds
    5% of tokens. Pure regexp column expressions — whole-stage codegen'd,
    the same shape a real PII pass (emails/phones) uses."""
    docs = io.load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    n_hits = F.regexp_count("text", F.lit(_BLOCK_RE)).cast("int")
    return docs.select(
        "doc_id",
        F.regexp_replace("text", _BLOCK_RE, "[TERM]").alias("scrubbed"),
        n_hits.alias("n_hits"),
        (n_hits > F.size(F.split("text", " ")) * 0.05).alias("flagged"),
    )


@query(
    "text_ngram_freq",
    oracle="""
    SELECT shingle, n
    FROM (
        SELECT shingle, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, shingle) AS rn
        FROM (
            SELECT unnest(list_transform(
                       generate_series(1, len(string_split(text,' ')) - 1),
                       i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                   )) AS shingle
            FROM documents
        )
        GROUP BY shingle
    )
    WHERE rn <= 20
    """,
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram frequency top-20 (the n-gram table behind
    contamination checks and stop-shingle lists): explode (NOT distinct per
    doc — raw occurrence counts), hash agg with map-side partials, then a
    single top-k — TakeOrderedAndProject, no global sort."""
    docs = io.load_table(spark, sf_dir, "documents")
    # bind the split array before the lambda references it (see
    # bigram_shingles: an inline split re-evaluates per element)
    toksed = docs.select(F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 2
    )
    toks = F.col("toks")
    grams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    counts = (
        toksed.select(F.explode(grams).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("n"))
    )
    return (
        counts.orderBy(F.col("n").desc(), F.col("shingle"))
        .limit(20)
        .select("shingle", "n")
    )


PREFIX_TOKENS = 3


@query(
    "dedup_prefix",
    oracle=f"""
    SELECT prefix_hash, count(*) AS n_docs, min(doc_id) AS keeper_doc_id
    FROM (
        SELECT doc_id,
               md5(array_to_string(string_split(text, ' ')[1:{PREFIX_TOKENS}], ' ')) AS prefix_hash
        FROM documents
    )
    GROUP BY prefix_hash
    HAVING count(*) > 1
    """,
)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix detection: documents sharing the same leading
    {PREFIX_TOKENS}-token prefix (headers, templates) bucketed by prefix
    hash — one hash aggregate on a 32-byte key, min(doc_id) survivor.
    The prefix-window analog of dedup_exact."""
    docs = io.load_table(spark, sf_dir, "documents")
    prefix = F.array_join(
        F.slice(F.split("text", " "), 1, PREFIX_TOKENS), " "
    )
    return (
        docs.groupBy(F.md5(prefix).alias("prefix_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "emb_normalize",
    oracle="""
    SELECT vec_id, dim, norm,
           CAST(list_sum(list_transform(
               CAST(embedding AS DOUBLE[]),
               x -> CAST(floor((127.0 * x) / norm) AS BIGINT)
           )) AS BIGINT) AS q_sum
    FROM (
        SELECT vec_id, embedding,
               len(embedding) AS dim,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS norm
        FROM embeddings
    )
    WHERE norm > 0
    """,
)
def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-normalize + int8-style quantization plumbing: per-vector
    norm, then floor((127*x)/norm) per component summed to an integer
    checksum (floor -> exact integer arithmetic, so the cross-engine check
    is exact; the quantized vector itself would be the payload at 100 TB —
    4x smaller than float32, the standard ANN-index footprint trick)."""
    from hh_rumors_presto_spark.functions import dot

    emb = io.load_table(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    with_norm = emb.select(
        "vec_id",
        vec.alias("v"),
        F.size("embedding").alias("dim"),
        F.sqrt(dot(vec, vec)).alias("norm"),
    ).filter(F.col("norm") > 0)
    q_sum = F.aggregate(
        F.transform(
            F.col("v"),
            lambda x: F.floor((F.lit(127.0) * x) / F.col("norm")),
        ),
        F.lit(0).cast("long"),
        lambda acc, q: acc + q,
    )
    return with_norm.select("vec_id", "dim", "norm", q_sum.alias("q_sum"))


@query(
    "agg_moments",
    oracle="""
    SELECT l_returnflag, n, mean, m2,
           (s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean * mean * mean)
               / (m2 * sqrt(m2)) AS skewness
    FROM (
        SELECT l_returnflag,
               count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / count(*) AS mean,
               CAST(sum(CAST(l_quantity AS DECIMAL(28,2))
                        * CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS s2,
               CAST(sum(CAST(l_quantity AS DECIMAL(28,2))
                        * CAST(l_quantity AS DECIMAL(28,2))
                        * CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS s3,
               CAST(sum(CAST(l_quantity AS DECIMAL(28,2))
                        * CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / count(*)
                   - (CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / count(*))
                     * (CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / count(*)) AS m2
        FROM lineitem
        GROUP BY l_returnflag
    )
    """,
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment statistics (variance + skewness) from EXACT decimal
    power sums: the moments are order-insensitive decimals, and the final
    double formula uses only +,-,*,/,sqrt (all correctly rounded IEEE ops)
    with identical association on both engines — so even skewness is
    bit-exact cross-engine, no libm pow() anywhere."""
    li = io.load_table(spark, sf_dir, "lineitem")
    q = dec(F.col("l_quantity"), 2)
    g = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).alias("s1d"),
        F.sum(q * q).alias("s2d"),
        F.sum(q * q * q).alias("s3d"),
    )
    mean = F.col("s1d").cast("double") / F.col("n")
    s2 = F.col("s2d").cast("double")
    s3 = F.col("s3d").cast("double")
    m2 = s2 / F.col("n") - mean * mean
    skew = (
        s3 / F.col("n") - F.lit(3.0) * mean * (s2 / F.col("n"))
        + F.lit(2.0) * mean * mean * mean
    ) / (m2 * F.sqrt(m2))
    return g.select(
        "l_returnflag",
        "n",
        mean.alias("mean"),
        m2.alias("m2"),
        skew.alias("skewness"),
    )


N_SALTS = 8


@query(
    "agg_two_stage",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(28,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation: a handful of hot group keys (5
    event types over the whole table) would each land on ONE reducer in a
    naive groupBy. Stage 1 aggregates on (key, salt) spreading each hot key
    over N_SALTS reducers; stage 2 combines the per-salt partials. Decimal
    sums make the two-stage reduction exactly equal to the direct
    aggregation (the oracle IS the direct form) under any partitioning —
    which is the whole point at 100 TB."""
    ev = io.load_table(spark, sf_dir, "events")
    salted = ev.select(
        "event_type",
        "value",
        (F.col("event_id") % N_SALTS).alias("salt"),
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count("*").alias("pn"),
        F.sum(dec(F.col("value"), 2)).alias("psum"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("psum"), 2).cast("double").alias("total_value"),
    )


DECON_N = 5  # n-gram width for contamination checks


def _five_gram_sql(src_filter: str) -> str:
    return f"""
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(string_split(text,' ')) - {DECON_N - 1}),
                   i -> array_to_string(string_split(text,' ')[i:i+{DECON_N - 1}], ' ')
               ))) AS gram
        FROM documents
        WHERE {src_filter} AND len(string_split(text,' ')) >= {DECON_N}
    """


@query(
    "text_decontaminate",
    oracle=f"""
    WITH bench AS ({_five_gram_sql("doc_id % 97 = 0")}),
    train AS ({_five_gram_sql("doc_id % 97 <> 0")})
    SELECT t.doc_id, count(DISTINCT t.gram) AS n_overlap
    FROM train t JOIN (SELECT DISTINCT gram FROM bench) b ON t.gram = b.gram
    GROUP BY t.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training documents sharing any distinct
    {DECON_N}-gram with the held-out benchmark slice (doc_id % 97 = 0),
    with overlap counts. The benchmark gram set is tiny -> broadcast; the
    training side streams through it without shuffling the corpus — the
    standard n-gram-overlap decontamination pass of a pretraining build."""
    docs = io.load_table(spark, sf_dir, "documents")
    # bind the split array before the lambda slices it (inline split would
    # re-evaluate once per gram position — see bigram_shingles)
    toks = F.col("toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (DECON_N - 1)),
            lambda i: F.array_join(F.slice(toks, i, DECON_N), " "),
        )
    )

    def gram_rows(df):
        return (
            df.select("doc_id", F.split("text", " ").alias("toks"))
            .filter(F.size(toks) >= DECON_N)
            .select("doc_id", F.explode(grams).alias("gram"))
        )

    bench = gram_rows(docs.filter(F.col("doc_id") % 97 == 0)).select(
        "gram"
    ).distinct()
    train = gram_rows(docs.filter(F.col("doc_id") % 97 != 0))
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_overlap"))
    )


@query(
    "ts_ohlc",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id, value,
               CAST(ts AS TIMESTAMP) AS ts,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket
        FROM events
    ),
    ordered AS (
        SELECT *,
               row_number() OVER (PARTITION BY user_id, bucket
                                  ORDER BY ts, event_id) AS rn_open,
               row_number() OVER (PARTITION BY user_id, bucket
                                  ORDER BY ts DESC, event_id DESC) AS rn_close
        FROM base
    )
    SELECT user_id, bucket,
           min(CASE WHEN rn_open = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           min(CASE WHEN rn_close = 1 THEN value END) AS close,
           count(*) AS n
    FROM ordered
    GROUP BY user_id, bucket
    """,
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling to hourly OHLC bars per key: open/close via
    min_by/max_by with (ts, event_id) struct tiebreakers — ONE hash
    aggregate, no window, no sort (the oracle uses windows only because
    DuckDB's arg_min can't take a composite ordering value). The standard
    downsample shape for metric/event streams."""
    ev = io.load_table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts"))
    tie = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.select("user_id", "event_id", "value", "ts", bucket.alias("bucket"))
        .groupBy("user_id", "bucket")
        .agg(
            F.min_by("value", tie).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", tie).alias("close"),
            F.count("*").alias("n"),
        )
    )


@query(
    "json_malformed",
    oracle="""
    SELECT
        count(*) AS n_rows,
        count(CASE WHEN json_valid(maybe_bad) THEN 1 END) AS n_valid,
        CAST(coalesce(sum(CASE WHEN json_valid(maybe_bad)
                 THEN CAST(json_extract_string(maybe_bad, '$.k') AS BIGINT)
                 ELSE 0 END), 0) AS BIGINT) AS k_sum
    FROM (
        SELECT CASE WHEN event_id % 7 = 0
                    THEN substring(props, 1, length(props) - 1)
                    ELSE props END AS maybe_bad
        FROM events
    )
    """,
)
def json_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input tolerance (the PERMISSIVE-mode contract of a real
    ingest, generalizing the reference's break-on-error partial results,
    fetchRumors.js:133-138): every 7th record's JSON is truncated;
    from_json yields NULL for those instead of failing the job, and the
    aggregate reports row/valid/value tallies."""
    from pyspark.sql import types as T

    ev = io.load_table(spark, sf_dir, "events")
    maybe_bad = F.when(
        F.col("event_id") % 7 == 0,
        F.expr("substring(props, 1, length(props) - 1)"),
    ).otherwise(F.col("props"))
    parsed = ev.select(
        F.from_json(
            maybe_bad, T.StructType([T.StructField("k", T.LongType())])
        ).alias("p")
    )
    return parsed.agg(
        F.count("*").alias("n_rows"),
        F.count(F.col("p.k")).alias("n_valid"),
        F.coalesce(F.sum("p.k"), F.lit(0)).alias("k_sum"),
    )


@query(
    "dedup_levenshtein",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               regexp_replace(substring(text, 1, 40),
                              '[^\\x00-\\x7F]', '?', 'g') AS head,
               array_to_string(string_split(text, ' ')[1:2], ' ') AS block
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS INT) AS dist
    FROM d a JOIN d b ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 20
    """,
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup on document heads, BLOCKED by the leading
    2-token prefix so the quadratic Levenshtein only runs within small
    buckets (cost Σ block², never n²) — the classic blocking+verify pair
    pattern of record linkage. levenshtein() is exact integer DP in both
    engines — but DuckDB's counts UTF-8 BYTES while Spark's counts
    CHARACTERS (the all-keys fuzz sweep caught the divergence on
    non-ASCII heads), so the compared head is ASCII-folded identically
    on both sides first (non-ASCII -> '?', where char == byte and the
    two definitions coincide). The fold is the documented cross-engine
    contract of this key, not an approximation of it."""
    docs = io.load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.regexp_replace(
            F.substring("text", 1, 40), r"[^\x00-\x7F]", "?"
        ).alias("head"),
        F.array_join(F.slice(F.split("text", " "), 1, 2), " ").alias("block"),
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(dist <= 20)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("int").alias("dist"),
        )
    )


@query(
    "agg_mode",
    oracle="""
    SELECT c_nationkey, c_mktsegment AS mode_segment, n
    FROM (
        SELECT c_nationkey, c_mktsegment, count(*) AS n,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY count(*) DESC, c_mktsegment) AS rn
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    )
    WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent value, ties broken by
    value order): two-level hash aggregate + max_by struct — no window on
    the big table; built-in mode() is NOT used because its tie-breaking is
    engine-dependent."""
    cust = io.load_table(spark, sf_dir, "customer")
    counts = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("n")
    )
    # max_by over (n, reversed-value) would need a descending string — use
    # min_by over (-n, value): smallest negative count = largest count,
    # then lexicographically smallest value breaks ties
    tie = F.struct((-F.col("n")).alias("neg_n"), F.col("c_mktsegment"))
    return counts.groupBy("c_nationkey").agg(
        F.min_by("c_mktsegment", tie).alias("mode_segment"),
        F.min_by("n", tie).alias("n"),
    )
