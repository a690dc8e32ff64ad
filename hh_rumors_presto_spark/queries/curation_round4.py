"""Round-4 curation/layout keys (LLM training-data mandate, SURVEY.md §2.B):

- ``sample_weighted`` — Efraimidis–Spirakis weighted sampling without
  replacement: the reproducible way to sample a corpus by quality weight
  (vs .sample() whose RNG depends on partitioning).
- ``layout_range_cluster`` — exact-quantile range-boundary computation +
  per-range stats: the boundary-planning step behind repartitionByRange /
  OPTIMIZE-style layout for min-max data skipping at 100 TB.
- ``pipeline_sft_format`` — SFT chat-template formatting with token-span
  loss-mask boundaries (prompt tokens excluded from loss).
- ``layout_zorder`` — Morton bit-interleaved 2-D clustering cells: the
  multi-column data-skipping layout (OPTIMIZE ZORDER BY) complementing
  single-column range clustering.

All keys here carry full DuckDB value-hash oracles over the ``documents``
/ ``orders`` fixtures; later additions (``sample_bottomk_merge``,
``corpus_shard_manifest``) extend the family with mergeable sampling and
the shard-delivery manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.registry import query

# Efraimidis–Spirakis: draw u~U(0,1) per item, keep the k smallest
# -ln(u)/w. Deterministic u from a key hash makes the selected set a pure
# function of the data — reruns, repartitions, and engines all agree.
_ES_PRIME = 1_000_000_007
_ES_DENOM = 1_000_000_009.0
_SAMPLE_K = 100


@query(
    "sample_weighted",
    oracle=f"""
    SELECT doc_id, lang,
           round(-ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                      % {_ES_PRIME} + 1) / {_ES_DENOM})
                 / ln(1 + n_chars), 6) AS es_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY -ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  % {_ES_PRIME} + 1) / {_ES_DENOM}) / ln(1 + n_chars),
             doc_id
    LIMIT {_SAMPLE_K}
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis 2006):
    keep the k smallest exponential keys -ln(u)/w, here with w = ln(1 +
    n_chars) as the quality weight and u derived from md5(doc_id) so the
    sample is reproducible. Scale shape: sort+limit compiles to
    TakeOrderedAndProject — per-partition partial top-k then a k-row merge
    on one reducer; the corpus is scanned once and never shuffled."""
    # n_chars = 0 would make the weight 0 and es_key NULL in Spark
    # (NULLS FIRST under asc) but +inf/NULLS LAST in DuckDB — exclude
    # zero-length docs identically on both sides.
    docs = io.load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    u = (h % _ES_PRIME + 1) / F.lit(_ES_DENOM)
    es_key = -F.log(u) / F.log(1 + F.col("n_chars"))
    return (
        docs.select(
            "doc_id", "lang", es_key.alias("_k"),
        )
        .orderBy("_k", "doc_id")
        .limit(_SAMPLE_K)
        .select("doc_id", "lang", F.round("_k", 6).alias("es_key"))
    )


_QS = [i / 10 for i in range(1, 10)]


@query(
    "layout_range_cluster",
    oracle=f"""
    WITH b AS (
        SELECT unnest(quantile_cont(o_totalprice, {_QS})) AS bd FROM orders
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM (
        SELECT o_totalprice,
               (SELECT CAST(count(*) AS INT) FROM b WHERE b.bd < o.o_totalprice) AS bucket
        FROM orders o
    )
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def layout_range_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustering boundary plan: exact decile boundaries of
    ``o_totalprice`` and per-range (count, min, max) stats — disjoint
    [lo, hi] spans are what make file-level min-max skipping effective.

    This is the planning half of ``repartitionByRange(...).
    sortWithinPartitions(...)``: at 100 TB you compute boundaries once
    (Spark's RangePartitioner samples for the same purpose), tag rows by
    range, and write range-clustered files. The 9-value boundary fetch is
    a driver-side scalar action on an aggregated row — the same
    driver-scale footprint as RangePartitioner's own sample collect."""
    orders = io.load_table(spark, sf_dir, "orders")
    qs_sql = ",".join(str(q) for q in _QS)
    [row] = orders.select(
        F.expr(f"percentile(o_totalprice, array({qs_sql}))").alias("bds")
    ).collect()
    if row["bds"] is None:
        # empty table: no decile boundaries exist; the oracle groups
        # zero rows into zero ranges (r9 empty-table audit)
        return spark.createDataFrame(
            [], "bucket int, n bigint, lo double, hi double"
        )
    bds = list(row["bds"])
    bucket = sum(
        (F.col("o_totalprice") > F.lit(bd)).cast("int") for bd in bds
    )
    return (
        orders.select(
            "o_totalprice", bucket.alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


_PROMPT_TOKS = 12
_MIN_TOKS = 24


@query(
    "pipeline_sft_format",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    )
    SELECT doc_id,
           '<|user|>' || chr(10) || array_to_string(toks[1 : {_PROMPT_TOKS}], ' ')
               || chr(10) || '<|assistant|>' || chr(10)
               || array_to_string(toks[{_PROMPT_TOKS + 1} : n], ' ') AS formatted,
           CAST({_PROMPT_TOKS} AS INT) AS prompt_tok,
           CAST(n - {_PROMPT_TOKS} AS INT) AS response_tok
    FROM t
    WHERE n >= {_MIN_TOKS}
    """,
)
def pipeline_sft_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT formatting: split each document into a {_PROMPT_TOKS}-token
    prompt and the remaining response, render the chat template, and emit
    the token-span boundaries a trainer uses to mask prompt tokens out of
    the loss. Pure whole-stage-codegen column expressions (split/slice/
    concat) — no UDF, no shuffle; embarrassingly parallel at any scale."""
    docs = io.load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    return (
        docs.select("doc_id", toks.alias("_t"), n.alias("_n"))
        .filter(F.col("_n") >= _MIN_TOKS)
        .select(
            "doc_id",
            F.concat(
                F.lit("<|user|>\n"),
                F.array_join(F.slice(F.col("_t"), 1, _PROMPT_TOKS), " "),
                F.lit("\n<|assistant|>\n"),
                F.array_join(
                    F.slice(
                        F.col("_t"),
                        _PROMPT_TOKS + 1,
                        F.greatest(F.col("_n") - _PROMPT_TOKS, F.lit(0)),
                    ),
                    " ",
                ),
            ).alias("formatted"),
            F.lit(_PROMPT_TOKS).cast("int").alias("prompt_tok"),
            (F.col("_n") - _PROMPT_TOKS).cast("int").alias("response_tok"),
        )
    )


_ZBITS = 4  # 16 bins per dimension -> 8-bit Morton codes


def _spread4_sql(v: str) -> str:
    """Interleave-ready bit spread of a 4-bit value (SQL text)."""
    return (
        f"(({v} & 1) | (({v} & 2) << 1) | (({v} & 4) << 2) | (({v} & 8) << 3))"
    )


@query(
    "layout_zorder",
    oracle=f"""
    WITH params AS (
        SELECT min(o_totalprice) AS pmin, max(o_totalprice) AS pmax,
               min(epoch_us(o_orderdate)) AS dmin, max(epoch_us(o_orderdate)) AS dmax
        FROM orders
    ),
    binned AS (
        SELECT least(15, CAST(floor((o_totalprice - pmin) / (pmax - pmin) * 16) AS INT)) AS xb,
               least(15, CAST(floor((epoch_us(o_orderdate) - dmin) / (dmax - dmin) * 16.0) AS INT)) AS yb,
               o_totalprice, epoch_us(o_orderdate) AS d_us
        FROM orders, params
    ),
    coded AS (
        SELECT ({_spread4_sql('xb')} | ({_spread4_sql('yb')} << 1)) AS z,
               o_totalprice, d_us
        FROM binned
    )
    SELECT CAST(z // 4 AS INT) AS z_cell,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS price_lo,
           round(max(o_totalprice), 2) AS price_hi,
           CAST(min(d_us) AS BIGINT) AS date_lo_us,
           CAST(max(d_us) AS BIGINT) AS date_hi_us
    FROM coded
    GROUP BY 1
    """,
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering plan over (price, order date): 16 bins
    per dimension, bits interleaved into an 8-bit curve position, stats per
    curve cell. Sorting files by z makes BOTH dimensions' file-level
    min/max spans tight — the multi-column data-skipping layout
    (OPTIMIZE ZORDER BY) that single-column range clustering
    (layout_range_cluster) cannot give. Bit spread is pure integer
    arithmetic (& | <<) identical in both engines; range scalars come from
    one collected aggregate row, same as RangePartitioner sampling."""
    orders = io.load_table(spark, sf_dir, "orders")
    [p] = orders.agg(
        F.min("o_totalprice").alias("pmin"),
        F.max("o_totalprice").alias("pmax"),
        F.min(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias("dmin"),
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias("dmax"),
    ).collect()
    if p.pmin is None:
        # empty table: no range scalars; zero rows bin into zero cells
        # in the oracle (r9 empty-table audit)
        return spark.createDataFrame(
            [],
            "z_cell int, n bigint, price_lo double, price_hi double,"
            " date_lo_us bigint, date_hi_us bigint",
        )

    def spread4(v):
        return (
            (v.bitwiseAND(1))
            .bitwiseOR(F.shiftleft(v.bitwiseAND(2), 1))
            .bitwiseOR(F.shiftleft(v.bitwiseAND(4), 2))
            .bitwiseOR(F.shiftleft(v.bitwiseAND(8), 3))
        )

    xb = F.least(
        F.lit(15),
        F.floor((F.col("o_totalprice") - p.pmin) / (p.pmax - p.pmin) * 16).cast("int"),
    )
    yb = F.least(
        F.lit(15),
        F.floor(
            (F.unix_micros(F.col("o_orderdate").cast("timestamp")) - F.lit(p.dmin))
            / F.lit(float(p.dmax - p.dmin))
            * 16.0
        ).cast("int"),
    )
    z = spread4(xb).bitwiseOR(F.shiftleft(spread4(yb), 1))
    return (
        orders.select(
            "o_totalprice",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("d_us"),
            z.alias("z"),
        )
        .groupBy((F.col("z") / 4).cast("int").alias("z_cell"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("price_lo"),
            F.round(F.max("o_totalprice"), 2).alias("price_hi"),
            F.min("d_us").alias("date_lo_us"),
            F.max("d_us").alias("date_hi_us"),
        )
    )


@query(
    "sample_bottomk_merge",
    oracle="""
    WITH h AS (
        SELECT doc_id, md5(text || ':' || CAST(doc_id AS VARCHAR)) AS hkey
        FROM documents
    )
    SELECT doc_id, hkey
    FROM h
    ORDER BY hkey, doc_id
    LIMIT 20
    """,
)
def sample_bottomk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordination-free distributed uniform sample via hash order
    statistics (bottom-k sketch): every shard keeps its own bottom-20
    doc hashes independently, the merged union's bottom-20 IS the global
    uniform sample — proved by the oracle, which computes the global
    bottom-20 directly. Because bottom-k of a union equals bottom-k of
    per-shard bottom-k's, shards never coordinate and partial samples
    are mergeable across files, days, or clusters (this is also how
    distinct-count sketches and streaming samplers keep state bounded).

    Scale: per-shard top-k is a WindowGroupLimit (no shard ships more
    than k rows); the merge stage sees shards*k rows total."""
    docs = io.load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.col("text"), F.lit(":"), F.col("doc_id").cast("string"))
        ).alias("hkey"),
        (F.col("doc_id") % 4).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    per_shard = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "hkey")
    )
    return (
        per_shard.orderBy("hkey", "doc_id").limit(20).select("doc_id", "hkey")
    )


@query(
    "corpus_shard_manifest",
    oracle="""
    SELECT doc_id % 8 AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST(CAST(sum(CAST('0x' || substring(md5(text), 1, 10) AS BIGINT))
                     AS DECIMAL(38,0)) AS VARCHAR) AS checksum
    FROM documents
    GROUP BY doc_id % 8
    """,
)
def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data delivery step: the corpus lands as N physical shards
    plus a MANIFEST row per shard (doc count, token count, char count,
    order-insensitive content checksum). The manifest is computed from a
    RE-READ of the written files — it certifies the bytes on disk, not
    the plan that produced them — while the oracle recomputes the same
    stats from the raw table, so a lost/duplicated/corrupted row in the
    shard write shows up as a correctness failure.

    Scale: shard = hash(doc) % N is the standard reproducible layout; the
    manifest is one keyed aggregate over the written data, and the
    additive checksum means shard manifests can also be merged upward
    into a corpus-level manifest without re-reading."""
    docs = io.load_table(spark, sf_dir, "documents")
    out_dir = io.scoped_tmp_dir(spark, "shards", sf_dir)
    (
        docs.withColumn("shard", F.col("doc_id") % 8)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    # Explicit schema on the re-read: production manifests pin their
    # schema rather than infer it, and an EMPTY corpus writes zero
    # part files — inference then raises UNABLE_TO_INFER_SCHEMA while
    # the oracle returns an empty manifest (r9 sf0 audit). The pinned
    # schema is exactly what inference yields on non-empty data
    # (partition column `shard` inferred as int), so canonical
    # results are bit-identical.
    from pyspark.sql.types import IntegerType, StructField, StructType

    manifest_schema = StructType(
        list(docs.schema.fields)
        + [StructField("shard", IntegerType())]
    )
    written = spark.read.schema(manifest_schema).parquet(out_dir)
    h = (
        F.conv(F.substring(F.md5("text"), 1, 10), 16, 10)
        .cast("decimal(38,0)")
    )
    return written.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.sum(h).cast("decimal(38,0)").cast("string").alias("checksum"),
    ).localCheckpoint(eager=True)
