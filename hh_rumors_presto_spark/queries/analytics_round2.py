"""Round-2 breadth batch: BM25 relevance scoring, time-series linear
interpolation, bitwise aggregates, codec scalar functions, mergeable HLL
sketches, small-file compaction, and fixed-point iterative k-means.

Determinism notes (registry.py rules):
- BM25 uses the RATIONAL idf variant ``(N - df + 0.5)/(df + 0.5)`` —
  dropping the ln() keeps the score a fixed-shape IEEE expression over
  exact integer counts (ln's libm rounding is not guaranteed identical
  across the JVM and DuckDB); ranking order is preserved for df < N/2,
  which holds for all query terms used.
- Per-doc BM25 totals sum a FIXED number of per-term columns in a fixed
  expression order (s1 + s2 + s3), never a float SUM aggregate.
- k-means runs in BIGINT fixed-point (1.0 == 10^6) SHIFTED positive by
  10^7 so the centroid mean's truncating division agrees between Spark's
  DIV (trunc toward zero) and DuckDB's // (floor) — identical for
  non-negative operands. Squared distances are shift-invariant.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec
from hh_rumors_presto_spark.registry import query

_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS = ("spark", "table", "hash")

_EMB_Q = 1_000_000  # k-means fixed-point scale
_EMB_OFF = 10_000_000  # shift making every fixed-point value positive
_KMEANS_K = 4


def _match_term(term: str):
    return lambda w: w == F.lit(term)


def _bm25_term_sql(i: int, term: str) -> str:
    """One BM25 term's score column (DuckDB side)."""
    # NB: (K1 + 1) must be CAST to DOUBLE here — DuckDB parses decimal
    # literals as DECIMAL, so tf * (1.2 + 1) would be EXACT decimal 2.2
    # while Spark's double is 2.2000000000000002 (1-ulp skew in exact-
    # float mode). The cast makes both engines multiply the same double.
    return f"""
        CASE WHEN tf{i} > 0 THEN
            ((n_docs - df{i} + 0.5) / (df{i} + 0.5))
            * (tf{i} * CAST({_BM25_K1} + 1 AS DOUBLE))
            / (tf{i} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
        ELSE 0.0 END
    """


@query(
    "text_bm25",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS dl,
               {", ".join(
                   f"len(list_filter(string_split(text, ' '), w -> w = '{term}')) AS tf{i}"
                   for i, term in enumerate(_BM25_TERMS)
               )}
        FROM documents
    ),
    stats AS (
        SELECT count(*) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
               {", ".join(
                   f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
                   for i in range(len(_BM25_TERMS))
               )}
        FROM t
    )
    SELECT doc_id,
           {" + ".join(f"({_bm25_term_sql(i, term)})" for i, term in enumerate(_BM25_TERMS))}
               AS score
    FROM t, stats
    WHERE {" + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))} > 0
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance (rational-idf variant, module docstring) for a fixed
    3-term query; top-20 docs. Per-doc term frequencies are pure array
    expressions (no explode); corpus stats (N, avgdl, per-term df) reduce
    to ONE row broadcast back — the corpus is scanned twice and never
    shuffled; the final top-k is a partial TakeOrdered."""
    docs = io.load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        # NB: a 2-arg lambda would be read by F.filter as (element, index),
        # so the term is captured via a factory instead of a default arg
        *[
            F.size(F.filter(toks, _match_term(term))).alias(f"tf{i}")
            for i, term in enumerate(_BM25_TERMS)
        ],
    )
    stats = t.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def term_score(i: int) -> F.Column:
        tf = F.col(f"tf{i}").cast("double")
        df = F.col(f"df{i}").cast("double")
        idf = (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))
        # association must mirror the SQL text exactly: the oracle's
        # `idf * (tf*(k1+1)) / den` is LEFT-associative, i.e.
        # (idf * num) / den — writing idf * (num/den) drifts by 1 ulp
        num = idf * (tf * (_BM25_K1 + 1))
        den = (
            tf
            + _BM25_K1
            * (
                F.lit(1 - _BM25_B)
                + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
            )
        )
        return F.when(F.col(f"tf{i}") > 0, num / den).otherwise(F.lit(0.0))

    score = term_score(0) + term_score(1) + term_score(2)
    matched = sum(
        [F.col(f"tf{i}") for i in range(len(_BM25_TERMS))], F.lit(0)
    )
    return (
        t.join(F.broadcast(stats))
        .filter(matched > 0)
        .select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@query(
    "ts_resample_interp",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               lead(CAST(ts AS TIMESTAMP)) OVER w AS ts1,
               lead(value) OVER w AS v1
        FROM events
        WHERE user_id % 50 = 0
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    seg AS (
        SELECT user_id, ts AS t0, ts1 AS t1, value AS v0, v1
        FROM ev WHERE ts1 IS NOT NULL AND ts1 > ts
    ),
    grid AS (
        SELECT user_id, t0, t1, v0, v1,
               unnest(generate_series(
                   CASE WHEN date_trunc('hour', t0) = t0 THEN t0
                        ELSE date_trunc('hour', t0) + INTERVAL 1 HOUR END,
                   t1, INTERVAL 1 HOUR)) AS g
        FROM seg
    )
    SELECT user_id, g AS grid_ts,
           v0 + (v1 - v0) * (CAST(epoch_us(g) - epoch_us(t0) AS DOUBLE)
                             / CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE))
               AS value_interp
    FROM grid
    WHERE g < t1
    """,
)
def ts_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's event series onto a 1-hour grid with linear
    interpolation: consecutive-event segments via lead(), grid points via
    sequence() inside [t0, t1), interp = v0 + (v1-v0)·frac where frac is
    one exact-µs integer ratio — a fixed-shape IEEE expression, engine-
    identical. Zero-length segments (duplicate timestamps) are skipped.

    Scale: per-key window + per-segment bounded fan-out — no global state;
    grid density controls output volume, not shuffle count."""
    ev = io.load_table(spark, sf_dir, "events").filter(F.col("user_id") % 50 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        ev.select(
            "user_id",
            F.col("ts").alias("t0"),
            F.lead("ts").over(w).alias("t1"),
            F.col("value").alias("v0"),
            F.lead("value").over(w).alias("v1"),
        )
        .filter(F.col("t1").isNotNull() & (F.col("t1") > F.col("t0")))
    )
    hour0 = F.date_trunc("hour", F.col("t0"))
    start = F.when(hour0 == F.col("t0"), F.col("t0")).otherwise(
        hour0 + F.expr("INTERVAL 1 HOUR")
    )
    grid = seg.select(
        "user_id",
        "t0",
        "t1",
        "v0",
        "v1",
        # sequence() raises on start > stop (DuckDB's generate_series
        # returns empty), so short segments are masked to an empty array
        F.explode(
            F.when(
                start <= F.col("t1"),
                F.sequence(start, F.col("t1"), F.expr("INTERVAL 1 HOUR")),
            ).otherwise(F.array().cast("array<timestamp>"))
        ).alias("g"),
    ).filter(F.col("g") < F.col("t1"))
    frac = (
        (F.unix_micros("g") - F.unix_micros("t0")).cast("double")
        / (F.unix_micros("t1") - F.unix_micros("t0")).cast("double")
    )
    return grid.select(
        "user_id",
        F.col("g").alias("grid_ts"),
        (F.col("v0") + (F.col("v1") - F.col("v0")) * frac).alias("value_interp"),
    )


@query(
    "agg_bitwise",
    oracle="""
    SELECT o_orderstatus,
           bit_and(o_orderkey) AS key_and,
           bit_or(o_orderkey) AS key_or,
           bit_xor(o_orderkey) AS key_xor,
           count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR aggregates (exact integers — commutative and
    associative, so correct under any partial-aggregation split)."""
    orders = io.load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.bit_and("o_orderkey").alias("key_and"),
        F.bit_or("o_orderkey").alias("key_or"),
        F.bit_xor("o_orderkey").alias("key_xor"),
        F.count("*").alias("n"),
    )


@query(
    "str_codec",
    oracle="""
    SELECT p_partkey,
           to_base64(encode(p_name)) AS name_b64,
           md5(p_name) AS name_md5,
           upper(hex(encode(substring(p_brand, 1, 3)))) AS brand_hex,
           ascii(p_name) AS first_cp,
           reverse(p_type) AS type_rev
    FROM part
    WHERE p_partkey % 20 = 0
    """,
)
def str_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec scalar functions: base64, md5 hex digest, hex dump, first
    codepoint, reverse — byte-exact in both engines (UTF-8 in, ASCII
    out)."""
    part = io.load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 20 == 0)
    return part.select(
        "p_partkey",
        F.base64(F.col("p_name").cast("binary")).alias("name_b64"),
        F.md5(F.col("p_name").cast("binary")).alias("name_md5"),
        F.upper(F.hex(F.substring("p_brand", 1, 3).cast("binary"))).alias("brand_hex"),
        F.ascii("p_name").alias("first_cp"),
        F.reverse("p_type").alias("type_rev"),
    )


@query(
    "sketch_hll_merge",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custkeys,
           CAST(1 AS BIGINT) AS within_err
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches via hll_sketch_agg):
    per-shard sketches built independently, merged with hll_union_agg, then
    estimated — the incremental-rollup path for distinct counts at 100 TB
    (shards/partitions/days sketch independently; merges are tiny and
    associative).

    The sketch binary and its estimate are Spark-specific, so through
    round 3 this was rows-only. Graduated the same way as
    agg_approx_distinct: the emitted columns are the exact distinct count
    (engine-neutral) and ``within_err`` = 1 iff the MERGED-sketch
    estimate lands within 5% of it (~3x the lgConfigK=12 RSD) — so a
    broken merge (double counting, dropped shards, register corruption)
    flips a value-hashed column instead of hiding behind rows-only. The
    merge path stays fully exercised: the estimate used in the check
    comes from the 8-shard union, never from a direct sketch."""
    orders = io.load_table(spark, sf_dir, "orders")
    shards = orders.groupBy(
        "o_orderstatus", (F.col("o_orderkey") % 8).alias("shard")
    ).agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    exact = orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("exact_custkeys")
    )
    merged = shards.groupBy("o_orderstatus").agg(
        F.hll_union_agg("sk").alias("merged")
    )
    return (
        merged.join(exact, "o_orderstatus")
        .select(
            "o_orderstatus",
            "exact_custkeys",
            (
                F.abs(
                    F.hll_sketch_estimate("merged")
                    - F.col("exact_custkeys")
                )
                <= 0.05 * F.col("exact_custkeys")
            )
            .cast("bigint")
            .alias("within_err"),
        )
    )


@query(
    "sink_compact",
    oracle="""
    SELECT CAST(LEAST(count(*), 4) AS INT) AS n_files,
           count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
)
def sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: write a fragmented table (32 shuffled files),
    rewrite it at a target file count with repartition(4), read back and
    prove (file count, row count, value checksum) — the maintenance job
    every streaming-ingest lakehouse table needs. File count is exact for
    ANY qualifying row count (ADVICE r9): the compaction uses
    repartitionByRange(4, o_orderkey) — with a unique range key the
    sampled bounds are exact data quantiles, giving exactly min(count, 4)
    non-empty partitions (probed at every boundary count n=1..8 and 100,
    gated by tests/test_lakehouse_write.py::test_compact_file_count_
    boundaries so a RangePartitioner behavior change is caught as a test
    failure, not an oracle mystery), and Spark writes no
    file for an empty partition — hence the oracle's LEAST(count(*), 4).
    Round-robin repartition(4) was NOT deterministic below 4 rows (two
    rows in different input partitions can collide on one output
    partition), and range-clustering the compacted files by key is the
    better layout anyway."""
    orders = io.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    base = io.scoped_tmp_dir(spark, "sink_compact", sf_dir)
    frag_dir, compact_dir = os.path.join(base, "frag"), os.path.join(base, "out")
    shutil.rmtree(base, ignore_errors=True)
    frags = orders.select("o_orderkey", "o_totalprice")
    frags.repartition(32).write.mode("overwrite").parquet(frag_dir)
    spark.read.schema(frags.schema).parquet(frag_dir).repartitionByRange(
        4, "o_orderkey"
    ).write.mode("overwrite").parquet(compact_dir)
    # input_file_name() is non-deterministic, so it must be projected
    # before it can feed an aggregate
    compacted = spark.read.schema(frags.schema).parquet(compact_dir).select(
        F.input_file_name().alias("src_file"), "o_totalprice"
    )
    return compacted.agg(
        F.countDistinct("src_file").cast("int").alias("n_files"),
        F.count("*").alias("n_rows"),
        F.sum(dec(F.col("o_totalprice"), 2)).cast("double").alias("total"),
    )


def _kmeans_round_sql(prev: str, rnd: int) -> str:
    """One Lloyd round (assign to nearest centroid, then recompute
    centroids) as DuckDB CTE text. ``prev`` is the centroid CTE name."""
    return f"""
    dist{rnd} AS (
        SELECT e.vec_id, c.cid,
               CAST(sum((e.v_fp - c.c_fp) * (e.v_fp - c.c_fp)) AS BIGINT) AS d2
        FROM e JOIN {prev} c ON e.d = c.d
        GROUP BY e.vec_id, c.cid
    ),
    assign{rnd} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY d2, cid
                   ) AS rn
            FROM dist{rnd}
        ) WHERE rn = 1
    ),
    cent{rnd} AS (
        SELECT a.cid, e.d,
               CAST(sum(e.v_fp) AS BIGINT) // count(*) AS c_fp
        FROM assign{rnd} a JOIN e ON a.vec_id = e.vec_id
        GROUP BY a.cid, e.d
    )"""


@query(
    "emb_kmeans_iterate",
    oracle=f"""
    WITH e AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS d,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * {_EMB_Q}) AS BIGINT)
                   + {_EMB_OFF} AS v_fp
        FROM embeddings
    ),
    cent0 AS (
        SELECT vec_id AS cid, d, v_fp AS c_fp FROM e WHERE vec_id < {_KMEANS_K}
    ),
    {_kmeans_round_sql("cent0", 1)},
    {_kmeans_round_sql("cent1", 2)}
    SELECT c.cid,
           m.n_members,
           CAST(sum(c.c_fp - {_EMB_OFF}) AS BIGINT) AS centroid_sum
    FROM cent2 c
    JOIN (SELECT cid, count(*) AS n_members FROM assign2 GROUP BY cid) m
      ON m.cid = c.cid
    GROUP BY c.cid, m.n_members
    """,
)
def emb_kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means (k=4, centroids seeded from the
    first k vectors) in BIGINT fixed-point (module docstring) — assignment
    and centroid updates are bit-identical to the unrolled-SQL oracle
    under any partitioning. Output: per-cluster member count + exact
    centroid checksum.

    Scale: vectors live EXPLODED as (vec_id, dim, value) — the layout that
    keeps every k-means step a keyed join/agg; centroids (k·dims rows) are
    broadcast, the corpus shuffles only on vec_id/cluster keys, and each
    round is join→agg→argmin→agg: the standard distributed Lloyd shape."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("d0", "val")
    ).select(
        "vec_id",
        (F.col("d0") + 1).alias("d"),  # 1-based to match generate_subscripts
        (
            F.round(F.col("val").cast("double") * _EMB_Q).cast("long") + _EMB_OFF
        ).alias("v_fp"),
    ).localCheckpoint()

    cent = e.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("cid"), "d", F.col("v_fp").alias("c_fp")
    )
    assign = None
    for _ in range(2):
        diff = F.col("v_fp") - F.col("c_fp")
        dist = (
            e.join(F.broadcast(cent), "d")
            .groupBy("vec_id", "cid")
            .agg(F.sum(diff * diff).cast("long").alias("d2"))
        )
        assign = dist.groupBy("vec_id").agg(
            F.min_by("cid", F.struct("d2", "cid")).alias("cid")
        )
        cent = (
            assign.join(e, "vec_id")
            .groupBy("cid", "d")
            .agg(F.expr("CAST(sum(v_fp) AS BIGINT) DIV count(*)").alias("c_fp"))
            .localCheckpoint()
        )
    sizes = assign.groupBy("cid").agg(F.count("*").alias("n_members"))
    return (
        cent.groupBy("cid")
        .agg(F.sum(F.col("c_fp") - _EMB_OFF).cast("long").alias("centroid_sum"))
        .join(sizes, "cid")
        .select("cid", "n_members", "centroid_sum")
    )
