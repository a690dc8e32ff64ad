"""Scale-pattern batch 2: runtime bloom-filter join pruning, RLHF
preference-pair construction, and corpus mixture re-weighting.

Scale notes (100 TB posture):
- ``join_bloom_pruned`` demonstrates Spark's runtime semi-join reduction
  (InjectRuntimeFilter): a bloom filter built from the selective side's
  join keys is applied INSIDE the probe-side scan stage, dropping
  non-matching fact rows before the shuffle — at 100 TB this is the
  difference between shuffling the whole fact table and shuffling only
  the ~matching fraction. Locally the size thresholds are scoped down
  (and restored) because the fixtures are far below the 10 GB default.
- ``pipeline_rlhf_pairs`` is the preference-data shape: one pass, one
  grouped aggregation with arg_max/arg_min — no self-join of the corpus
  against itself, no window.
- ``corpus_mix_weights`` computes per-language sampling weights against a
  uniform target mix; the global totals are a one-row broadcast back onto
  the per-language aggregate (same scalar pattern as agg_share_of_total).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import revenue
from hh_rumors_presto_spark.registry import query

_BLOOM_CONFS = {
    # fixture-scale thresholds; a real cluster keeps the defaults
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@query(
    "join_bloom_pruned",
    oracle="""
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(28,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN (SELECT o_orderkey FROM orders WHERE o_totalprice > 350000) o
      ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_returnflag
    """,
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact join against a selective dimension with a runtime bloom
    filter: Spark builds a bloom over the filtered orders' keys and
    evaluates `might_contain` inside the lineitem scan, pruning rows
    pre-shuffle. Confs are scoped: set, the logical plan is forced (the
    InjectRuntimeFilter rewrite runs and is cached on this DataFrame's
    QueryExecution), then restored so later queries keep broadcast joins."""
    prev = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        li = io.load_table(spark, sf_dir, "lineitem")
        sel = (
            io.load_table(spark, sf_dir, "orders")
            .filter(F.col("o_totalprice") > 350000)
            .select("o_orderkey")
        )
        rev = revenue()
        df = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            )
        )
        # force optimization NOW, while the bloom confs are active; the
        # optimized plan (with the runtime filter) is cached on this df
        df._jdf.queryExecution().optimizedPlan()
        return df
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@query(
    "pipeline_rlhf_pairs",
    oracle="""
    WITH scored AS (
        SELECT doc_id, source, n_chars % 997 AS score,
               (n_chars % 997) * 100000 + doc_id AS uscore
        FROM documents
    )
    SELECT source,
           arg_max(doc_id, uscore) AS chosen_doc,
           CAST(max(uscore) // 100000 AS BIGINT) AS chosen_score,
           arg_min(doc_id, uscore) AS rejected_doc,
           CAST(min(uscore) // 100000 AS BIGINT) AS rejected_score
    FROM scored
    GROUP BY source
    HAVING count(*) >= 2 AND max(uscore) // 100000 > min(uscore) // 100000
    """,
)
def pipeline_rlhf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (RLHF/DPO data prep): per prompt
    group (source here), pair the highest-scoring response with the
    lowest as (chosen, rejected), dropping ties. One grouped agg with
    arg_max/arg_min over a uniqueness-salted integer score (score*1e5 +
    doc_id) — deterministic survivor, no corpus self-join, no window."""
    docs = io.load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        (F.col("n_chars") % 997).alias("score"),
        ((F.col("n_chars") % 997) * 100000 + F.col("doc_id")).alias("uscore"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.max_by("doc_id", "uscore").alias("chosen_doc"),
            F.floor(F.max("uscore") / 100000).cast("bigint").alias("chosen_score"),
            F.min_by("doc_id", "uscore").alias("rejected_doc"),
            F.floor(F.min("uscore") / 100000).cast("bigint").alias("rejected_score"),
            F.count("*").alias("_n"),
        )
        .filter(
            (F.col("_n") >= 2) & (F.col("chosen_score") > F.col("rejected_score"))
        )
        .drop("_n")
    )


@query(
    "corpus_mix_weights",
    oracle="""
    WITH per_lang AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_langs
        FROM per_lang
    )
    SELECT lang, cnt,
           CAST(round(CAST(total AS DOUBLE) / (n_langs * cnt), 6) AS DOUBLE)
               AS weight
    FROM per_lang, tot
    """,
)
def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling weights to re-balance the corpus to a uniform language
    mix: weight(lang) = target_share / actual_share = total/(n_langs *
    cnt). Upsampling (>1) and downsampling (<1) factors for the data
    loader. Per-language counts are one shuffle; the global totals are a
    one-row broadcast joined back (never a second corpus scan)."""
    docs = io.load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("cnt"))
    tot = per_lang.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_langs"),
    )
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "cnt",
        F.round(
            F.col("total").cast("double") / (F.col("n_langs") * F.col("cnt")), 6
        )
        .cast("double")
        .alias("weight"),
    )
