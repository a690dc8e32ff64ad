"""Round-21 breadth batch: debounced threshold alerting, padding-aware
length bucketing, and lexical-diversity ratios.

- ``ts_alert_debounce`` — the batch analogue of the reference's
  debounced trigger (fetchRumors.js scheduling, SURVEY §2.A #26):
  threshold crossings collapse to ONE alert per burst (a crossing
  fires only if the previous crossing is >30 min older — the
  gaps-and-islands head), so a flapping metric pages once.
- ``pipeline_length_buckets`` — batch-by-length planning for training
  efficiency: bucket documents by token count and report the exact
  padding waste each bucket would incur when padded to its max — the
  metric that justifies length-bucketed batching.
- ``text_hapax_ratio`` — per-source lexical diversity: type-token
  ratio and hapax-legomena share in exact integer micro units — the
  vocabulary-richness audit (templated/duplicated corpora collapse
  both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# ts_alert_debounce
# --------------------------------------------------------------------------

_AD_THRESHOLD_CENTS = 9000
_AD_COOLDOWN_US = 1800 * 1_000_000


@query(
    "ts_alert_debounce",
    oracle=f"""
    WITH ev AS (
        SELECT event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents
        FROM events WHERE value IS NOT NULL
    ),
    crossings AS (
        SELECT *, lag(us) OVER (
                   PARTITION BY event_type ORDER BY us, event_id) AS prev_us
        FROM ev WHERE cents > {_AD_THRESHOLD_CENTS}
    ),
    alerts AS (
        SELECT event_type, event_id, us, cents
        FROM crossings
        WHERE prev_us IS NULL OR us - prev_us > {_AD_COOLDOWN_US}
    )
    SELECT event_type, event_id, cents,
           CAST(row_number() OVER (
                    PARTITION BY event_type ORDER BY us, event_id)
                AS BIGINT) AS alert_no
    FROM alerts
    """,
)
def ts_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounced threshold alerting — the batch analogue of the
    reference's debounced trigger (ref op #26): of all threshold
    crossings (cents > {_AD_THRESHOLD_CENTS}), only the HEAD of each
    burst fires (previous crossing more than 30 minutes older, the
    gaps-and-islands head test), so a metric flapping around the
    threshold pages once per episode, numbered per stream.

    Scale: the crossing filter prunes the fact BEFORE the window (the
    lag runs over crossings only — typically orders of magnitude
    sparser than the raw stream), and both windows are keyed by
    event_type. One fact scan, no fact-sized window."""
    ev = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.unix_micros(F.col("ts")).alias("us"),
            half_up(F.col("value"), 2).alias("cents"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    crossings = ev.filter(
        F.col("cents") > _AD_THRESHOLD_CENTS
    ).withColumn("prev_us", F.lag("us").over(w))
    alerts = crossings.filter(
        F.col("prev_us").isNull()
        | (F.col("us") - F.col("prev_us") > _AD_COOLDOWN_US)
    )
    # NOTE: the absolute `us` instant is deliberately NOT an output
    # column — alert selection depends only on inter-crossing GAPS,
    # which are session-timezone-invariant, so the key stays stable
    # under any session tz (absolute epochs of NTZ-vintage fixtures
    # shift uniformly with the zone).
    return alerts.select(
        "event_type",
        "event_id",
        "cents",
        F.row_number().over(w).cast("long").alias("alert_no"),
    )


# --------------------------------------------------------------------------
# pipeline_length_buckets
# --------------------------------------------------------------------------

_LB_WIDTH = 32  # tokens per bucket


@query(
    "pipeline_length_buckets",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    b AS (
        SELECT n_tok // {_LB_WIDTH} AS bucket_id,
               count(*) AS n_docs,
               sum(n_tok) AS total_tokens,
               max(n_tok) AS max_tokens
        FROM d GROUP BY n_tok // {_LB_WIDTH}
    )
    SELECT CAST(bucket_id AS BIGINT) AS bucket_id,
           CAST(bucket_id * {_LB_WIDTH} AS BIGINT) AS lo_tokens,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(max_tokens AS BIGINT) AS max_tokens,
           CAST(n_docs * max_tokens - total_tokens AS BIGINT) AS pad_tokens,
           CAST((n_docs * max_tokens - total_tokens) * 1000000
                // (n_docs * max_tokens) AS BIGINT) AS waste_micro
    FROM b
    """,
)
def pipeline_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching plan: bucket documents into
    {_LB_WIDTH}-token-wide classes and report, per bucket, the EXACT
    padding waste of batching that bucket padded to its max —
    (n·max − Σlen) tokens and its integer micro share. This is the
    number that justifies length bucketing in a training dataloader
    (unbucketed batches pad everything to the global max; bucketed
    waste is bounded by the bucket width). All integers.

    Scale: one narrow map (token count), one map-side-combinable
    aggregate on the bucket key — the bucket table is
    (max_len / width)-sized."""
    d = io.load_table(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).alias("n_tok")
    )
    b = d.groupBy(
        F.expr(f"n_tok DIV {_LB_WIDTH}").alias("bucket_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.max("n_tok").alias("max_tokens"),
    )
    pad = F.col("n_docs") * F.col("max_tokens") - F.col("total_tokens")
    return b.select(
        F.col("bucket_id").cast("long").alias("bucket_id"),
        (F.col("bucket_id") * _LB_WIDTH).cast("long").alias("lo_tokens"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.col("max_tokens").cast("long").alias("max_tokens"),
        pad.cast("long").alias("pad_tokens"),
        F.expr(
            f"(n_docs * max_tokens - total_tokens) * 1000000"
            f" DIV (n_docs * max_tokens)"
        )
        .cast("long")
        .alias("waste_micro"),
    )


# --------------------------------------------------------------------------
# text_hapax_ratio
# --------------------------------------------------------------------------


@query(
    "text_hapax_ratio",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    v AS (
        SELECT source, tok, count(*) AS cnt
        FROM tok GROUP BY source, tok
    )
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(CASE WHEN cnt = 1 THEN 1 END) AS BIGINT) AS n_hapax,
           CAST(count(*) * 1000000 // sum(cnt) AS BIGINT) AS ttr_micro,
           CAST(count(CASE WHEN cnt = 1 THEN 1 END) * 1000000 // count(*)
                AS BIGINT) AS hapax_micro
    FROM v
    GROUP BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity: type-token ratio (distinct types
    per token) and the hapax-legomena share (types occurring exactly
    once) in exact integer micro units — the vocabulary-richness audit
    that catches templated or heavily duplicated sources (both ratios
    collapse) before they reach a training mix. Complements
    text_entropy (distributional) and text_repetition (local).

    Scale: one (source, token) count with map-side partials, then a
    source-level fold over the vocab table. No float anywhere."""
    tok = io.load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    v = tok.groupBy("source", "tok").agg(F.count("*").alias("cnt"))
    return v.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.count(F.when(F.col("cnt") == 1, 1)).cast("long").alias("n_hapax"),
        F.expr("count(*) * 1000000 DIV sum(cnt)")
        .cast("long")
        .alias("ttr_micro"),
        F.expr(
            "count(CASE WHEN cnt = 1 THEN 1 END) * 1000000 DIV count(*)"
        )
        .cast("long")
        .alias("hapax_micro"),
    )
