"""Round-37 breadth batch: Brier scoring, held-out LM perplexity,
and nested-schema pruning.

- ``eval_brier_score`` — the probability-forecast quality score plus
  the Brier SKILL score against the climatology baseline, both as
  pure BIGINT arithmetic (integer percent predictions make the
  squared error an exact integer sum) — completes the calibration
  family next to eval_calibration_ece.
- ``eval_lm_heldout_ppl`` — the honest perplexity protocol: unigram
  LM trained on the even-doc half, scored on the odd-doc half with
  shared add-0.5 smoothing and an OOV bucket. Per-token micro-nats
  rounded once, so the held-out NLL is an order-free exact BIGINT —
  the train/eval-split counterpart to text_lm_score's self-scoring.
- ``scan_nested_prune`` — nested-schema projection pruning: write a
  two-level struct parquet, read back ONE leaf, and gate the plan on
  ReadSchema proving the sibling struct never left the file — the
  columnar-format feature that makes wide multimodal metadata cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# eval_brier_score
# --------------------------------------------------------------------------


@query(
    "eval_brier_score",
    oracle="""
    WITH pts AS (
        SELECT CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   % 100 AS conf_pct,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
    ),
    agg AS (
        SELECT count(*) AS n, sum(y) AS pos,
               sum((conf_pct - 100 * y) * (conf_pct - 100 * y)) AS s
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(pos AS BIGINT) AS n_pos,
           CAST(s AS BIGINT) AS sq_err_sum,
           round(s / (10000.0 * n), 6) AS brier,
           round(1.0 - CAST(s AS DOUBLE) * n
                       / (10000.0 * pos * (n - pos)), 6) AS bss
    FROM agg
    """,
)
def eval_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the cents-percent pseudo-probability against
    the purchase label, plus the Brier SKILL score vs climatology
    (BSS = 1 - BS/(p̄(1-p̄)) — the "is this model better than always
    predicting the base rate" gate; BSS <= 0 means it isn't).
    Integer percent predictions make Σ(conf - 100y)² an exact BIGINT,
    emitted raw so the hash pins the integer path; BS and BSS are
    single-division formulas on it.

    Scale: one fact pass to a one-row moment fold — map-side partials
    all the way."""
    pts = (
        io.load_events(spark, sf_dir)
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view")
        )
        .select(
            (
                half_up(F.col("value"), 2)
                % 100
            ).alias("conf_pct"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    err = F.col("conf_pct") - 100 * F.col("y")
    agg = pts.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("pos"),
        F.sum(err * err).alias("s"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("pos").cast("long").alias("n_pos"),
        F.col("s").cast("long").alias("sq_err_sum"),
        F.round(F.col("s") / (10000.0 * F.col("n")), 6).alias("brier"),
        F.round(
            F.lit(1.0)
            - F.col("s").cast("double")
            * F.col("n")
            / (10000.0 * F.col("pos") * (F.col("n") - F.col("pos"))),
            6,
        ).alias("bss"),
    )


# --------------------------------------------------------------------------
# eval_lm_heldout_ppl
# --------------------------------------------------------------------------

_LM_A = 0.5


@query(
    "eval_lm_heldout_ppl",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    train AS (
        SELECT tok, count(*) AS c FROM tok
        WHERE doc_id % 2 = 0 GROUP BY tok
    ),
    consts AS (
        SELECT sum(c) AS n_train, count(*) AS v FROM train
    ),
    held AS (
        SELECT t.tok, tr.c
        FROM tok t LEFT JOIN train tr ON tr.tok = t.tok
        WHERE t.doc_id % 2 = 1
    ),
    scored AS (
        SELECT CASE WHEN c IS NULL THEN 1 ELSE 0 END AS oov,
               CAST(floor(1000000.0 * ln(
                        (coalesce(c, 0) + {_LM_A})
                        / (k.n_train + {_LM_A} * (k.v + 1))) + 0.5)
                    AS BIGINT) AS nll_micro
        FROM held CROSS JOIN consts k
    )
    SELECT CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           CAST((2000000 * sum(oov) + count(*)) // (2 * count(*))
               AS BIGINT) AS oov_micro,
           CAST((-2 * sum(nll_micro) + count(*)) // (2 * count(*))
               AS BIGINT) AS avg_nll_micro
    FROM scored
    """,
)
def eval_lm_heldout_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out language-model evaluation done honestly: the unigram
    LM trains on even-numbered documents only and scores the odd
    half, with shared add-{_LM_A} smoothing over train-vocab + one
    OOV bucket — unlike text_lm_score's self-scoring, this cannot
    reward memorization. Per-token log-probs are micro-nat rounded
    ONCE so the held-out average NLL is an exact BIGINT ratio
    (perplexity = exp(avg_nll/1e6) for the reader — exp is kept OUT
    of the hashed output on purpose). OOV rate ships alongside: a
    model can only look good on tokens it has seen.

    Scale: train counts are one groupBy (map-side partials) to a
    |V|-sized broadcast table; scoring is a narrow left join over
    the held-out token stream and a one-row fold."""
    tok = io.load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    train = (
        tok.filter(F.col("doc_id") % 2 == 0)
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    consts = train.agg(
        F.sum("c").alias("n_train"), F.count("*").alias("v")
    )
    held = (
        tok.filter(F.col("doc_id") % 2 == 1)
        .join(F.broadcast(train), "tok", "left")
        .crossJoin(F.broadcast(consts))
    )
    p = (F.coalesce(F.col("c"), F.lit(0)) + _LM_A) / (
        F.col("n_train") + _LM_A * (F.col("v") + 1)
    )
    scored = held.select(
        F.when(F.col("c").isNull(), 1).otherwise(0).alias("oov"),
        half_up(F.log(p), 6).alias("nll_micro"),
    )
    return scored.agg(
        F.count("*").alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov"),
        F.floor(
            (2000000 * F.sum("oov") + F.count("*"))
            / (2 * F.count("*"))
        )
        .cast("long")
        .alias("oov_micro"),
        F.floor(
            (-2 * F.sum("nll_micro") + F.count("*"))
            / (2 * F.count("*"))
        )
        .cast("long")
        .alias("avg_nll_micro"),
    )


# --------------------------------------------------------------------------
# scan_nested_prune
# --------------------------------------------------------------------------


@query(
    "scan_nested_prune",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def scan_nested_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-schema projection pruning: events are re-serialized as
    a two-level struct parquet (who: {{user_id, ts}}, what:
    {{event_type, value, props}}), then the query projects ONE leaf
    (who.user_id) — and the plan gate asserts ReadSchema carries
    only that leaf, proving the sibling struct (including the fat
    props payload) never leaves the file. This is the columnar
    feature that makes wide nested metadata (multimodal blobs,
    request headers) effectively free to carry.

    Scale: nested pruning is THE reason to nest instead of
    flattening at 100 TB — a scan reading 1 of 50 leaves does 2% of
    the I/O; the aggregate itself is a plain map-side-combined
    groupBy."""
    ev = io.load_events(spark, sf_dir)
    out_dir = io.scoped_tmp_dir(spark, "nested", sf_dir)
    nested = ev.select(
        "event_id",
        F.struct("user_id", "ts").alias("who"),
        F.struct("event_type", "value", "props").alias("what"),
    )
    nested.write.mode("overwrite").parquet(out_dir)
    nested = spark.read.schema(nested.schema).parquet(out_dir)
    return (
        nested.select(F.col("who.user_id").alias("user_id"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
