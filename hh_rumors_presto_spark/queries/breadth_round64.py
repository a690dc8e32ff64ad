"""Round-64 breadth batch: average precision, the newsvendor level,
and the GROUP BY ALL surface.

- ``eval_average_precision`` — AP, the area under the precision-
  recall curve by its exact discrete definition: mean over positives
  of precision@their-rank — the metric that stays honest on
  imbalanced labels where ROC AUC flatters (1% positives make FPR
  microscopic at any threshold; precision feels every false alarm).
- ``agg_newsvendor_level`` — the newsvendor order-up-to level: the
  exact nearest-rank demand quantile at the critical ratio
  cu/(cu+co) per top part — the one-line inventory-theory answer to
  "how much should we stock", with under/overage costs made
  explicit.
- ``sql_group_by_all`` — the GROUP BY ALL / ORDER BY ALL SQL
  surface: every non-aggregate select item groups implicitly —
  pinned across both engines because analysts write it daily and
  engines differ on what "ALL" captures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.operators.windows import bucketed_rank_cumsum
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# eval_average_precision
# --------------------------------------------------------------------------


@query(
    "eval_average_precision",
    oracle="""
    WITH pts AS (
        SELECT CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                    AS BIGINT) AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS y,
               event_id
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
    ),
    ranked AS (
        SELECT y,
               row_number() OVER (ORDER BY s DESC, event_id) AS k,
               sum(y) OVER (ORDER BY s DESC, event_id) AS pos_at_k
        FROM pts
    ),
    terms AS (
        SELECT (2000000 * pos_at_k + k) // (2 * k) AS p_at_k_micro
        FROM ranked WHERE y = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pos,
           CAST(sum(p_at_k_micro) AS BIGINT) AS ap_sum_micro,
           CAST((2 * sum(p_at_k_micro) + count(*)) // (2 * count(*))
               AS BIGINT) AS ap_micro
    FROM terms
    """,
)
def eval_average_precision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Average precision by the exact discrete definition: rank all
    points by score (total order with the event_id tiebreak), and AP
    = mean over POSITIVES of precision@their-rank — each
    precision@k a half-up integral micro division of exact counts,
    the mean another. AP is the area under the PR curve, and the
    difference from ROC AUC matters exactly when classes are
    imbalanced: ROC's false-positive RATE barely moves when
    negatives are plentiful, while precision pays for every false
    alarm — retrieval and fraud evals report AP for that reason.

    Scale: rank AND the positives-running-count both come from ONE
    bucketed two-pass cumsum (operators/windows.py:
    bucketed_rank_cumsum on the negated score with value_col=y —
    converted round 10): no single-partition window over the scored
    fact, per query key at fleet scale; then a positives-only
    fold."""
    pts = (
        io.load_events(spark, sf_dir)
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view")
        )
        .select(
            (-half_up(F.col("value"), 2)).alias("neg_s"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
            "event_id",
        )
    )
    ranked = bucketed_rank_cumsum(
        pts, order_key="neg_s", tiebreak="event_id", value_col="y"
    ).select(
        "y",
        F.col("rk").alias("k"),
        F.col("cum").alias("pos_at_k"),
    )
    terms = ranked.filter(F.col("y") == 1).select(
        F.expr(
            "(2000000 * pos_at_k + k) div (2 * k)"
        ).alias("p_at_k_micro")
    )
    return terms.agg(
        F.count("*").alias("n_pos"),
        F.sum("p_at_k_micro").cast("long").alias("ap_sum_micro"),
        F.expr(
            "(2 * sum(p_at_k_micro) + count(*)) div (2 * count(*))"
        ).alias("ap_micro"),
    )


# --------------------------------------------------------------------------
# agg_newsvendor_level
# --------------------------------------------------------------------------

# underage cost 5 (lost margin), overage cost 1 (holding):
# critical ratio = 5/6 -> stock at the demand 83.3rd percentile
_NV_CU = 5
_NV_CO = 1
_NV_TOP = 10


@query(
    "agg_newsvendor_level",
    oracle=f"""
    WITH li AS (
        SELECT l_partkey AS part,
               CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                   AS cents,
               CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
               date_diff('day', DATE '1970-01-05',
                         CAST(l_shipdate AS DATE)) // 7 AS wk
        FROM lineitem
    ),
    toprev AS (
        SELECT part FROM (
            SELECT part, sum(cents) AS rev,
                   row_number() OVER (
                       ORDER BY sum(cents) DESC, part) AS rk
            FROM li GROUP BY part
        ) WHERE rk <= {_NV_TOP}
    ),
    demand AS (
        SELECT l.part, l.wk, sum(l.qty) AS q
        FROM li l JOIN toprev t ON t.part = l.part
        GROUP BY l.part, l.wk
    ),
    ranked AS (
        SELECT part, q,
               row_number() OVER (PARTITION BY part ORDER BY q)
                   AS rn,
               count(*) OVER (PARTITION BY part) AS n
        FROM demand
    )
    SELECT part,
           CAST(max(n) AS BIGINT) AS n_weeks,
           CAST(max(CASE WHEN rn = ({_NV_CU} * n + {_NV_CU + _NV_CO}
                                    - 1) // {_NV_CU + _NV_CO}
                    THEN q END) AS BIGINT) AS order_up_to,
           CAST(max(q) AS BIGINT) AS max_weekly_demand
    FROM ranked GROUP BY part
    """,
)
def agg_newsvendor_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The newsvendor order-up-to level for the top-{_NV_TOP}
    revenue parts: with underage cost {_NV_CU} (a lost sale's
    margin) and overage cost {_NV_CO} (holding), the optimal stock
    is the weekly-demand quantile at the critical ratio
    {_NV_CU}/{_NV_CU + _NV_CO} — taken as the exact nearest-rank
    ceil(n*CR) order statistic (integer arithmetic, no float
    percentile). The max weekly demand ships alongside so the gap
    to worst case is visible. This is inventory theory's one exact
    closed form, and it is a QUANTILE, not a mean — stocking to
    average demand is the textbook mistake the model exists to fix.

    Scale: revenue top-k is a partial rank; demand collapses to
    (part, week) grain; the quantile selection is a keyed window
    over each part's weekly rows."""
    li = io.load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"),
        half_up(F.col("l_extendedprice"), 2).alias("cents"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("qty"),
        F.floor(
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1970-01-05")
            )
            / 7
        )
        .cast("long")
        .alias("wk"),
    )
    wr = Window.orderBy(F.col("rev").desc(), "part")
    toprev = (
        li.groupBy("part")
        .agg(F.sum("cents").alias("rev"))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _NV_TOP)
        .select("part")
    )
    demand = (
        li.join(F.broadcast(toprev), "part")
        .groupBy("part", "wk")
        .agg(F.sum("qty").alias("q"))
    )
    wq = Window.partitionBy("part").orderBy("q")
    wn = Window.partitionBy("part")
    ranked = demand.select(
        "part",
        "q",
        F.row_number().over(wq).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    cr_den = _NV_CU + _NV_CO
    return ranked.groupBy("part").agg(
        F.max("n").cast("long").alias("n_weeks"),
        F.max(
            F.when(
                F.col("rn")
                == F.floor(
                    (_NV_CU * F.col("n") + cr_den - 1) / cr_den
                ),
                F.col("q"),
            )
        )
        .cast("long")
        .alias("order_up_to"),
        F.max("q").cast("long").alias("max_weekly_demand"),
    )


# --------------------------------------------------------------------------
# sql_group_by_all
# --------------------------------------------------------------------------


@query(
    "sql_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum
    FROM orders
    GROUP BY ALL
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUP BY ALL surface: every non-aggregate select item
    becomes a grouping key implicitly — the clause analysts write
    constantly because repeating a 6-column select list in the
    GROUP BY is where typo-bugs live. Pinned as a cross-engine key
    because both Spark (3.4+) and DuckDB support it and MUST
    resolve the same items as keys; the oracle literally uses
    GROUP BY ALL so the resolution semantics themselves are what's
    compared.

    Scale: resolves to a plain two-key hash aggregate — identical
    plan to the explicit form, map-side partials included."""
    io.register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS cents_sum
        FROM orders
        GROUP BY ALL
        """
    ).select(
        "o_orderstatus",
        "o_orderpriority",
        F.col("n").cast("long").alias("n"),
        "cents_sum",
    )
