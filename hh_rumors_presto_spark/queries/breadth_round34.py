"""Round-34 breadth batch: market-basket association rules, RFM
customer segmentation, and functional-dependency profiling.

- ``olap_market_basket`` — the classic association-rule pass
  (Agrawal & Srikant's Apriori, first level): part pairs co-occurring
  in an order basket, support/confidence/LIFT as exact integer micro
  units, top-20 rules by lift. Pair mass is Σ basket_size², never
  catalog² — the same blocking bound as item-CF.
- ``feat_rfm_segmentation`` — recency/frequency/monetary quintile
  scoring (deterministic ntile with unique-key tiebreaks) folded
  into the classic marketing segment ladder, per-segment census.
- ``dq_fd_violations`` — functional-dependency profiling (the
  Metanome-style data-quality primitive): for declared candidate
  FDs, the number of violating LHS values and the exact g3 error
  (minimum rows to delete for the FD to hold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.operators.windows import (
    bucketed_rank_cumsum,
    ntile_from_rank,
)
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# olap_market_basket
# --------------------------------------------------------------------------

_MB_MIN_SUP = 2
_MB_TOP = 20


@query(
    "olap_market_basket",
    oracle=f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS ord, l_partkey AS part
        FROM lineitem
    ),
    item_n AS (SELECT part, count(*) AS n FROM b GROUP BY part),
    tot AS (SELECT count(DISTINCT ord) AS n_orders FROM b),
    pair_n AS (
        SELECT a.part AS ante, c.part AS cons, count(*) AS n_ab
        FROM b a JOIN b c
          ON a.ord = c.ord AND a.part < c.part
        GROUP BY a.part, c.part
        HAVING count(*) >= {_MB_MIN_SUP}
    ),
    scored AS (
        SELECT p.ante, p.cons, p.n_ab,
               ia.n AS n_a, ic.n AS n_c,
               (2000000 * p.n_ab + ia.n) // (2 * ia.n) AS conf_micro,
               (2000000 * t.n_orders * p.n_ab + ia.n * ic.n)
                   // (2 * ia.n * ic.n) AS lift_micro
        FROM pair_n p
        JOIN item_n ia ON ia.part = p.ante
        JOIN item_n ic ON ic.part = p.cons
        CROSS JOIN tot t
    )
    SELECT ante, cons, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(conf_micro AS BIGINT) AS conf_micro,
           CAST(lift_micro AS BIGINT) AS lift_micro,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (
                   ORDER BY lift_micro DESC, ante, cons) AS rnk
        FROM scored
    )
    WHERE rnk <= {_MB_TOP}
    """,
)
def olap_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-level association rules over order baskets: for part
    pairs co-bought in >= {_MB_MIN_SUP} orders, confidence
    P(cons|ante) and lift N*n_ab/(n_a*n_c) as half-up integer micro
    units (exact — no float count ratios), top-{_MB_TOP} by lift.
    Lift > 1e6 micro means the pair co-occurs more than independence
    predicts — the cross-sell signal.

    Scale: pairs form ONLY inside an order's basket (the equi-join
    on ord — pair mass Σ basket², the item-CF/Adamic-Adar bound);
    item supports are part-domain-sized and broadcastable; the final
    cut is a partial top-k rank. Mega-baskets are the skew risk —
    the standard mitigation is a basket-size cap, as in
    dedup_ngram_jaccard's degree cap."""
    b = (
        io.load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ord"),
            F.col("l_partkey").alias("part"),
        )
        .distinct()
        .localCheckpoint()
    )
    item_n = b.groupBy("part").agg(F.count("*").alias("n"))
    tot = b.agg(F.countDistinct("ord").alias("n_orders"))
    a, c = b.alias("a"), b.alias("c")
    pair_n = (
        a.join(
            c,
            (F.col("a.ord") == F.col("c.ord"))
            & (F.col("a.part") < F.col("c.part")),
        )
        .groupBy(
            F.col("a.part").alias("ante"),
            F.col("c.part").alias("cons"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _MB_MIN_SUP)
    )
    scored = (
        pair_n.join(
            F.broadcast(
                item_n.select(
                    F.col("part").alias("pa"), F.col("n").alias("n_a")
                )
            ),
            F.col("ante") == F.col("pa"),
        )
        .join(
            F.broadcast(
                item_n.select(
                    F.col("part").alias("pc"), F.col("n").alias("n_c")
                )
            ),
            F.col("cons") == F.col("pc"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "ante",
            "cons",
            "n_ab",
            F.floor(
                (2000000 * F.col("n_ab") + F.col("n_a"))
                / (2 * F.col("n_a"))
            )
            .cast("long")
            .alias("conf_micro"),
            F.floor(
                (
                    2000000 * F.col("n_orders") * F.col("n_ab")
                    + F.col("n_a") * F.col("n_c")
                )
                / (2 * F.col("n_a") * F.col("n_c"))
            )
            .cast("long")
            .alias("lift_micro"),
        )
    )
    rw = Window.orderBy(F.col("lift_micro").desc(), "ante", "cons")
    return (
        scored.withColumn("rnk", F.row_number().over(rw).cast("long"))
        .filter(F.col("rnk") <= _MB_TOP)
        .select(
            "ante", "cons",
            F.col("n_ab").cast("long").alias("n_ab"),
            "conf_micro", "lift_micro", "rnk",
        )
    )


# --------------------------------------------------------------------------
# feat_rfm_segmentation
# --------------------------------------------------------------------------


@query(
    "feat_rfm_segmentation",
    oracle="""
    WITH cust AS (
        SELECT o_custkey AS cust,
               date_diff('day', max(o_orderdate),
                         (SELECT max(o_orderdate) FROM orders))
                   AS recency_days,
               count(*) AS frequency,
               sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT cust, monetary_cents, frequency,
               ntile(5) OVER (ORDER BY recency_days DESC, cust) AS r,
               ntile(5) OVER (ORDER BY frequency, cust) AS f,
               ntile(5) OVER (ORDER BY monetary_cents, cust) AS m
        FROM cust
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(monetary_cents) / (100.0 * count(*)), 6)
               AS mean_monetary,
           round(sum(frequency) / CAST(count(*) AS DOUBLE), 6)
               AS mean_frequency
    FROM (
        SELECT CASE
                 WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champions'
                 WHEN r >= 4 AND f >= 3 THEN 'loyal'
                 WHEN r >= 4 THEN 'recent'
                 WHEN r <= 2 AND f >= 4 THEN 'at_risk'
                 WHEN r <= 2 AND f <= 2 THEN 'lost'
                 ELSE 'regular'
               END AS segment,
               monetary_cents, frequency
        FROM scored
    ) GROUP BY segment
    """,
)
def feat_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, Recency (days since last
    order, against the corpus max), Frequency (order count), and
    Monetary (exact cents); each scored 1-5 by ntile over a TOTAL
    order (unique custkey tiebreak — ntile without one is
    nondeterministic under ties), then folded into the classic
    marketing ladder (champions / loyal / recent / at_risk / lost /
    regular) and censused. Both engines implement SQL-standard ntile
    (earlier buckets take the remainder), so scores match exactly.

    Scale: one fact groupBy to customer grain (localCheckpointed
    once); each 1-5 score is NTILE computed CLOSED-FORM from the
    bucketed two-pass rank (operators/windows.py:
    bucketed_rank_cumsum rank-only mode + ntile_from_rank) — three
    parallel rank passes joined back on the customer key, no
    data-scaled single-partition window anywhere (converted round
    10; bit-identical to SQL-standard ntile, property-tested).
    Census is a 6-row fold."""
    orders = io.load_table(spark, sf_dir, "orders")
    gmax = orders.agg(F.max("o_orderdate").alias("gmax"))
    cust = (
        orders.crossJoin(F.broadcast(gmax))
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.datediff(
                F.max("gmax"), F.max("o_orderdate")
            ).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(
                half_up(F.col("o_totalprice"), 2)
            ).alias("monetary_cents"),
        )
    )
    cust = cust.localCheckpoint()

    def score(key_col, out: str, negate: bool):
        keyed = cust.select(
            "cust",
            (-F.col(key_col) if negate else F.col(key_col)).alias(
                "__k"
            ),
        )
        ranked = bucketed_rank_cumsum(keyed, "__k", "cust")
        return ranked.select(
            F.col("cust").alias(f"{out}_cust"),
            ntile_from_rank(F.col("rk"), F.col("n"), 5).alias(out),
        )

    scored = (
        cust.join(score("recency_days", "r", True),
                  F.col("cust") == F.col("r_cust"))
        .join(score("frequency", "f", False),
              F.col("cust") == F.col("f_cust"))
        .join(score("monetary_cents", "m", False),
              F.col("cust") == F.col("m_cust"))
        .select("monetary_cents", "frequency", "r", "f", "m")
    )
    seg = F.when(
        (F.col("r") >= 4) & (F.col("f") >= 4) & (F.col("m") >= 4),
        "champions",
    ).when((F.col("r") >= 4) & (F.col("f") >= 3), "loyal").when(
        F.col("r") >= 4, "recent"
    ).when(
        (F.col("r") <= 2) & (F.col("f") >= 4), "at_risk"
    ).when(
        (F.col("r") <= 2) & (F.col("f") <= 2), "lost"
    ).otherwise(
        "regular"
    )
    return scored.groupBy(seg.alias("segment")).agg(
        F.count("*").alias("n_customers"),
        F.round(
            F.sum("monetary_cents") / (100.0 * F.count("*")), 6
        ).alias("mean_monetary"),
        F.round(
            F.sum("frequency") / F.count("*").cast("double"), 6
        ).alias("mean_frequency"),
    )


# --------------------------------------------------------------------------
# dq_fd_violations
# --------------------------------------------------------------------------

# declared candidate dependencies over the events stream: the PK-ish
# one should hold, the behavioral ones should not — the point is the
# exact violation accounting, not the verdicts
_FDS = (
    ("event_id", "user_id"),
    ("user_id", "event_type"),
    ("user_id", "props"),
)


def _fd_sql(lhs: str, rhs: str) -> str:
    return f"""
    SELECT '{lhs} -> {rhs}' AS fd,
           CAST(count(*) AS BIGINT) AS n_lhs,
           CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_lhs,
           CAST(sum(total - keep) AS BIGINT) AS g3_rows,
           CAST(CASE WHEN sum(total - keep) = 0 THEN 1 ELSE 0 END
                AS BIGINT) AS holds
    FROM (
        SELECT count(DISTINCT {rhs}) AS n_rhs, sum(c) AS total,
               max(c) AS keep
        FROM (
            SELECT {lhs}, {rhs}, count(*) AS c
            FROM events GROUP BY {lhs}, {rhs}
        ) GROUP BY {lhs}
    )
    """


@query(
    "dq_fd_violations",
    oracle=" UNION ALL ".join(_fd_sql(l, r) for l, r in _FDS),
)
def dq_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling over declared candidates (the
    Metanome/data-profiling primitive behind key discovery and
    schema-quality audits): for each LHS -> RHS, the number of LHS
    values, how many of them see more than one RHS (violators), and
    the exact g3 error — the minimum rows to delete so the FD holds
    (sum over LHS of rows outside the plurality RHS group). The PK
    candidate (event_id -> user_id) must hold; the behavioral ones
    quantify how far they are from functional.

    Scale: each FD is one two-level aggregation — (lhs, rhs) counts
    with map-side partials, then an lhs-grain fold; the per-FD
    results union to a 3-row report. No windows, no joins."""
    ev = io.load_events(spark, sf_dir)
    outs = []
    for lhs, rhs in _FDS:
        grp = ev.groupBy(lhs, rhs).agg(F.count("*").alias("c"))
        per_lhs = grp.groupBy(lhs).agg(
            F.countDistinct(rhs).alias("n_rhs"),
            F.sum("c").alias("total"),
            F.max("c").alias("keep"),
        )
        g3 = F.sum(F.col("total") - F.col("keep"))
        outs.append(
            per_lhs.agg(
                F.lit(f"{lhs} -> {rhs}").alias("fd"),
                F.count("*").alias("n_lhs"),
                F.sum(
                    F.when(F.col("n_rhs") > 1, 1).otherwise(0)
                )
                .cast("long")
                .alias("violating_lhs"),
                g3.cast("long").alias("g3_rows"),
                F.when(g3 == 0, 1)
                .otherwise(0)
                .cast("long")
                .alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out
