"""Join operators (SURVEY.md §2.B "Joins" — none exist in the reference;
this is the capability-closure surface over the TPC-H star schema).

Physical-strategy notes (the part that matters at 100 TB):
- dimension tables (region/nation/supplier/customer at typical ratios) are
  broadcast — no shuffle of the fact side; `F.broadcast` hints make that
  explicit where the statistics might not;
- fact⋈fact (lineitem⋈orders) is a shuffle join on the key; AQE converts
  to broadcast at runtime when one side turns out small and splits skewed
  partitions (`skewJoin.enabled`);
- semi/anti joins stay semi/anti all the way down (no materialized
  intermediate);
- the range/as-of joins bound their fan-out explicitly — the naive
  cross-product form is the classic scale cliff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec, half_up, revenue
from hh_rumors_presto_spark.operators import asof_join
from hh_rumors_presto_spark.registry import query


@query(
    "join_broadcast",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash equi-join: dim ⋈ smaller-dim, zero shuffle."""
    nation = io.load_table(spark, sf_dir, "nation")
    region = io.load_table(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))


@query(
    "join_merge",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice,
           o.o_custkey, o.o_orderstatus
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def join_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ fact shuffle join on the key (AQE picks SMJ/SHJ/broadcast at
    runtime from actual sizes). The status filter is pushed below the join
    to the orders scan."""
    li = io.load_table(spark, sf_dir, "lineitem")
    orders = io.load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "l_orderkey", "l_linenumber", "l_extendedprice",
            "o_custkey", "o_orderstatus",
        )
    )


@query(
    "join_star",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus <> 'P'
    GROUP BY r.r_name, n.n_name
    """,
)
def join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (TPC-H Q5 shape): lineitem probes the filtered
    orders, then customer, nation and region.  At every fixture scale each
    of those is under the broadcast threshold, so the plan is four
    broadcast hash joins and lineitem is never shuffled by a join.  The
    lineitem scan is spread on ``l_orderkey`` (``io.load_spread``), so
    the probes and the DECIMAL revenue sums run on every core."""
    li = io.load_spread(spark, sf_dir, "lineitem", "l_orderkey")
    orders = io.load_table(spark, sf_dir, "orders")
    cust = io.load_table(spark, sf_dir, "customer")
    nation = io.load_table(spark, sf_dir, "nation")
    region = io.load_table(spark, sf_dir, "region")
    return (
        li.join(
            orders.filter(F.col("o_orderstatus") != "P"),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.round(F.sum(revenue()), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "join_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           count(o.o_orderkey) AS n_orders,
           CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(28,2))), CAST(0 AS DECIMAL(28,2))) AS DOUBLE) AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders (count over the
    null-extended side -> 0)."""
    cust = io.load_table(spark, sf_dir, "customer")
    orders = io.load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(dec(F.col("o_totalprice"), 2)),
                dec(F.lit(0), 2),
            ).cast("double").alias("total_spend"),
        )
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT s.s_suppkey, s.s_name, n.n_nationkey, n.n_name
    FROM supplier s FULL JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer: suppliers cover few nations, so both null-extended sides
    are exercised."""
    sup = io.load_table(spark, sf_dir, "supplier")
    nation = io.load_table(spark, sf_dir, "nation")
    return sup.join(nation, sup.s_nationkey == nation.n_nationkey, "full").select(
        "s_suppkey", "s_name", "n_nationkey", "n_name"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi = EXISTS; emits each qualifying left row once, never
    materializes the match multiplicity."""
    cust = io.load_table(spark, sf_dir, "customer")
    big = io.load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000
    )
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti = NOT EXISTS (customers with no large order)."""
    cust = io.load_table(spark, sf_dir, "customer")
    big = io.load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000
    )
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_range",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderkey
    FROM lineitem l
    JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND CAST(l.l_shipdate AS DATE)
         BETWEEN CAST(o.o_orderdate AS DATE)
             AND CAST(o.o_orderdate AS DATE) + 90
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join: equi-key plus a BETWEEN band. The equi conjunct
    keeps it a hash/merge join with the band as a post-join filter — the
    scalable shape for banded joins (a pure theta join would be a
    nested-loop cross product)."""
    li = io.load_table(spark, sf_dir, "lineitem")
    orders = io.load_table(spark, sf_dir, "orders")
    lsd = li.l_shipdate.cast("date")
    ood = orders.o_orderdate.cast("date")
    return li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey)
        & lsd.between(ood, F.date_add(ood, 90)),
    ).select("l_orderkey", "l_linenumber", "o_orderkey")


@query(
    "join_cross",
    oracle="""
    SELECT r1.r_name AS from_region, r2.r_name AS to_region
    FROM region r1 CROSS JOIN region r2
    WHERE r1.r_regionkey <> r2.r_regionkey
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join (tiny×tiny only — a cross join over big inputs is the
    scale cliff; larger pairings must go through LSH-style bucketing as in
    the similarity module)."""
    r1 = io.load_table(spark, sf_dir, "region").alias("r1")
    r2 = io.load_table(spark, sf_dir, "region").alias("r2")
    return (
        r1.crossJoin(r2)
        .filter(F.col("r1.r_regionkey") != F.col("r2.r_regionkey"))
        .select(
            F.col("r1.r_name").alias("from_region"),
            F.col("r2.r_name").alias("to_region"),
        )
    )


@query(
    "join_asof",
    oracle="""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    matches AS (
        SELECT o.o_orderkey, e.event_id, e.ts,
               row_number() OVER (
                   PARTITION BY o.o_orderkey
                   ORDER BY e.ts DESC, e.event_id DESC
               ) AS rn
        FROM orders o JOIN e
          ON e.user_id = o.o_custkey % 20
         AND e.ts <= CAST(o.o_orderdate AS TIMESTAMP)
        WHERE o.o_orderkey % 100 = 0
    )
    SELECT o.o_orderkey, m.event_id AS last_event_id, m.ts AS last_event_ts
    FROM orders o LEFT JOIN (SELECT * FROM matches WHERE rn = 1) m
      ON m.o_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 100 = 0
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest event at-or-before each order date per key
    (orders keyed to event users by o_custkey % 20). Implemented as a
    MERGE-AS-OF (r11, operators/asof.py): both sides tagged and unioned,
    one keyed shuffle of |orders|+|events| thin rows, running
    last(ignorenulls) window — the old equi-join's per-key pair fan-out
    never materializes."""
    orders = (
        io.load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 20).alias("user_key"),
            F.col("o_orderdate").cast("timestamp").alias("o_ts"),
        )
    )
    events = io.load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("user_key"),
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_event_ts"),
    )
    out = asof_join(
        orders,
        events,
        key="user_key",
        left_ts="o_ts",
        right_ts="last_event_ts",
        payload_cols=["last_event_id", "last_event_ts"],
        right_tiebreak="last_event_id",
    )
    return out.select("o_orderkey", "last_event_id", "last_event_ts")


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderstatus END AS k
        FROM orders WHERE o_orderkey % 20 = 0
    ),
    b AS (
        SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL
                    ELSE substring('OFP', 1 + n_nationkey % 3, 1) END AS k,
               n_nationkey
        FROM nation
    )
    SELECT a.o_orderkey, b.n_nationkey, a.k
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of dropping out — still a hash-partitionable
    equi-join (NULLs hash to one bucket; at scale a hot NULL key gets the
    salting treatment like any other skewed key)."""
    orders = io.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 20 == 0
    )
    nation = io.load_table(spark, sf_dir, "nation")
    a = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("k"),
    )
    b = nation.select(
        F.when(F.col("n_nationkey") % 5 == 0, F.lit(None))
        .otherwise(
            F.substring(F.lit("OFP"), F.lit(1) + F.col("n_nationkey") % 3, F.lit(1))
        )
        .alias("k"),
        "n_nationkey",
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        "o_orderkey", "n_nationkey", a["k"].alias("k")
    )


_NEAR_BAND = 500.0


@query(
    "join_nearest",
    oracle=f"""
    SELECT s_suppkey, nearest_cust, round(dist, 2) AS dist
    FROM (
        SELECT s.s_suppkey, c.c_custkey AS nearest_cust,
               abs(s.s_acctbal - c.c_acctbal) AS dist,
               row_number() OVER (
                   PARTITION BY s.s_suppkey
                   ORDER BY abs(s.s_acctbal - c.c_acctbal), c.c_custkey
               ) AS rn
        FROM supplier s JOIN customer c
          ON abs(s.s_acctbal - c.c_acctbal) <= {_NEAR_BAND}
    )
    WHERE rn = 1
    """,
)
def join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded nearest-value join (record linkage's closest-match step):
    for each supplier, the customer with the closest account balance
    within +/-{_NEAR_BAND} — bidirectional nearest, unlike join_asof's
    one-sided latest-before.

    Scale shape: suppliers probe 3 balance bins (bin width = the band, so
    +/-1 bin covers every candidate within it) and equi-join on the bin —
    candidate pairs are bounded by bin co-occupancy, never a theta nested
    loop; the exact |diff| <= band predicate is a post-filter, and the
    winner is a deterministic (distance, custkey) min_by. The oracle
    states the same thing as the brute-force theta join."""
    sup = io.load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_acctbal"
    )
    cust = io.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal",
        F.floor(F.col("c_acctbal") / _NEAR_BAND).cast("long").alias("bin"),
    )
    probe = sup.select(
        "s_suppkey",
        "s_acctbal",
        F.explode(
            F.array(
                *[
                    (F.floor(F.col("s_acctbal") / _NEAR_BAND) + d).cast("long")
                    for d in (-1, 0, 1)
                ]
            )
        ).alias("bin"),
    )
    dist = F.abs(F.col("s_acctbal") - F.col("c_acctbal"))
    tie = F.struct(F.col("dist").alias("d"), F.col("c_custkey"))
    return (
        probe.join(cust, "bin")
        .select("s_suppkey", "c_custkey", dist.alias("dist"))
        .filter(F.col("dist") <= _NEAR_BAND)
        .groupBy("s_suppkey")
        .agg(
            F.min_by("c_custkey", tie).alias("nearest_cust"),
            F.round(F.min("dist"), 2).alias("dist"),
        )
    )


@query(
    "join_hinted",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_hinted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit join-strategy control: the same customer⋈orders join that
    Catalyst would broadcast is FORCED onto the shuffle-hash path with a
    SHUFFLE_HASH hint — the knob an operator reaches for when the
    "small" side isn't (broadcast OOM) or when stats mislead the
    planner. Results are strategy-invariant (same oracle as a plain
    join); the plan gate asserts the hint was actually honored
    (ShuffledHashJoin, not BroadcastHashJoin), which is the point of the
    key: planner control, verified, not assumed."""
    orders = io.load_table(spark, sf_dir, "orders")
    cust = io.load_table(spark, sf_dir, "customer").hint("SHUFFLE_HASH")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                half_up(F.col("o_totalprice"), 2)
            ).cast("long").alias("cents"),
        )
    )
