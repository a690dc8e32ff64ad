"""TPC-H closure batch: q2, q9, q11, q16, q20 on a SYNTHESIZED ``partsupp``.

The driver fixtures have no partsupp table (TESTDATA.md), which had left
q2/q9/q16/q20 out of scope. This module closes them with a deterministic
partsupp derived identically in both engines from data the fixtures DO
have: the distinct ``(l_partkey, l_suppkey)`` pairs observed in lineitem
(so q9's lineitem-partsupp join is total, like real TPC-H), with
``ps_supplycost`` / ``ps_availqty`` as pure integer-hash formulas of the
key pair — bit-identical doubles on both engines, full value-hash oracles.

Fixture adaptations (documented like tpch_full.py's):
- q2's ``p_type LIKE '%BRASS'`` -> ``p_type = 'LARGE'`` (the fixture has
  6 type categories, no finishes) and region ASIA;
- q9's ``p_name LIKE '%green%'`` -> ``LIKE '%e%'`` over the fixture's
  color-word part names;
- q16's supplier-complaint comment exclusion -> ``s_suppkey % 13 = 0``
  (no s_comment column);
- q20's nation CANADA -> NATION_3, part-name prefix 'small'.

Scale notes (100 TB posture): partsupp materializes from one
lineitem-spine distinct (the only corpus-scale shuffle each query adds);
dimensions broadcast; q2's correlated min decorrelates to a keyed
min-aggregate joined back; q16's NOT IN is a broadcast anti-join; q20's
correlated availqty threshold decorrelates to a keyed half-sum join.
Money/profit sums are exact DECIMAL sums at the products' true grid,
scale 4 (2-dec supplycost/price x integer qty / 2-dec discount factor),
rounded and cast to DOUBLE only in the final projection, both engines
(``functions.exact``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec, revenue
from hh_rumors_presto_spark.registry import query

# Shared partsupp CTE (DuckDB side). ps_supplycost lands on two-decimal
# doubles computed from integers — IEEE division of identical operands is
# bit-identical across engines.
_PS_SQL = """
    ps AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               ((l_partkey * 31 + l_suppkey * 37) % 10000) / 100.0 + 1.0
                   AS ps_supplycost,
               CAST((l_partkey * 7 + l_suppkey * 11) % 1000 + 1 AS INT)
                   AS ps_availqty
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    )
"""


def partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized partsupp (Spark side of _PS_SQL)."""
    pairs = (
        io.load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    return pairs.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
        (
            (F.col("l_partkey") * 31 + F.col("l_suppkey") * 37) % 10000
            / 100.0
            + 1.0
        ).alias("ps_supplycost"),
        ((F.col("l_partkey") * 7 + F.col("l_suppkey") * 11) % 1000 + 1)
        .cast("int")
        .alias("ps_availqty"),
    )


@query(
    "sql_tpch_q2",
    oracle=f"""
    WITH {_PS_SQL},
    regional AS (
        SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost,
               s.s_acctbal, s.s_name, n.n_name
        FROM ps
        JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
    ),
    mincost AS (
        SELECT ps_partkey, min(ps_supplycost) AS mc
        FROM regional GROUP BY ps_partkey
    )
    SELECT round(g.s_acctbal, 2) AS s_acctbal, g.s_name, g.n_name,
           p.p_partkey, p.p_brand, round(g.ps_supplycost, 2) AS supplycost
    FROM part p
    JOIN regional g ON p.p_partkey = g.ps_partkey
    JOIN mincost m ON m.ps_partkey = p.p_partkey
                  AND g.ps_supplycost = m.mc
    WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'LARGE'
    ORDER BY round(g.s_acctbal, 2) DESC, g.n_name, g.s_name, p.p_partkey
    LIMIT 100
    """,
)
def sql_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 (min-cost supplier, adapted — see module docstring): the spec's
    correlated MIN subquery decorrelated to a per-part min over the
    region-restricted partsupp, joined back on (part, exact min cost).
    The cost formula is injective per part across suppliers (37x mod
    10000 has no collisions within 0..99), so the min-cost supplier is
    unique and the LIMIT boundary deterministic.

    Shape: partsupp distinct is the one big shuffle; supplier/nation/
    region/part broadcast; min-agg output is ~|parts| rows joined back."""
    ps = partsupp(spark, sf_dir)
    supp = io.load_table(spark, sf_dir, "supplier")
    nat = io.load_table(spark, sf_dir, "nation")
    reg = io.load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    part = io.load_table(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    regional = (
        ps.join(
            F.broadcast(
                supp.join(
                    F.broadcast(
                        nat.join(
                            F.broadcast(reg),
                            nat.n_regionkey == reg.r_regionkey,
                        )
                    ),
                    supp.s_nationkey == nat.n_nationkey,
                ).select("s_suppkey", "s_acctbal", "s_name", "n_name")
            ),
            ps.ps_suppkey == F.col("s_suppkey"),
        )
    )
    mincost = regional.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("mc")
    )
    return (
        regional.join(F.broadcast(part), regional.ps_partkey == part.p_partkey)
        .join(
            mincost.withColumnRenamed("ps_partkey", "mk"),
            (F.col("mk") == F.col("p_partkey"))
            & (F.col("ps_supplycost") == F.col("mc")),
        )
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.round("ps_supplycost", 2).alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query(
    "sql_tpch_q9",
    oracle=f"""
    WITH {_PS_SQL}
    SELECT n.n_name AS nation,
           CAST(year(CAST(o.o_orderdate AS DATE)) AS INT) AS o_year,
           CAST(round(sum(
               CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4))
               - CAST(ps.ps_supplycost * l.l_quantity AS DECIMAL(28,4))
           ), 2) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%e%'
    GROUP BY n.n_name, year(CAST(o.o_orderdate AS DATE))
    """,
)
def sql_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 (product-type profit by nation and year, adapted): profit =
    revenue minus supply cost, supplier's nation, order year. partsupp is
    derived from observed lineitem pairs so the join is total, as in real
    TPC-H.

    Shape: lineitem joins partsupp on its natural (part, supp) key —
    co-partitioned shuffle; part/supplier/nation broadcast; orders joins
    on the orderkey spine; profit terms accumulate in DECIMAL(28,4)."""
    li = io.load_table(spark, sf_dir, "lineitem")
    ps = partsupp(spark, sf_dir)
    part = io.load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%e%")
    )
    supp = io.load_table(spark, sf_dir, "supplier")
    nat = io.load_table(spark, sf_dir, "nation")
    orders = io.load_table(spark, sf_dir, "orders")
    profit_term = revenue() - dec(
        F.col("ps_supplycost") * F.col("l_quantity"), 4
    )
    return (
        li.join(
            ps,
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate").cast("date"))
            .cast("int")
            .alias("o_year"),
        )
        .agg(
            F.round(F.sum(profit_term), 2)
            .cast("double")
            .alias("profit")
        )
    )


@query(
    "sql_tpch_q11",
    oracle=f"""
    WITH {_PS_SQL},
    natps AS (
        SELECT ps.ps_partkey,
               CAST(ps.ps_supplycost * ps.ps_availqty AS DECIMAL(28,4))
                   AS v
        FROM ps
        JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_3'
    ),
    per_part AS (
        SELECT ps_partkey, sum(v) AS value_dec FROM natps GROUP BY ps_partkey
    ),
    total AS (SELECT sum(value_dec) AS total_dec FROM per_part)
    SELECT p.ps_partkey,
           CAST(round(p.value_dec, 2) AS DOUBLE) AS value
    FROM per_part p, total t
    WHERE p.value_dec * 1000 > t.total_dec
    ORDER BY value DESC, p.ps_partkey
    """,
)
def sql_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 (important stock identification, adapted): per-part inventory
    value held by NATION_3 suppliers, keeping parts above 1/1000 of the
    national total (spec fraction 0.0001 rescaled to the fixture's part
    count). The correlated HAVING-threshold subquery decorrelates to a
    one-row global sum broadcast back over the per-part aggregate — the
    same shape ``agg_share_of_total`` pins, here in its canonical TPC-H
    form on partsupp.

    Shape: partsupp distinct is the one big shuffle; supplier/nation
    broadcast; the threshold compares exact DECIMAL(28,4) sums scaled by
    an integer (no double rounding on the comparison), so the surviving
    row set is bit-deterministic in both engines; doubles appear only in
    the final projection."""
    ps = partsupp(spark, sf_dir)
    supp = io.load_table(spark, sf_dir, "supplier")
    nat = io.load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    natsupp = supp.join(
        F.broadcast(nat), supp.s_nationkey == nat.n_nationkey
    ).select("s_suppkey")
    per_part = (
        ps.join(F.broadcast(natsupp), ps.ps_suppkey == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                dec(F.col("ps_supplycost") * F.col("ps_availqty"), 4)
            ).alias("value_dec")
        )
    )
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec") * 1000 > F.col("total_dec"))
        .select(
            "ps_partkey",
            F.round("value_dec", 2).cast("double").alias("value"),
        )
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


@query(
    "sql_tpch_q16",
    oracle=f"""
    WITH {_PS_SQL}
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND ps.ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_suppkey % 13 = 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def sql_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 (supplier count by part descriptor, adapted): distinct
    suppliers per (brand, type, size) bucket, excluding the deterministic
    stand-in for complaint-flagged suppliers.

    Shape: the NOT IN subquery (key list is non-null by construction)
    becomes a broadcast LEFT ANTI join; part broadcast; one distinct-agg
    shuffle on the descriptor key."""
    ps = partsupp(spark, sf_dir)
    part = io.load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    excluded = (
        io.load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 13 == 0)
        .select("s_suppkey")
    )
    return (
        ps.join(
            F.broadcast(excluded),
            ps.ps_suppkey == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), ps.ps_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.count_distinct("ps_suppkey").cast("long").alias("supplier_cnt")
        )
    )


@query(
    "sql_tpch_q20",
    oracle=f"""
    WITH {_PS_SQL},
    qty AS (
        SELECT l_partkey, l_suppkey, 0.5 * sum(l_quantity) AS half_qty
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        GROUP BY l_partkey, l_suppkey
    ),
    eligible AS (
        SELECT DISTINCT ps.ps_suppkey
        FROM ps
        JOIN part p ON p.p_partkey = ps.ps_partkey
                   AND p.p_name LIKE 'small%'
        JOIN qty q ON q.l_partkey = ps.ps_partkey
                  AND q.l_suppkey = ps.ps_suppkey
        WHERE ps.ps_availqty > q.half_qty
    )
    SELECT s.s_suppkey, s.s_name, round(s.s_acctbal, 2) AS s_acctbal
    FROM supplier s
    JOIN eligible e ON s.s_suppkey = e.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_3'
    """,
)
def sql_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 (suppliers with excess stock of a part family, adapted):
    suppliers in NATION_3 holding availqty above half the 1997 shipped
    quantity of any of their 'small%' parts.

    Shape: the spec's doubly-nested correlated subquery decorrelates to a
    keyed (part, supp) half-sum aggregate equi-joined to partsupp —
    co-partitioned on the same key, no per-row re-execution; part and the
    tiny supplier/nation dims broadcast."""
    ps = partsupp(spark, sf_dir)
    li = io.load_table(spark, sf_dir, "lineitem")
    qty = (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate").cast("date") < F.lit("1998-01-01"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg((0.5 * F.sum("l_quantity")).alias("half_qty"))
    )
    part = io.load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    )
    eligible = (
        ps.join(F.broadcast(part), ps.ps_partkey == part.p_partkey)
        .join(
            qty,
            (ps.ps_partkey == qty.l_partkey)
            & (ps.ps_suppkey == qty.l_suppkey),
        )
        .filter(F.col("ps_availqty") > F.col("half_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    supp = io.load_table(spark, sf_dir, "supplier")
    nat = io.load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(eligible, supp.s_suppkey == eligible.ps_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
    )
