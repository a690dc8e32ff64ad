"""Round-33 breadth batch: full coreness decomposition, ABC/Pareto
analysis, and recommender coverage/diversity.

- ``graph_coreness`` — the FULL k-core decomposition (graph_kcore
  peels one threshold; this labels every node with its core number)
  via the h-index iteration of Lü et al. 2016 ("The H-index of a
  network node"): start from degree, repeatedly replace each node's
  value with the H-index of its neighbors' values — the fixpoint IS
  the coreness. 8 synchronous rounds define the key's semantics;
  convergence to true coreness on the fixture graph is test-asserted.
- ``agg_abc_analysis`` — the classic ABC / Pareto inventory cut:
  parts ranked by revenue, classed A/B/C at the exact 80%/95%
  cumulative-share boundaries (integer cross-multiplication, no
  float share arithmetic), per-class census.
- ``recs_coverage_diversity`` — beyond-accuracy recommender eval:
  catalog coverage of the per-customer top-10 part lists and mean
  intra-list brand diversity (pairs bounded at 45 per user — the
  pair join is capped by the list, never the catalog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.operators.windows import bucketed_rank_cumsum
from hh_rumors_presto_spark.queries.graph import _GRAPH_SQL, _edges
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# graph_coreness
# --------------------------------------------------------------------------

_CORE_ROUNDS = 8


def _core_iter_sql(t: int) -> str:
    """One synchronous h-index round: each node's new value is the
    largest h with >= h neighbors currently valued >= h — computed as
    max(min(rank, value)) over the neighbor values sorted DESC."""
    return f"""
    h{t} AS (
        SELECT e.src AS node,
               least(row_number() OVER (
                         PARTITION BY e.src
                         ORDER BY c.c DESC, e.dst), c.c) AS hv
        FROM edges e JOIN c{t - 1} c ON c.node = e.dst
    ),
    c{t} AS (SELECT node, max(hv) AS c FROM h{t} GROUP BY node)"""


_CORENESS_ORACLE = (
    _GRAPH_SQL
    + """,
    c0 AS (SELECT node, outdeg AS c FROM deg),"""
    + ",".join(_core_iter_sql(t) for t in range(1, _CORE_ROUNDS + 1))
    + f"""
    SELECT CAST(c AS BIGINT) AS coreness,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM c{_CORE_ROUNDS} GROUP BY c
    """
)


@query("graph_coreness", oracle=_CORENESS_ORACLE)
def graph_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full coreness labeling of the bipartite order graph by
    {_CORE_ROUNDS} h-index rounds (Lü et al. 2016): c_0 = degree,
    c_t+1(v) = H(c_t over N(v)). The sequence is monotonically
    non-increasing and its fixpoint is exactly the k-core number;
    {_CORE_ROUNDS} rounds are the key's defined semantics, with
    convergence to true peeling-coreness test-asserted on the
    fixtures. Output is the coreness census (how much of the graph
    survives at each depth — the engagement-tier readout graph_kcore
    gives for one k only).

    Scale: each round is one equi-join of the edge list with the
    node-value table + a keyed window over neighbor lists +
    per-node max — O(E) per round, O(diameter)-ish rounds,
    localCheckpoint truncating the iterative lineage (the
    graph_pagerank discipline). The H-index window is per-node, so
    hub nodes bound the partition, not the graph."""
    # r11 OPTIMIZATION (guide §2.4, the graph_pagerank discipline made
    # real here): pre-partition the loop-invariant edge list by src ONCE
    # and persist — the per-round H-index window (partitionBy src) and
    # the per-node max agg then run on the preserved hashpartitioning
    # with NO edge-scale exchange per round; the node-value table is
    # explicitly broadcast into each round's join. 8 rounds went from
    # one edge exchange each to zero (the per-round H-index SORT within
    # src partitions remains — it is the operator's semantics). Warm
    # sf0.1: 8.7 -> ~4.1 s.
    from hh_rumors_presto_spark.session import default_parallelism

    edges = (
        _edges(spark, sf_dir)
        .repartition(default_parallelism(), "src")
        .persist()
    )
    c = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    for _ in range(_CORE_ROUNDS):
        nb = edges.join(
            F.broadcast(c.withColumnRenamed("node", "cn")),
            F.col("dst") == F.col("cn"),
        )
        wv = Window.partitionBy("src").orderBy(
            F.col("c").desc(), "dst"
        )
        c = (
            nb.select(
                F.col("src").alias("node"),
                F.least(F.row_number().over(wv), F.col("c")).alias(
                    "hv"
                ),
            )
            .groupBy("node")
            .agg(F.max("hv").alias("c"))
            .localCheckpoint()
        )
    edges.unpersist()
    return c.groupBy(F.col("c").cast("long").alias("coreness")).agg(
        F.count("*").alias("n_nodes")
    )


# --------------------------------------------------------------------------
# agg_abc_analysis
# --------------------------------------------------------------------------


@query(
    "agg_abc_analysis",
    oracle="""
    WITH rev AS (
        SELECT l_partkey AS part,
               sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS cents
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT part, cents,
               sum(cents) OVER (ORDER BY cents DESC, part) AS cum,
               sum(cents) OVER () AS total
        FROM rev
    )
    SELECT cls,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS rev_cents,
           round(sum(cents) / CAST(max(total) AS DOUBLE), 6) AS share
    FROM (
        SELECT CASE WHEN 5 * cum <= 4 * total THEN 'A'
                    WHEN 20 * cum <= 19 * total THEN 'B'
                    ELSE 'C' END AS cls,
               cents, total
        FROM ranked
    ) GROUP BY cls
    """,
)
def agg_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto analysis of part revenue: rank parts by exact
    revenue cents, class A while the running share stays within 80%
    (5*cum <= 4*total — integer cross-multiplication, so the
    boundary is exact, not a float >= 0.8 that drifts), B to 95%,
    C beyond; report the census per class. The "20% of items carry
    80% of revenue" inventory readout.

    Scale: revenue collapses to one row per part first (map-side
    partials, localCheckpointed once); the running share comes from
    the bucketed two-pass cumsum
    (operators/windows.py:bucketed_rank_cumsum) on the NEGATED cents
    key — ASC on -cents is exactly the DESC revenue order, ties by
    part — so no data-scaled single-partition window exists even
    though the part domain is 10^8+ at fleet scale. Converted from
    the global Window.orderBy form in round 10 (ledger entity
    class); bit-identical integer arithmetic."""
    rev = (
        io.load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.sum(
                half_up(F.col("l_extendedprice"), 2)
            ).alias("cents")
        )
        .withColumn("neg", -F.col("cents"))
        .localCheckpoint()
    )
    ranked = bucketed_rank_cumsum(
        rev, order_key="neg", tiebreak="part", value_col="cents"
    ).select("cents", "cum", "total")
    classed = ranked.select(
        F.when(5 * F.col("cum") <= 4 * F.col("total"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("total"), "B")
        .otherwise("C")
        .alias("cls"),
        "cents",
        "total",
    )
    return classed.groupBy("cls").agg(
        F.count("*").alias("n_parts"),
        F.sum("cents").cast("long").alias("rev_cents"),
        F.round(
            F.sum("cents") / F.max("total").cast("double"), 6
        ).alias("share"),
    )


# --------------------------------------------------------------------------
# recs_coverage_diversity
# --------------------------------------------------------------------------

_RCD_K = 10


@query(
    "recs_coverage_diversity",
    oracle=f"""
    WITH spend AS (
        SELECT o.o_custkey AS cust, l.l_partkey AS part,
               sum(CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey, l.l_partkey
    ),
    recs AS (
        SELECT cust, part, pos FROM (
            SELECT cust, part,
                   row_number() OVER (PARTITION BY cust
                                      ORDER BY cents DESC, part) AS pos
            FROM spend
        ) WHERE pos <= {_RCD_K}
    ),
    pairs AS (
        SELECT a.cust,
               CASE WHEN pa.p_brand <> pb.p_brand THEN 1 ELSE 0 END
                   AS diff
        FROM recs a
        JOIN recs b ON a.cust = b.cust AND a.pos < b.pos
        JOIN part pa ON pa.p_partkey = a.part
        JOIN part pb ON pb.p_partkey = b.part
    ),
    per_user AS (
        SELECT cust,
               (2000000 * sum(diff) + count(*)) // (2 * count(*))
                   AS ild_micro
        FROM pairs GROUP BY cust
    ),
    cov AS (
        SELECT count(DISTINCT part) AS n_rec_parts FROM recs
    ),
    cat AS (SELECT count(*) AS n_parts FROM part)
    SELECT CAST((SELECT count(*) FROM per_user) AS BIGINT) AS n_users,
           CAST(cov.n_rec_parts AS BIGINT) AS n_rec_parts,
           CAST(cat.n_parts AS BIGINT) AS catalog_size,
           round(cov.n_rec_parts / CAST(cat.n_parts AS DOUBLE), 6)
               AS coverage,
           round((SELECT sum(ild_micro) FROM per_user)
                 / (1000000.0 * (SELECT count(*) FROM per_user)), 6)
               AS mean_ild
    FROM cov CROSS JOIN cat
    """,
)
def recs_coverage_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Beyond-accuracy recommender eval over per-customer top-
    {_RCD_K} part lists (ranked by exact spend): catalog COVERAGE
    (what share of the catalog ever gets recommended — the long-tail
    health metric) and mean intra-list DIVERSITY (share of within-
    list pairs with different brands, half-up micro units, exact-mean
    fold). An accurate recommender that shows everyone the same 10
    bestsellers scores ~0 on both — which is why these ship next to
    NDCG/MRR.

    Scale: the pair join is WITHIN each user's {_RCD_K}-row list —
    at most {_RCD_K * (_RCD_K - 1) // 2} pairs per user, linear in
    users, never catalog^2; the brand lookup is a broadcast dim
    join; coverage is a distinct-count over the rec table."""
    li = io.load_table(spark, sf_dir, "lineitem")
    orders = io.load_table(spark, sf_dir, "orders")
    part = io.load_table(spark, sf_dir, "part")
    spend = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
        )
        .agg(
            F.sum(
                half_up(F.col("l_extendedprice"), 2)
            ).alias("cents")
        )
    )
    wr = Window.partitionBy("cust").orderBy(
        F.col("cents").desc(), "part"
    )
    recs = (
        spend.withColumn("pos", F.row_number().over(wr))
        .filter(F.col("pos") <= _RCD_K)
        .select("cust", "part", "pos")
        .localCheckpoint()
    )
    brand = F.broadcast(
        part.select(F.col("p_partkey"), F.col("p_brand"))
    )
    a = (
        recs.join(brand, recs.part == F.col("p_partkey"))
        .select("cust", "pos", F.col("p_brand").alias("brand_a"))
    )
    b = (
        recs.join(brand, recs.part == F.col("p_partkey"))
        .select(
            F.col("cust").alias("cust_b"),
            F.col("pos").alias("pos_b"),
            F.col("p_brand").alias("brand_b"),
        )
    )
    per_user = (
        a.join(
            b,
            (F.col("cust") == F.col("cust_b"))
            & (F.col("pos") < F.col("pos_b")),
        )
        .groupBy("cust")
        .agg(
            F.floor(
                (
                    2000000
                    * F.sum(
                        F.when(
                            F.col("brand_a") != F.col("brand_b"), 1
                        ).otherwise(0)
                    )
                    + F.count("*")
                )
                / (2 * F.count("*"))
            )
            .cast("long")
            .alias("ild_micro")
        )
    )
    ild = per_user.agg(
        F.count("*").alias("n_users"),
        F.sum("ild_micro").alias("ild_sum"),
    )
    cov = recs.agg(
        F.countDistinct("part").alias("n_rec_parts")
    )
    cat = part.agg(F.count("*").alias("n_parts"))
    return (
        ild.crossJoin(F.broadcast(cov))
        .crossJoin(F.broadcast(cat))
        .select(
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_rec_parts").cast("long").alias("n_rec_parts"),
            F.col("n_parts").cast("long").alias("catalog_size"),
            # try_divide: an empty catalog / zero rec'd users puts 0 in
            # the denominator — DuckDB's x/0.0 is NULL, ANSI `/` raises
            # (r9 empty-table audit); identical division otherwise
            F.round(
                F.try_divide(
                    F.col("n_rec_parts"), F.col("n_parts").cast("double")
                ),
                6,
            ).alias("coverage"),
            F.round(
                F.try_divide(
                    F.col("ild_sum"), 1000000.0 * F.col("n_users")
                ),
                6,
            ).alias("mean_ild"),
        )
    )
