"""Graph analytics over the order graph (SURVEY.md §2.B graph rows).

The graph is bipartite customer↔supplier: an undirected edge per distinct
(o_custkey, l_suppkey) trading pair from ``orders ⋈ lineitem``, stored as
two directed edges. Node ids are disjoint by parity: customer c -> 2c,
supplier s -> 2s+1.

Determinism discipline: PageRank is the classic case where float sums make
cross-engine (and cross-partitioning!) results diverge — the per-node
contribution sum is order-dependent in IEEE arithmetic. So ranks are kept
in BIGINT **fixed-point** (1.0 == 10^12) and every update uses only
integer multiply + truncating division + exact integer sums: bit-identical
under any reduction order, any partitioning, and across Spark/DuckDB.
That turns an ordinarily rows-only sketch into a full value-hash oracle.

Scale posture (100 TB): each PageRank/BFS round is one equi-join + one
hash aggregate on the edge list — the standard Pregel-as-joins shape; no
collect of edges or ranks, driver holds only the scalar node count.
``localCheckpoint`` per round truncates the iterative lineage, as in
operators.components. Edge build is one shuffle join;
at cluster scale the edge list would be bucketed by src once and reused
across all rounds with zero further edge shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.operators.components import connected_components
from hh_rumors_presto_spark.queries.extensions_dedup import (
    _jaccard_pairs_sql,
    dedup_ngram_jaccard,
)
from hh_rumors_presto_spark.registry import query

_SCALE = 1_000_000_000_000  # fixed-point 1.0
_DAMP_NUM, _DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio

# Shared oracle CTE: the bipartite directed edge list + degrees + node set.
_GRAPH_SQL = """
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey * 2 AS c_node, l.l_suppkey * 2 + 1 AS s_node
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT c_node AS src, s_node AS dst FROM pairs
        UNION ALL
        SELECT s_node, c_node FROM pairs
    ),
    deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
    params AS (SELECT count(*) AS n FROM deg)
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = io.load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c_node"),
            (F.col("l_suppkey") * 2 + 1).alias("s_node"),
        )
        .distinct()
    )
    return pairs.select(
        F.col("c_node").alias("src"), F.col("s_node").alias("dst")
    ).unionAll(pairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst")))


def _edges_by_dst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same bipartite edge list as :func:`_edges`, but built so the
    WHOLE prep pays exactly ONE edge-scale exchange and the output keeps
    hashpartitioning(dst): the raw (pre-distinct) pair stream is
    mirrored, repartitioned by dst, and deduped AFTER the exchange —
    hashpartitioning(dst) satisfies the (src, dst) dedup's clustering
    requirement (dst is a subset of the keys), so dropDuplicates adds no
    second exchange. Partition count follows default_parallelism(), not
    a constant, so lower-core runs and cluster deployments both get a
    scale-appropriate layout. Iterative consumers persist the result
    (hash metadata kept) and their per-round groupBy(dst) fan-in aggs
    stay exchange-free."""
    from hh_rumors_presto_spark.session import default_parallelism

    li = io.load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = io.load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    raw = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        (F.col("o_custkey") * 2).alias("c_node"),
        (F.col("l_suppkey") * 2 + 1).alias("s_node"),
    )
    bidir = raw.select(
        F.col("c_node").alias("src"), F.col("s_node").alias("dst")
    ).unionAll(raw.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst")))
    return bidir.repartition(default_parallelism(), "dst").dropDuplicates(
        ["src", "dst"]
    )


@query(
    "graph_pagerank",
    oracle=_GRAPH_SQL
    + f"""
    , r0 AS (
        SELECT node, {_SCALE} // (SELECT n FROM params) AS rank_fp FROM deg
    ),
    r1 AS (
        SELECT d.node,
               (15 * {_SCALE}) // (100 * (SELECT n FROM params))
               + coalesce(s.contrib, 0) AS rank_fp
        FROM deg d LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(sum(((r.rank_fp * {_DAMP_NUM}) // {_DAMP_DEN}) // dg.outdeg) AS BIGINT) AS contrib
            FROM edges e
            JOIN r0 r ON e.src = r.node
            JOIN deg dg ON dg.node = e.src
            GROUP BY e.dst
        ) s ON d.node = s.node
    ),
    r2 AS (
        SELECT d.node,
               (15 * {_SCALE}) // (100 * (SELECT n FROM params))
               + coalesce(s.contrib, 0) AS rank_fp
        FROM deg d LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(sum(((r.rank_fp * {_DAMP_NUM}) // {_DAMP_DEN}) // dg.outdeg) AS BIGINT) AS contrib
            FROM edges e
            JOIN r1 r ON e.src = r.node
            JOIN deg dg ON dg.node = e.src
            GROUP BY e.dst
        ) s ON d.node = s.node
    ),
    r3 AS (
        SELECT d.node,
               (15 * {_SCALE}) // (100 * (SELECT n FROM params))
               + coalesce(s.contrib, 0) AS rank_fp
        FROM deg d LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(sum(((r.rank_fp * {_DAMP_NUM}) // {_DAMP_DEN}) // dg.outdeg) AS BIGINT) AS contrib
            FROM edges e
            JOIN r2 r ON e.src = r.node
            JOIN deg dg ON dg.node = e.src
            GROUP BY e.dst
        ) s ON d.node = s.node
    )
    SELECT node,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
           rank_fp
    FROM r3
    ORDER BY rank_fp DESC, node
    LIMIT 100
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank, 3 iterations, damping 0.85, on the bipartite
    order graph: :func:`_rank_walk` with every node in the restart set.
    Top-100 nodes by rank."""
    return _rank_walk(spark, sf_dir, F.lit(True)).select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        "rank_fp",
    )


def _rank_walk(spark: SparkSession, sf_dir: str, restart: Column) -> DataFrame:
    """Top-100 ``(node, restart, rank_fp)`` rows, by rank then node, of a
    3-round fixed-point random walk with restart (damping 0.85) on the
    bipartite order graph. ``restart`` is a boolean column over the degree
    table ``(node, outdeg)``: the walk starts on, and teleports back to,
    the k nodes where it holds, with r0 = SCALE // k and teleport =
    15·SCALE // (100·k). ``lit(True)`` makes k = n, which is PageRank.

    All arithmetic is BIGINT (multiply, truncating DIV, exact sums), so
    ranks are bit-identical to the unrolled-SQL oracles under any
    partitioning — see module docstring. One join + one agg per round
    (Pregel-as-joins); the driver holds only the scalar k. An empty graph
    gives no rows. A non-empty graph with no restart node raises: the
    oracle would divide by k = 0 and emit NULL ranks."""
    # Pre-partition the (big, loop-invariant) edge list by dst ONCE: every
    # round's fan-in groupBy(dst) then needs no exchange. The per-round
    # node-level tables (shares, contribs — one row per node, vs one per
    # edge) are explicitly broadcast, so each iteration moves only
    # node-sized data: zero edge-sized shuffles after the setup.
    # Regime note for 100 TB: this is the "rank vector fits in an
    # executor" shape (true into the hundreds of millions of nodes at
    # ~16 B/row); past that, drop the broadcasts and co-partition edges by
    # src instead — the classic Pregel shuffle returns but stays 1/round.
    # persist (NOT localCheckpoint) the dst-partitioned edges:
    # localCheckpoint rewrites the plan as an ExistingRDD with
    # UnknownPartitioning, so every round's groupBy(dst) would re-shuffle;
    # persist keeps the hashpartitioning(dst) metadata and the agg plans
    # exchange-free. Edges are loop-invariant, so no lineage growth. The
    # deg aggregation is the first action and populates the cache.
    edges = _edges_by_dst(spark, sf_dir).persist()
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").alias("outdeg"))
        .withColumnRenamed("src", "node")
        .withColumn("restart", restart)
        .localCheckpoint()
    )
    k = deg.filter("restart").count()  # as the oracles' params / kk CTEs
    if k == 0:
        if deg.limit(1).count() > 0:
            raise AssertionError(
                "rank walk: non-empty graph contains no restart node "
                "(the oracle would emit NULL rank_fp rows; refusing to "
                "diverge silently)"
            )
        edges.unpersist()
        return deg.select("node", "restart", F.lit(0).cast("long").alias("rank_fp"))
    teleport = (15 * _SCALE) // (100 * k)  # exact integer, matches // in SQL

    # ranks carries outdeg through the loop, so each round is exactly TWO
    # joins: node-level shares ⋈ edges (fan-out), then deg ⋈ contribs
    # (fan-in). The per-src share is computed once per node, not per edge.
    ranks = deg.select(
        "node",
        "outdeg",
        "restart",
        F.when(F.col("restart"), F.lit(_SCALE // k))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank_fp"),
    )
    for _ in range(3):
        shares = ranks.select(
            "node",
            F.expr(
                f"CAST((rank_fp * {_DAMP_NUM}) DIV {_DAMP_DEN} DIV outdeg AS BIGINT)"
            ).alias("share"),
        )
        contribs = (
            edges.join(F.broadcast(shares), edges.src == shares.node)
            .groupBy("dst")
            .agg(F.sum("share").cast("long").alias("contrib"))
        )
        ranks = (
            deg.join(F.broadcast(contribs), deg.node == contribs.dst, "left")
            .select(
                "node",
                "outdeg",
                "restart",
                (
                    F.when(F.col("restart"), F.lit(teleport)).otherwise(F.lit(0))
                    + F.coalesce(F.col("contrib"), F.lit(0))
                )
                .cast("long")
                .alias("rank_fp"),
            )
            .localCheckpoint()
        )
    # the final ranks are materialized, so the cached edges can go:
    # repeated invocations don't accumulate cache entries
    edges.unpersist()
    return (
        ranks.select("node", "restart", "rank_fp")
        .orderBy(F.col("rank_fp").desc(), "node")
        .limit(100)
    )


@query(
    "graph_degree",
    oracle=_GRAPH_SQL
    + """
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
           outdeg AS degree,
           count(*) AS n_nodes
    FROM deg
    GROUP BY 1, 2
    """,
)
def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution per node class — the graph profiling step (and
    the skew probe you run before deciding salting for the join rounds)."""
    deg = _edges(spark, sf_dir).groupBy("src").agg(F.count("*").alias("outdeg"))
    return deg.groupBy(
        F.when(F.col("src") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.col("outdeg").alias("degree"),
    ).agg(F.count("*").alias("n_nodes"))


@query(
    "graph_bfs",
    oracle=_GRAPH_SQL
    + """
    , l0 AS (
        SELECT node, 0 AS level FROM deg WHERE node % 2 = 0 AND node <= 10
    ),
    f1 AS (
        SELECT DISTINCT e.dst AS node FROM edges e JOIN l0 ON e.src = l0.node
    ),
    l1 AS (
        SELECT f1.node, 1 AS level FROM f1
        WHERE NOT EXISTS (SELECT 1 FROM l0 WHERE l0.node = f1.node)
    ),
    f2 AS (
        SELECT DISTINCT e.dst AS node FROM edges e JOIN l1 ON e.src = l1.node
    ),
    l2 AS (
        SELECT f2.node, 2 AS level FROM f2
        WHERE NOT EXISTS (SELECT 1 FROM l0 WHERE l0.node = f2.node)
          AND NOT EXISTS (SELECT 1 FROM l1 WHERE l1.node = f2.node)
    ),
    f3 AS (
        SELECT DISTINCT e.dst AS node FROM edges e JOIN l2 ON e.src = l2.node
    ),
    l3 AS (
        SELECT f3.node, 3 AS level FROM f3
        WHERE NOT EXISTS (SELECT 1 FROM l0 WHERE l0.node = f3.node)
          AND NOT EXISTS (SELECT 1 FROM l1 WHERE l1.node = f3.node)
          AND NOT EXISTS (SELECT 1 FROM l2 WHERE l2.node = f3.node)
    )
    SELECT node, level FROM l0
    UNION ALL SELECT node, level FROM l1
    UNION ALL SELECT node, level FROM l2
    UNION ALL SELECT node, level FROM l3
    """,
)
def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS levels (3 expansion rounds) from customers 1–5.
    Frontier expansion = equi-join frontier⋈edges, dedup, anti-join against
    visited — each round one shuffle join, integer levels so the result is
    engine-exact. The iterative-traversal primitive behind reachability,
    taint propagation, and k-hop neighborhood features."""
    edges = _edges(spark, sf_dir).localCheckpoint()
    visited = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .filter((F.col("node") % 2 == 0) & (F.col("node") <= 10))
        .select("node", F.lit(0).alias("level"))
        .localCheckpoint()
    )
    frontier = visited.select("node")
    for lvl in (1, 2, 3):
        nxt = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(lvl).alias("level"))
            .localCheckpoint()
        )
        visited = visited.unionAll(nxt).localCheckpoint()
        frontier = nxt.select("node")
    return visited


def _triangles_oracle() -> str:
    return (
        _jaccard_pairs_sql()
        + """
    , e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM e e1
        JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri
    FROM (
        SELECT a AS doc_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    GROUP BY doc_id
    """
    )


@query("graph_triangles", oracle=_triangles_oracle())
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the near-dup pair graph — the
    clustering-coefficient numerator used to tell tight duplicate cliques
    from chain-like false-positive runs.

    Scale shape: edges are kept in canonical a<b orientation, so each
    triangle is enumerated exactly once via two forward-edge equi-joins
    (wedge a->b->c closed by a->c) — the standard degree-bounded triangle
    join, never an all-pairs product. The pair list is localCheckpointed
    once and reused by all three join legs."""
    _e, tri = _neardup_tri_frames(spark, sf_dir)
    nodes = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
    )
    return nodes.groupBy("doc_id").agg(F.count("*").alias("n_tri"))


def _neardup_tri_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(canonical a<b edge list, enumerated triangles) over the near-dup
    pair graph — shared by graph_triangles and graph_clustering_coeff."""
    e = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .localCheckpoint()
    )
    e1 = e.alias("e1")
    e2 = e.select(F.col("a").alias("b2a"), F.col("b").alias("c")).alias("e2")
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3")).alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.b2a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a3")) & (F.col("e2.c") == F.col("e3.c3")),
        )
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.c").alias("c"))
    )
    return e, tri


def _clustering_oracle() -> str:
    return (
        _jaccard_pairs_sql()
        + """
    , e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    deg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT a AS doc_id FROM e UNION ALL SELECT b FROM e)
        GROUP BY doc_id
    ),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM e e1
        JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tcnt AS (
        SELECT doc_id, count(*) AS n_tri FROM (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
        GROUP BY doc_id
    )
    SELECT d.doc_id, d.degree,
           CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
           CASE WHEN d.degree < 2 THEN NULL
                ELSE 2.0 * coalesce(t.n_tri, 0) / (d.degree * (d.degree - 1))
           END AS coeff
    FROM deg d LEFT JOIN tcnt t USING (doc_id)
    """
    )


@query("graph_clustering_coeff", oracle=_clustering_oracle())
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the near-dup pair
    graph: coeff(v) = 2*T(v) / (d(v)*(d(v)-1)) — the cliquishness score
    that separates tight duplicate clusters (coeff ~ 1, safe to collapse
    to one survivor) from chain-like near-dup runs (coeff ~ 0, where
    transitive collapse over-merges). Triangles come from the same
    forward-edge join as graph_triangles (shared frame builder); nodes
    of degree < 2 report NULL (undefined). The only float op is the one
    final 2.0*T/(d*(d-1)) division — bit-identical cross-engine.

    Scale: degree is one union+agg over the edge list; the triangle join
    is degree-bounded (never all-pairs); both reuse the checkpointed
    pair list."""
    e, tri = _neardup_tri_frames(spark, sf_dir)
    deg = (
        e.select(F.col("a").alias("doc_id"))
        .unionAll(e.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    tcnt = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tri"))
    )
    joined = deg.join(tcnt, "doc_id", "left").select(
        "doc_id",
        "degree",
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
    )
    return joined.select(
        "doc_id",
        "degree",
        "n_tri",
        F.when(F.col("degree") < 2, F.lit(None).cast("double"))
        .otherwise(
            F.lit(2.0)
            * F.col("n_tri")
            / (F.col("degree") * (F.col("degree") - 1))
        )
        .alias("coeff"),
    )


_W_SQL = "((src * 7 + dst * 13) % 97 + 1)"
_SSSP_ROUNDS = 4


@query(
    "graph_sssp_weighted",
    oracle=f"""
    {_GRAPH_SQL},
    we AS (SELECT src, dst, {_W_SQL} AS w FROM edges),
    d0 AS (SELECT (SELECT min(src) FROM we) AS node, CAST(0 AS BIGINT) AS dist),
    d1 AS (SELECT node, min(dist) AS dist FROM (
        SELECT * FROM d0
        UNION ALL SELECT e.dst, d.dist + e.w FROM d0 d JOIN we e ON e.src = d.node
    ) GROUP BY node),
    d2 AS (SELECT node, min(dist) AS dist FROM (
        SELECT * FROM d1
        UNION ALL SELECT e.dst, d.dist + e.w FROM d1 d JOIN we e ON e.src = d.node
    ) GROUP BY node),
    d3 AS (SELECT node, min(dist) AS dist FROM (
        SELECT * FROM d2
        UNION ALL SELECT e.dst, d.dist + e.w FROM d2 d JOIN we e ON e.src = d.node
    ) GROUP BY node),
    d4 AS (SELECT node, min(dist) AS dist FROM (
        SELECT * FROM d3
        UNION ALL SELECT e.dst, d.dist + e.w FROM d3 d JOIN we e ON e.src = d.node
    ) GROUP BY node)
    SELECT node, dist FROM d4
    """,
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths, {_SSSP_ROUNDS} Bellman-Ford
    relaxation rounds from the lowest node id, with deterministic integer
    edge weights. The per-round merge is MIN (idempotent, commutative,
    associative) over exact BIGINT path lengths — the third iterative
    merge discipline in the graph family beside PageRank's fixed-point
    SUM and BFS/CC's label MIN, and like them bit-identical under any
    partitioning, so the key carries a full value-hash oracle (the oracle
    unrolls the same {_SSSP_ROUNDS} relaxations).

    Scale: each round is one equi-join frontier-to-edges + one min
    aggregate (Pregel-as-joins); lineage truncated per round; the driver
    holds nothing."""
    edges = _edges(spark, sf_dir)
    w = (F.col("src") * 7 + F.col("dst") * 13) % 97 + 1
    we = edges.select("src", "dst", w.cast("long").alias("w")).localCheckpoint(
        eager=False
    )
    dist = we.agg(F.min("src").alias("node")).select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    for _ in range(_SSSP_ROUNDS):
        cand = dist.join(we, dist.node == we.src).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        dist = (
            dist.unionAll(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


_KCORE_K = 2
_KCORE_ROUNDS = 4


def _kcore_round_sql(i: int) -> str:
    return f"""
    k{i + 1} AS (
        SELECT src AS node FROM e{i} GROUP BY src
        HAVING count(*) >= {_KCORE_K}
    ),
    e{i + 1} AS (
        SELECT e.src, e.dst FROM e{i} e
        JOIN k{i + 1} a ON a.node = e.src
        JOIN k{i + 1} b ON b.node = e.dst
    )"""


@query(
    "graph_kcore",
    oracle=f"""
    {_GRAPH_SQL},
    e0 AS (SELECT src, dst FROM edges),
    {",".join(_kcore_round_sql(i) for i in range(_KCORE_ROUNDS))}
    SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
    FROM e{_KCORE_ROUNDS} GROUP BY src
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_K}-core peeling, {_KCORE_ROUNDS} rounds: repeatedly drop
    nodes whose degree fell below {_KCORE_K} and the edges touching them
    — the monotone-DELETION iterative discipline (a shrinking edge set
    each round), complementing the graph family's sum (PageRank), label
    min (BFS/CC), and path min (SSSP) merges. Every round is exact
    integer degree counting, so the surviving core and its degrees are
    bit-deterministic; the oracle unrolls the same rounds.

    Scale: each round is one degree aggregate + two semi-join
    restrictions on the (shrinking) edge list; lineage truncated per
    round; at a fixpoint earlier than round {_KCORE_ROUNDS} the later
    rounds are no-ops by construction."""
    # r11: A/B-tested the graph_pagerank discipline here (src-partitioned
    # persist chain, broadcast semi-joins, exchange-free degree aggs) —
    # warm it is NOT faster (3.6 vs 3.3 s: the per-round degree exchange
    # is thin and AQE-coalesced, and the discipline's eager final
    # materialization costs a job), so the lazy-checkpoint chain stays.
    edges = _edges(spark, sf_dir).localCheckpoint(eager=False)
    e = edges
    for _ in range(_KCORE_ROUNDS):
        keep = (
            e.groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select(F.col("src").alias("node"))
        )
        e = (
            e.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(
                keep.withColumnRenamed("node", "dst"), "dst", "left_semi"
            )
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
    return e.groupBy("src").agg(
        F.count("*").cast("long").alias("core_deg")
    ).withColumnRenamed("src", "node")


@query(
    "graph_link_predict",
    oracle=(
        _jaccard_pairs_sql()
        + """
    , bidir AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT a AS node, count(*) AS n FROM bidir GROUP BY a),
    wedge AS (
        SELECT x.a AS u, y.b AS v, count(*) AS n_common
        FROM bidir x JOIN bidir y ON x.b = y.a AND x.a < y.b
        GROUP BY x.a, y.b
    ),
    cand AS (
        SELECT u, v, n_common FROM wedge
        WHERE NOT EXISTS (
            SELECT 1 FROM pairs p WHERE p.doc_a = wedge.u AND p.doc_b = wedge.v
        )
    )
    SELECT c.u AS doc_a, c.v AS doc_b,
           CAST(c.n_common AS BIGINT) AS n_common,
           round(CAST(c.n_common AS DOUBLE)
                 / (du.n + dv.n - c.n_common), 6) AS neighbor_jaccard
    FROM cand c
    JOIN deg du ON du.node = c.u
    JOIN deg dv ON dv.node = c.v
    """
    ),
)
def graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the near-dup graph by common-neighbor Jaccard:
    unconnected node pairs at distance 2, scored by
    |N(u) ∩ N(v)| / |N(u) ∪ N(v)| — the classic similarity-completion
    signal ("these two docs share most of their near-dups but were never
    paired — the blocking probably missed them"), i.e. a RECALL auditor
    for the pair-generation stage.

    Shape at scale: common neighbors come from the wedge equi-join
    (x.b = y.a) — work is sum of squared degrees, never all-pairs; the
    existing-edge exclusion is a left-anti join; degrees broadcast back.
    All counts integer, the one division at the projection boundary."""
    pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    bidir = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).unionAll(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
    deg = bidir.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("n")
    )
    x = bidir.select(F.col("a").alias("u"), F.col("b").alias("mid"))
    y = bidir.select(F.col("a").alias("mid2"), F.col("b").alias("v"))
    wedge = (
        x.join(y, (F.col("mid") == F.col("mid2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_common"))
    )
    cand = wedge.join(
        pairs,
        (wedge.u == pairs.doc_a) & (wedge.v == pairs.doc_b),
        "left_anti",
    )
    du = deg.select(F.col("node").alias("u"), F.col("n").alias("nu"))
    dv = deg.select(F.col("node").alias("v"), F.col("n").alias("nv"))
    return (
        cand.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.col("u").alias("doc_a"),
            F.col("v").alias("doc_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("nu") + F.col("nv") - F.col("n_common")),
                6,
            ).alias("neighbor_jaccard"),
        )
    )


@query(
    "graph_wcc",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT o.o_custkey * 2 AS c_node, l.l_suppkey * 2 + 1 AS s_node
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey = s.s_nationkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ),
    bidir AS (
        SELECT c_node AS a, s_node AS b FROM pairs
        UNION ALL
        SELECT s_node, c_node FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM bidir),
    reach AS (
        SELECT a, b FROM bidir
        UNION
        SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
    ),
    lab AS (
        SELECT n.node, least(n.node, min(r.b)) AS component
        FROM nodes n JOIN reach r ON r.a = n.node
        GROUP BY n.node
    )
    SELECT component,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_customers,
           CAST(sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_suppliers
    FROM lab
    GROUP BY component
    """,
)
def graph_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly connected components over the REPEAT-TRADE graph: an edge
    per (customer, supplier) pair that traded on >= 2 line items AND
    shares a nation. Components come from
    operators.components.connected_components; the answer is the
    per-component census (n_nodes / n_customers / n_suppliers),
    all-integer and therefore bit-deterministic under any partitioning.

    Component ids are the min node id in each component. The nation
    blocking is what makes the recursive-CTE oracle tractable: components
    cannot span nations, so the closure's quadratic blowup is bounded by
    the largest within-nation trading cluster (Σ block², never n²) — the
    same bound argument the blocked dedup family relies on."""
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = io.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = io.load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy(
            (F.col("o_custkey") * 2).alias("c_node"),
            (F.col("l_suppkey") * 2 + 1).alias("s_node"),
        )
        .count()
        .filter(F.col("count") >= 2)
        .select("c_node", "s_node")
        .localCheckpoint()
    )
    nodes = (
        pairs.select(F.col("c_node").alias("node"))
        .unionAll(pairs.select("s_node"))
        .distinct()
    )
    labels = connected_components(pairs, nodes)
    return labels.groupBy("component").agg(
        F.count("*").alias("n_nodes"),
        F.sum((F.col("node") % 2 == 0).cast("bigint")).alias("n_customers"),
        F.sum((F.col("node") % 2 == 1).cast("bigint")).alias("n_suppliers"),
    )
