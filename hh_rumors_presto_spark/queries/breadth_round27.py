"""Round-27 breadth batch: Adamic–Adar link prediction, deterministic
global shuffle, and rolling correlation.

- ``graph_adamic_adar`` — link prediction on the bipartite order
  graph: customer pairs scored by Σ 1/ln(deg(s)) over SHARED suppliers
  (Adamic–Adar 2003, the standard common-neighbor weight that
  discounts promiscuous hubs), supplier-blocked so pair mass is
  Σ deg², never customers².
- ``pipeline_global_shuffle`` — the reproducible training-order
  assignment: md5-ranked global permutation split into shards with
  within-shard positions — dataloader order as a pure function of the
  key, stable across reruns and partitionings.
- ``win_rolling_corr`` — trailing-7-day correlation between the view
  and purchase daily series from exact integer window moments — the
  metric-coupling monitor (decoupling often precedes an incident).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.queries.graph import _GRAPH_SQL, _edges
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# graph_adamic_adar
# --------------------------------------------------------------------------

_AA_TOP = 20


@query(
    "graph_adamic_adar",
    oracle=_GRAPH_SQL
    + f""",
    cs AS (SELECT src AS c, dst AS s FROM edges WHERE src % 2 = 0),
    sdeg AS (
        SELECT s, count(*) AS d,
               CAST(floor(1000000.0 / ln(count(*)) + 0.5) AS BIGINT)
                   AS w_micro
        FROM cs GROUP BY s HAVING count(*) >= 2
    ),
    cpairs AS (
        SELECT a.c AS cust_a, b.c AS cust_b,
               sum(sd.w_micro) AS aa_micro, count(*) AS n_shared
        FROM cs a
        JOIN cs b ON a.s = b.s AND a.c < b.c
        JOIN sdeg sd ON sd.s = a.s
        GROUP BY a.c, b.c
    )
    SELECT cust_a, cust_b, CAST(n_shared AS BIGINT) AS n_shared,
           CAST(aa_micro AS BIGINT) AS aa_micro,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (
                   ORDER BY aa_micro DESC, cust_a, cust_b) AS rnk
        FROM cpairs
    )
    WHERE rnk <= {_AA_TOP}
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the bipartite order graph:
    customer pairs are scored by Σ 1/ln(deg(s)) across their SHARED
    suppliers — the common-neighbor weight that discounts hub
    suppliers everyone buys from. Each supplier's weight is rounded
    once to integer micro units (floor(1e6/ln d + 0.5)), so pair
    scores are order-free exact BIGINT sums and the top-{_AA_TOP}
    ranking is deterministic.

    Scale: pairs form ONLY inside a supplier's customer list (the
    equi-join on s — pair mass Σ deg², the item-CF bound), the weight
    table is supplier-sized and broadcastable, and the final top-k is
    a rank over the pair table. Hub suppliers are the skew risk —
    exactly the rows AA down-weights; a degree cap handles the
    pathological head as in dedup_ngram_jaccard."""
    # r11 took the s-keyed self-join from 122 s (single-task AQE
    # collapse) to 25-35 s with an explicit repartition — but the
    # 82,940,816-row pair explosion and its pair-space hash aggregate
    # were still the whole cost.  r12 OPTIMIZATION (guide §4.2,
    # operators/pairblocks.py): the pair sums are now block GEMMs
    # inside per-(block-pair) Arrow workers — items are customers,
    # the "vocabulary" is the 1000-supplier side, and one stacked
    # matmul yields Σ w_micro and the shared count together.  Both are
    # exact integers < 2^53, so float64 sums are exact under any BLAS
    # order, and per-worker top-k under the final total order
    # (aa DESC, cust_a, cust_b) is globally exact because each
    # unordered pair meets in exactly one worker.  The pair-mass
    # exchange and 83M-group aggregate disappear from the plan: the
    # one exchange carries 15k thin array rows.
    from hh_rumors_presto_spark.operators.pairblocks import (
        blocked_pairs,
        weighted_topk_fn,
    )

    cs = (
        _edges(spark, sf_dir)
        .filter(F.col("src") % 2 == 0)
        .select(F.col("src").alias("c"), F.col("dst").alias("s"))
        .localCheckpoint()
    )
    sdeg = (
        cs.groupBy("s")
        .agg(F.count("*").alias("d"))
        .filter(F.col("d") >= 2)
        .select(
            "s",
            F.floor(1000000.0 / F.log(F.col("d").cast("double")) + 0.5)
            .cast("long")
            .alias("w_micro"),
        )
    )
    # suppliers with d == 1 drop out of the items' arrays here (inner
    # join): they cannot be SHARED by two customers, so no pair row
    # ever involved them — same pair table as the old inner join chain.
    sw = F.sort_array(F.collect_list(F.struct("s", "w_micro")))
    items = (
        cs.join(F.broadcast(sdeg), "s")
        .groupBy(F.col("c").alias("id"))
        .agg(sw.alias("_sw"))
        .select(
            "id",
            F.transform("_sw", lambda x: x["s"]).alias("vids"),
            F.transform("_sw", lambda x: x["w_micro"]).alias("ws"),
        )
    )
    pairs = blocked_pairs(
        items,
        weighted_topk_fn(_AA_TOP),
        "id_a long, id_b long, aa_micro long, n_shared long",
        io.table_num_rows(sf_dir, "customer"),
    )
    w = Window.orderBy(F.col("aa_micro").desc(), "id_a", "id_b")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _AA_TOP)
        .select(
            F.col("id_a").alias("cust_a"),
            F.col("id_b").alias("cust_b"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("aa_micro").cast("long").alias("aa_micro"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# pipeline_global_shuffle
# --------------------------------------------------------------------------

_GS_SHARDS = 8


@query(
    "pipeline_global_shuffle",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS hv
        FROM documents
    )
    SELECT doc_id,
           CAST(hv % {_GS_SHARDS} AS BIGINT) AS shard,
           CAST(row_number() OVER (
                    PARTITION BY hv % {_GS_SHARDS}
                    ORDER BY hv, doc_id)
                AS BIGINT) AS pos
    FROM h
    """,
)
def pipeline_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global training-data shuffle: every document gets
    an md5 rank; shard = hash mod {_GS_SHARDS}, position = rank order
    within the shard. The resulting order is a pure function of the
    keys — identical across reruns, partitionings, and engines — which
    is what makes a training run replayable (and resumable mid-epoch:
    (shard, pos) IS the cursor). A seeded df.sample/orderBy(rand)
    cannot give that guarantee.

    Scale: the hash is a narrow map; the only shuffle is the per-shard
    rank window, keyed by shard (≈ n/{_GS_SHARDS} rows per partition,
    tunable by shard count) — no global sort, no single partition."""
    h = io.load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("hv"),
    )
    w = Window.partitionBy(F.col("hv") % _GS_SHARDS).orderBy(
        "hv", "doc_id"
    )
    return h.select(
        "doc_id",
        (F.col("hv") % _GS_SHARDS).cast("long").alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


# --------------------------------------------------------------------------
# win_rolling_corr
# --------------------------------------------------------------------------

_RC_WINDOW = 7


@query(
    "win_rolling_corr",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               sum(CASE WHEN event_type = 'view'
                   THEN CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                             AS BIGINT) ELSE 0 END) AS x,
               sum(CASE WHEN event_type = 'purchase'
                   THEN CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                             AS BIGINT) ELSE 0 END) AS y
        FROM events WHERE value IS NOT NULL
        GROUP BY CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    m AS (
        SELECT day,
               count(*) OVER w AS n,
               sum(x) OVER w AS sx, sum(y) OVER w AS sy,
               sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
               sum(x * y) OVER w AS sxy
        FROM daily
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN {_RC_WINDOW - 1} PRECEDING
                              AND CURRENT ROW)
    )
    SELECT day, CAST(n AS BIGINT) AS n_window,
           CASE WHEN n >= 3
                 AND n * sxx > sx * sx AND n * syy > sy * sy
                THEN round((CAST(n AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sy)
                           / sqrt((CAST(n AS DOUBLE) * sxx
                                   - CAST(sx AS DOUBLE) * sx)
                                  * (CAST(n AS DOUBLE) * syy
                                     - CAST(sy AS DOUBLE) * sy)), 6)
                END AS corr
    FROM m
    """,
)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{_RC_WINDOW}-day Pearson correlation between the view
    and purchase daily totals — the metric-coupling monitor (two
    metrics that normally move together decoupling is a classic
    incident precursor, and rolling correlation is also the pairs-
    trading primitive). All six window moments are EXACT integer sums
    over the frame; the correlation is a fixed float formula on them,
    NULL while the window is short or degenerate.

    Scale: the fact collapses to one daily (x, y) row first; the
    rolling frame runs over the calendar-sized series (per metric-pair
    key at fleet scale). No fact-sized window."""
    daily = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "view",
                    half_up(F.col("value"), 2),
                ).otherwise(F.lit(0))
            ).alias("x"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    half_up(F.col("value"), 2),
                ).otherwise(F.lit(0))
            ).alias("y"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-(_RC_WINDOW - 1), 0)
    m = daily.select(
        "day",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    dx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    dy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return m.select(
        "day",
        F.col("n").cast("long").alias("n_window"),
        F.when(
            (F.col("n") >= 3)
            & (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
            & (F.col("n") * F.col("syy") > F.col("sy") * F.col("sy")),
            F.round(num / F.sqrt(dx * dy), 6),
        ).alias("corr"),
    )
