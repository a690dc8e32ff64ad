"""Round-5 breadth batch:

- ``json_variant`` — Spark 4 VARIANT ingestion (``parse_json`` +
  ``variant_get``): the binary semi-structured path that replaces
  string-walking ``get_json_object`` at scale (parse once, typed access).
- ``try_fns`` — error-tolerant scalar family (``try_divide``,
  ``try_cast``, ``try_element_at``): malformed rows degrade to NULL
  instead of failing the job — the tolerance contract a 100 TB ingest
  needs (one bad row must not kill a 10k-task stage).
- ``win_rolling_median`` — exact interpolated median over a trailing
  10-row keyed window: the robust smoother for noisy per-user metrics
  (median resists outliers that wreck a rolling mean).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions import cosine_sql
from hh_rumors_presto_spark.operators.cosblocks import block_topk_fn
from hh_rumors_presto_spark.registry import query


@query(
    "json_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(json_extract_string(props, '$.k') AS INT) % 7 = 0 AS k_div7
    FROM events
    """,
)
def json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT-typed semi-structured access: parse the props JSON once
    into Spark 4's binary VARIANT encoding, then typed ``variant_get``
    extraction. vs json_extract (string get_json_object): the parse
    happens once per row, downstream accesses are O(1) binary reads —
    the right shape when many fields are read from one payload."""
    ev = io.load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    return ev.select(
        "event_id",
        k.alias("k"),
        (k % 7 == 0).alias("k_div7"),
    )


@query(
    "try_fns",
    oracle="""
    SELECT event_id,
           CAST(value AS DOUBLE) / nullif(user_id % 5, 0) AS safe_ratio,
           TRY_CAST(event_type AS INT) AS bad_int,
           string_split(event_type, '_')[3] AS third_part
    FROM events
    """,
)
def try_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant scalars: division by zero, an unparseable cast, and
    an out-of-bounds array index all produce NULL rather than a task
    failure. At scale this is the difference between one NULL cell and a
    dead 10k-task stage (ANSI mode's hard-fail is the alternative)."""
    ev = io.load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.try_divide(F.col("value"), F.col("user_id") % 5).alias("safe_ratio"),
        F.col("event_type").cast("string").try_cast("int").alias("bad_int"),
        F.try_element_at(F.split(F.col("event_type"), "_"), F.lit(3)).alias(
            "third_part"
        ),
    )


@query(
    "win_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           round(quantile_cont(CAST(value AS DOUBLE), 0.5) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
           ), 6) AS med10
    FROM events
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 10-row exact interpolated median per user — the
    outlier-robust rolling smoother. Keyed window partitioning (by
    user_id) keeps state bounded and parallel; both engines use linear
    interpolation, so the result value-hash-verifies after 6dp rounding."""
    ev = io.load_table(spark, sf_dir, "events")
    med = F.expr(
        "percentile(value, 0.5) OVER ("
        "PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)"
    )
    return ev.select(
        "event_id", "user_id", F.round(med, 6).alias("med10")
    )


_KNN_K = 3
_COS_AB = cosine_sql("a.embedding", "b.embedding")


@query(
    "emb_knn_graph",
    oracle=f"""
    SELECT vec_a, vec_b, cos_sim
    FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_COS_AB} AS cos_sim,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_COS_AB} DESC,
                            b.vec_id
               ) AS rn
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    WHERE rn <= {_KNN_K}
    """,
)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction (k={_KNN_K}) over embeddings, blocked by
    label (the IVF-bucket stand-in): candidate pairs form only within a
    block, per-node top-k by cosine. The edge list this emits is the
    input to graph-based near-dup clustering and kNN-graph ANN indexes
    (NN-descent seeds). Cost is sum(block^2), never n^2.

    Pairs are born and reduced inside a per-label worker
    (operators/cosblocks.py ``block_topk_fn``, shared with the ANN
    path): one (label) shuffle of n thin rows and no pair-sized
    exchange. Null labels never join on equality, so they are filtered
    out. This is the QUADRATIC exact key; its scale route is
    emb_knn_graph_ann."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("label").isNotNull())
        .select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(
            block_topk_fn(_KNN_K),
            "vec_a long, vec_b long, cos_sim double",
        )
    )


_ZWIN = 20


@query(
    "win_anomaly_zscore",
    oracle=f"""
    SELECT event_id, user_id, round(z, 4) + 0.0 AS z, is_anomaly
    FROM (
        SELECT event_id, user_id,
               CASE WHEN n >= 5 AND sd > 0 THEN (value - mu) / sd ELSE NULL END AS z,
               coalesce(n >= 5 AND sd > 0 AND abs((value - mu) / sd) > 3.0, false) AS is_anomaly
        FROM (
            SELECT event_id, user_id, value,
                   count(*) OVER w AS n,
                   sum(value) OVER w / count(*) OVER w AS mu,
                   sqrt(greatest(
                       (sum(value * value) OVER w
                        - (sum(value) OVER w) * (sum(value) OVER w) / count(*) OVER w)
                       / nullif(count(*) OVER w - 1, 0), 0.0)) AS sd
            FROM events
            WINDOW w AS (
                PARTITION BY user_id
                ORDER BY CAST(ts AS TIMESTAMP), event_id
                ROWS BETWEEN {_ZWIN - 1} PRECEDING AND CURRENT ROW
            )
        )
    )
    """,
)
def win_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection per user: trailing-{_ZWIN} mean
    and sample std from windowed sums (sum, sum-of-squares, count — the
    same three accumulators a streaming monitor keeps), flag |z| > 3.
    Warmup rows (n < 5) and zero-variance windows emit NULL z / false.
    Identical sum-based formulation in both engines -> exact parity after
    4dp rounding; keyed window, constant state, one shuffle."""
    from pyspark.sql import Window

    ev = io.load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-(_ZWIN - 1), Window.currentRow)
    )
    n = F.count("*").over(w)
    s1 = F.sum("value").over(w)
    s2 = F.sum(F.col("value") * F.col("value")).over(w)
    mu = s1 / n
    sd = F.sqrt(
        F.greatest(
            (s2 - s1 * s1 / n) / F.nullif(n - 1, F.lit(0)), F.lit(0.0)
        )
    )
    z = F.when((n >= 5) & (sd > 0), (F.col("value") - mu) / sd)
    return ev.select(
        "event_id",
        "user_id",
        (F.round(z, 4) + F.lit(0.0)).alias("z"),
        F.coalesce(
            (n >= 5) & (sd > 0) & (F.abs((F.col("value") - mu) / sd) > 3.0),
            F.lit(False),
        ).alias("is_anomaly"),
    )


@query(
    "agg_regression",
    oracle="""
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0), 6) + 0.0 AS slope,
           round((sy - ((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0)) * sx) / n, 6)
               + 0.0 AS intercept
    FROM (
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS n,
               sum(CAST(user_id % 100 AS DOUBLE)) AS sx,
               sum(value) AS sy,
               sum(CAST(user_id % 100 AS DOUBLE) * CAST(user_id % 100 AS DOUBLE)) AS sxx,
               sum(CAST(user_id % 100 AS DOUBLE) * value) AS sxy
        FROM events
        GROUP BY event_type
    )
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS per group (y = value on x = user_id%100 cohort):
    slope/intercept from the five streaming sums (n, Σx, Σy, Σx², Σxy) —
    the map-side-mergeable formulation (regr_slope's internals) rather
    than the builtin, so both engines compute the identical IEEE
    expression and the result value-hash-verifies. One hash aggregate,
    partial-merged; no second pass."""
    ev = io.load_table(spark, sf_dir, "events")
    x = (F.col("user_id") % 100).cast("double")
    sums = ev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum("value").alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * F.col("value")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    return sums.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
        (F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
        ) + F.lit(0.0)).alias(
            "intercept"
        ),
    )


@query(
    "text_entropy",
    oracle="""
    SELECT doc_id,
           round(-sum(p * ln(p)) + 0.0, 6) AS token_entropy,
           CAST(count(*) AS BIGINT) AS n_distinct
    FROM (
        SELECT doc_id, CAST(cnt AS DOUBLE) / n AS p
        FROM (
            SELECT doc_id, tok, count(*) AS cnt,
                   sum(count(*)) OVER (PARTITION BY doc_id) AS n
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents
            )
            GROUP BY doc_id, tok
        )
    )
    GROUP BY doc_id
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document — low entropy flags
    repetitive/boilerplate text the way text_repetition does, but as a
    single scalar signal usable in quality-rank mixes. Shape: explode ->
    (doc, token) counts -> per-doc window for totals -> entropy fold; two
    keyed shuffles, map-side partials on the first."""
    docs = io.load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    counts = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    n = F.sum("cnt").over(Window.partitionBy("doc_id"))
    p = F.col("cnt").cast("double") / n
    return (
        counts.select("doc_id", p.alias("p"))
        .groupBy("doc_id")
        .agg(
            # + 0.0 folds IEEE negative zero (all-same-token doc:
            # -sum(1*ln 1) = -0.0) to +0.0 in BOTH engines — they
            # disagree on the sign of zero after round(), which the
            # value-hash sees as "-0" vs "0" (found by tools/fuzz_verify)
            F.round(
                -F.sum(F.col("p") * F.log("p")) + F.lit(0.0), 6
            ).alias("token_entropy"),
            F.count("*").alias("n_distinct"),
        )
    )


_LM_FLOOR = 1e-6  # OOV probability floor


@query(
    "text_lm_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
        SELECT tok, CAST(count(*) AS DOUBLE) AS cnt FROM tok GROUP BY tok
    ),
    total AS (SELECT sum(cnt) AS n FROM vocab)
    SELECT t.doc_id,
           round(avg(ln(coalesce(v.cnt, 0.0) / tot.n + {_LM_FLOOR})), 6)
               AS avg_logp,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM tok t
    LEFT JOIN vocab v ON t.tok = v.tok
    CROSS JOIN total tot
    GROUP BY t.doc_id
    """,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: corpus unigram probabilities +
    per-document average token log-prob (the KenLM-perplexity proxy used
    as a pretraining quality filter — low avg_logp = rare-token gibberish).
    Shape: one vocab aggregate (map-side partials), probabilities joined
    back to the token stream (vocab is |V|-sized -> broadcast at this
    scale; co-partitioned join at web scale), per-doc fold. The corpus
    total is a one-row broadcast."""
    docs = io.load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count("*").cast("double").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    logp = F.log(
        F.coalesce(F.col("cnt"), F.lit(0.0)) / F.col("n") + _LM_FLOOR
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(logp), 6).alias("avg_logp"),
            F.count("*").alias("n_tokens"),
        )
    )


@query(
    "agg_weighted_median",
    oracle="""
    SELECT event_type,
           min(value) FILTER (cum >= half) AS weighted_median,
           CAST(max(total) AS BIGINT) AS total_weight
    FROM (
        SELECT event_type, value,
               sum(w) OVER (
                   PARTITION BY event_type ORDER BY value, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum,
               sum(w) OVER (PARTITION BY event_type) AS total,
               CAST(sum(w) OVER (PARTITION BY event_type) AS DOUBLE) / 2 AS half
        FROM (
            SELECT event_id, event_type, value,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS w
            FROM events
        )
    )
    GROUP BY event_type
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group (weight = the props.k payload): order by
    value with a cumulative-weight window, take the first value whose
    cumulative weight reaches half the total. Integer weights keep the
    cumulative sums exact; ties broken by event_id so the survivor is
    deterministic. Keyed windows only — no global sort, no collect."""
    from pyspark.sql import Window

    ev = io.load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("bigint").alias("w"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = F.sum("w").over(w_cum)
    total = F.sum("w").over(w_all)
    return (
        ev.select(
            "event_type",
            "value",
            cum.alias("cum"),
            total.alias("total"),
            (total.cast("double") / 2).alias("half"),
        )
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("cum") >= F.col("half"), F.col("value"))).alias(
                "weighted_median"
            ),
            F.max("total").cast("long").alias("total_weight"),
        )
    )


_WALK_SQL = """
    WITH RECURSIVE pairs AS (
        SELECT DISTINCT o.o_custkey * 2 AS c_node, l.l_suppkey * 2 + 1 AS s_node
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT c_node AS src, s_node AS dst FROM pairs
        UNION ALL
        SELECT s_node, c_node FROM pairs
    ),
    walk(node, lvl) AS (
        SELECT src, 0 FROM (SELECT DISTINCT src FROM edges) s
        WHERE src % 2 = 0 AND src <= 10
        UNION ALL
        SELECT e.dst, w.lvl + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.lvl < 2
    )
    SELECT lvl,
           CAST(count(*) AS BIGINT) AS n_paths,
           CAST(count(DISTINCT node) AS BIGINT) AS n_nodes
    FROM walk
    GROUP BY lvl
"""


@query("sql_recursive_paths", oracle=_WALK_SQL)
def sql_recursive_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 recursive CTE (WITH RECURSIVE ... UNION ALL): level-bounded
    walk over the bipartite order graph from the seed customers, counting
    paths and distinct reachable nodes per level. The recursion is
    depth-guarded (lvl < 2), so UNION ALL terminates — Spark does not yet
    support UNION (distinct) in the recursive branch, which is why the
    unbounded transitive closure lives in dedup_clusters' driver loop
    instead. Identical SQL text runs on both engines."""
    io.register_views(spark, sf_dir)
    return spark.sql(_WALK_SQL)


@query(
    "agg_grouping_id",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
               AS gid,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING flags: gid disambiguates a real 'ALL' value
    from a rollup subtotal row — the standard way BI layers consume
    multi-level aggregates without string sentinels colliding with data.
    grouping_id() is computed engine-side from the grouping-set bitmask;
    both engines define it identically (left column = high bit)."""
    orders = io.load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n",
        )
    )


@query(
    "sql_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_open,
           CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_filled,
           CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_partial
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def sql_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL PIVOT clause (vs agg_pivot's DataFrame .pivot()): explicit
    IN-list means Catalyst knows the output schema statically — no
    distinct-values pre-scan, one aggregation pass. The oracle states the
    same thing as conditional aggregation (what PIVOT desugars to)."""
    io.register_views(spark, sf_dir)
    return spark.sql("""
        SELECT o_orderpriority, n_open, n_filled, n_partial
        FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
        PIVOT (
            count(*) FOR o_orderstatus IN ('O' AS n_open, 'F' AS n_filled, 'P' AS n_partial)
        )
    """)


@query(
    "sql_unpivot",
    oracle="""
    SELECT c_custkey, metric, val
    FROM (
        SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val
        FROM customer WHERE c_custkey % 100 = 0
        UNION ALL
        SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE)
        FROM customer WHERE c_custkey % 100 = 0
    )
    """,
)
def sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL UNPIVOT clause (vs unpivot_stack's DataFrame melt): wide
    columns to (metric, value) rows in one pass, no join, no explode —
    what UNPIVOT desugars to is exactly the oracle's UNION ALL."""
    io.register_views(spark, sf_dir)
    return spark.sql("""
        SELECT c_custkey, metric, val
        FROM (
            SELECT c_custkey, c_acctbal AS acctbal,
                   CAST(c_nationkey AS DOUBLE) AS nationkey
            FROM customer WHERE c_custkey % 100 = 0
        )
        UNPIVOT (val FOR metric IN (acctbal, nationkey))
    """)
