"""Round-3 analytics batch:

- ``win_ntile`` — keyed NTILE quantile buckets (train/val split assignment
  inside each partition key; global NTILE would be a single-partition
  sort, so the scalable form partitions by a key first).
- ``sketch_countmin`` — deterministic count-min sketch matrix: d=4 md5
  hash rows × w=64 buckets of user_id frequencies. Counters are built by
  an ordinary groupBy, so map-side partial aggregation IS the sketch
  merge — the mergeability that makes CMS the 100 TB heavy-hitter
  primitive. Construction is exact and engine-neutral (only estimates
  derived from the matrix are approximate), so it value-hash-verifies.
- ``win_running_distinct`` — running COUNT(DISTINCT) per user over time.
  The naive window (collect_set over unbounded preceding) holds the
  whole distinct set per row in state; the scale-correct form marks each
  (user, event_type)'s FIRST occurrence with row_number()=1, then running-
  sums the 0/1 flag — constant state per row, two keyed windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

_NT = 4


@query(
    "win_ntile",
    oracle=f"""
    SELECT o_orderpriority,
           q,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM (
        SELECT o_orderpriority, o_totalprice,
               ntile({_NT}) OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey
               ) AS q
        FROM orders
    )
    GROUP BY o_orderpriority, q
    """,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quantile buckets within each priority key (deterministic via
    the o_orderkey tiebreak), reduced to per-bucket stats. Partitioned by
    a key — the shape that scales; a global NTILE is a single-partition
    sort and is intentionally not offered."""
    orders = io.load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(_NT).over(w).alias("q"),
        )
        .groupBy("o_orderpriority", "q")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


_CMS_D = 4
_CMS_W = 64


@query(
    "sketch_countmin",
    oracle=f"""
    SELECT d,
           CAST(('0x' || substring(md5(d || '|' || CAST(user_id AS VARCHAR)), 1, 15))
                AS BIGINT) % {_CMS_W} AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d)
    GROUP BY 1, 2
    """,
)
def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over user_id event frequencies: {_CMS_D} md5-family
    hash rows x {_CMS_W} buckets. One explode to (d, bucket) then a plain
    groupBy count — partial aggregation merges partial sketches map-side,
    which is exactly how the sketch scales (add matrices, never rows)."""
    ev = io.load_table(spark, sf_dir, "events")
    rows = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit(str(d) + "|"),
                                    F.col("user_id").cast("string"),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % _CMS_W
                ).alias("bucket"),
            )
            for d in range(_CMS_D)
        ]
    )
    return (
        ev.select(F.explode(rows).alias("r"))
        .select(F.col("r.d").alias("d"), F.col("r.bucket").alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("n"))
    )


@query(
    "win_running_distinct",
    oracle="""
    SELECT event_id, user_id,
           CAST(sum(is_first) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS distinct_types_so_far
    FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN row_number() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) = 1 THEN 1 ELSE 0 END AS is_first
        FROM events
    )
    """,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct event-type count per user: first-occurrence flag
    (row_number()=1 over (user, type)) + running sum of the flag. Constant
    per-row state and two keyed shuffles — vs the naive collect_set window
    whose per-row state grows with the distinct count."""
    ev = io.load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("is_first"),
        )
        .select(
            "event_id",
            "user_id",
            F.sum("is_first").over(w_run).alias("distinct_types_so_far"),
        )
    )


@query(
    "win_drawdown",
    oracle="""
    SELECT event_id, user_id,
           round(peak, 6) AS peak,
           round((peak - CAST(value AS DOUBLE)) / nullif(peak, 0.0), 6) AS drawdown
    FROM (
        SELECT event_id, user_id, CAST(value AS DOUBLE) AS value,
               max(CAST(value AS DOUBLE)) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS peak
        FROM events
    )
    """,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-maximum drawdown per user: the running-extrema window
    pattern (peak-so-far, then relative drop from peak) behind alerting
    and financial drawdown metrics. Keyed cumulative window — constant
    state (one max), one shuffle."""
    # value cast to double up front: on a FLOAT column Spark's round(x, 6)
    # stays float32 (a near-no-op at 6dp) while the oracle rounds a DOUBLE
    ev = io.load_table(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("double")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.round(peak, 6).alias("peak"),
        F.round((peak - F.col("value")) / F.nullif(peak, F.lit(0.0)), 6).alias(
            "drawdown"
        ),
    )


@query(
    "ts_cross_correlation",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, event_type,
               sum(value) AS v
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY 1, 2
    ),
    joined AS (
        SELECT a.v AS x, b.v AS y
        FROM hourly a JOIN hourly b
          ON b.h = a.h + INTERVAL 1 HOUR
         AND a.event_type = 'click' AND b.event_type = 'purchase'
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / nullif(sqrt(count(*) * sum(x * x) - sum(x) * sum(x))
                          * sqrt(count(*) * sum(y * y) - sum(y) * sum(y)), 0.0), 6)
               + 0.0 AS lag1_corr
    FROM joined
    """,
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two event streams: does click
    volume in hour h predict purchase volume in hour h+1? Hourly rollup,
    self-equi-join at the shifted hour, Pearson r from the five mergeable
    sums (the agg_regression formulation — identical IEEE expression both
    engines). Two tiny shuffles on (hour, type) then one scalar out."""
    ev = io.load_table(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
        )
        .agg(F.sum("value").alias("v"))
    )
    a = hourly.filter(F.col("event_type") == "click").select(
        F.col("h").alias("ha"), F.col("v").alias("x")
    )
    b = hourly.filter(F.col("event_type") == "purchase").select(
        F.col("h").alias("hb"), F.col("v").alias("y")
    )
    joined = a.join(
        b, F.col("hb") == F.col("ha") + F.expr("INTERVAL 1 HOUR")
    )
    n = F.count("*")
    sx, sy = F.sum("x"), F.sum("y")
    sxx, syy, sxy = (
        F.sum(F.col("x") * F.col("x")),
        F.sum(F.col("y") * F.col("y")),
        F.sum(F.col("x") * F.col("y")),
    )
    corr = (n * sxy - sx * sy) / F.nullif(
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy), F.lit(0.0)
    )
    return joined.agg(
        n.cast("long").alias("n"), (F.round(corr, 6) + F.lit(0.0)).alias("lag1_corr")
    )


@query(
    "ts_cusum",
    oracle="""
    WITH params AS (SELECT avg(value) AS mu FROM events),
    c AS (
        SELECT event_id, user_id,
               sum(value - p.mu) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cusum
        FROM events, params p
    )
    SELECT user_id,
           round(max_abs, 6) AS max_abs_cusum,
           event_id AS peak_event
    FROM (
        SELECT user_id, event_id,
               max(abs(cusum)) OVER (PARTITION BY user_id) AS max_abs,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY round(abs(cusum), 9) DESC, event_id
               ) AS rn
        FROM c
    )
    WHERE rn = 1
    """,
)
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per user: running sum of deviations
    from the global mean; the |cusum| peak marks the most likely level
    shift. Global mean is a one-row scalar (collected like a boundary
    plan); the cumulative window is keyed by user. Peak event chosen with
    a deterministic (deviation desc, event_id) tiebreak, deviations
    rounded to 9dp before comparison so float noise cannot flip the
    argmax between engines.

    The global mean is carried in-plan as a broadcast one-row aggregate
    (crossJoin(broadcast(agg)), the dq_drift_psi pattern) rather than a
    driver-side collect — one job, no driver round-trip."""
    ev = io.load_table(spark, sf_dir, "events")
    mu = ev.agg(F.avg("value").alias("mu"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = F.sum(F.col("value") - F.col("mu")).over(w)
    tie = F.struct(
        (-F.round(F.abs(F.col("cusum")), 9)).alias("neg"), F.col("event_id")
    )
    return (
        ev.select("event_id", "user_id", "ts", "value")
        .crossJoin(F.broadcast(mu))
        .select("event_id", "user_id", cusum.alias("cusum"))
        .groupBy("user_id")
        .agg(
            F.round(F.max(F.abs("cusum")), 6).alias("max_abs_cusum"),
            F.min_by("event_id", tie).alias("peak_event"),
        )
    )


@query(
    "agg_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(CAST(value AS DOUBLE), 0.5) AS m
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           round(max(m.m), 6) AS median_value,
           round(quantile_cont(abs(CAST(e.value AS DOUBLE) - m.m), 0.5), 6) AS mad
    FROM events e JOIN med m ON e.event_type = m.event_type
    GROUP BY e.event_type
    """,
)
def agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust spread metric
    (unlike stddev, one wild outlier cannot move it). Two-pass: exact
    interpolated group medians (tiny result, broadcast back), then the
    median of absolute deviations. Both engines use the same linear
    interpolation (parity established by agg_percentile_exact)."""
    ev = io.load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("m")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("m"), 6).alias("median_value"),
            F.round(
                F.expr("percentile(abs(value - m), 0.5)"), 6
            ).alias("mad"),
        )
    )


@query(
    "agg_gini",
    oracle="""
    WITH tok AS (
        SELECT lang, source, CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
        FROM documents
    ),
    per_source AS (
        SELECT lang, source, sum(n_tok) AS x FROM tok GROUP BY lang, source
    ),
    ranked AS (
        SELECT lang, x,
               row_number() OVER (PARTITION BY lang ORDER BY x, source) AS i,
               count(*) OVER (PARTITION BY lang) AS n,
               sum(x) OVER (PARTITION BY lang) AS tot
        FROM per_source
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_sources,
           round(2.0 * sum(i * x) / (max(n) * max(tot)) - (max(n) + 1.0) / max(n), 6)
               AS gini
    FROM ranked
    GROUP BY lang
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass Gini coefficient per language over sources — the
    corpus-concentration audit (gini -> 1 means a few domains dominate
    the training mix; the signal behind domain-cap decisions). Computed
    from the sorted-rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n
    with a deterministic (mass, source) rank tiebreak; keyed windows over
    the per-source aggregate (|sources| rows, not corpus-scale)."""
    docs = io.load_table(spark, sf_dir, "documents")
    per_source = (
        docs.select(
            "lang",
            "source",
            F.size(F.split("text", " ")).cast("double").alias("n_tok"),
        )
        .groupBy("lang", "source")
        .agg(F.sum("n_tok").alias("x"))
    )
    w_rank = Window.partitionBy("lang").orderBy("x", "source")
    w_all = Window.partitionBy("lang")
    ranked = per_source.select(
        "lang",
        "x",
        F.row_number().over(w_rank).alias("i"),
        F.count("*").over(w_all).alias("n"),
        F.sum("x").over(w_all).alias("tot"),
    )
    return ranked.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_sources"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.max("n") * F.max("tot"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )


_SLOPE_WIN = 20


@query(
    "win_rolling_slope",
    oracle=f"""
    SELECT event_id, user_id,
           CASE WHEN n >= 5 AND n * sxx - sx * sx <> 0
                THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
           END AS slope
    FROM (
        SELECT event_id, user_id,
               count(*) OVER w AS n,
               sum(x) OVER w AS sx, sum(value) OVER w AS sy,
               sum(x * x) OVER w AS sxx, sum(x * value) OVER w AS sxy
        FROM (
            SELECT event_id, user_id, value, ts,
                   CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ) AS DOUBLE) AS x
            FROM events
        )
        WINDOW w AS (
            PARTITION BY user_id
            ORDER BY CAST(ts AS TIMESTAMP), event_id
            ROWS BETWEEN {_SLOPE_WIN - 1} PRECEDING AND CURRENT ROW
        )
    )
    """,
)
def win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS trend slope per user over the trailing {_SLOPE_WIN}
    events (x = event rank, y = value): the windowed form of
    agg_regression's five-sums formulation — the trend detector behind
    'is this metric drifting up' alerts. Warmup (<5 points) and
    degenerate-variance windows emit NULL. Keyed windows only."""
    ev = io.load_table(spark, sf_dir, "events")
    w_rank = Window.partitionBy("user_id").orderBy("ts", "event_id")
    based = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.row_number().over(w_rank).cast("double").alias("x"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_SLOPE_WIN - 1), Window.currentRow)
    )
    n = F.count("*").over(w)
    sx = F.sum("x").over(w)
    sy = F.sum("value").over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    sxy = F.sum(F.col("x") * F.col("value")).over(w)
    denom = n * sxx - sx * sx
    slope = F.when(
        (n >= 5) & (denom != 0),
        F.round((n * sxy - sx * sy) / denom, 6) + F.lit(0.0),
    )
    return based.select("event_id", "user_id", slope.alias("slope"))


@query(
    "sketch_hist_quantile",
    oracle="""
    WITH cents AS (
        -- NULL guard: a NULL price would land in a NULL bucket, and the
        -- cumsum window orders NULLS FIRST in Spark but LAST in DuckDB
        SELECT o_orderkey % 4 AS shard,
               CAST(floor(round(o_totalprice, 2) * 100 + 0.5) AS BIGINT) AS c
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    shard_hist AS (
        SELECT shard, c // 100000 AS bucket, count(*) AS n
        FROM cents GROUP BY 1, 2
    ),
    hist AS (
        SELECT bucket, sum(n) AS cnt FROM shard_hist GROUP BY bucket
    ),
    cum AS (
        SELECT bucket, cnt,
               sum(cnt) OVER (ORDER BY bucket) AS cum,
               sum(cnt) OVER (ORDER BY bucket) - cnt AS cumb
        FROM hist
    ),
    tot AS (SELECT sum(cnt) AS n_total FROM hist),
    qs AS (SELECT * FROM (VALUES (50), (90), (99)) v(pct)),
    ranked AS (
        SELECT qs.pct, (qs.pct * t.n_total + 99) // 100 AS rank
        FROM qs, tot t
    ),
    hit AS (
        SELECT r.pct, r.rank, min(c.bucket) AS bucket
        FROM ranked r JOIN cum c ON c.cum >= r.rank
        GROUP BY r.pct, r.rank
    )
    SELECT h.pct,
           CAST(h.rank AS BIGINT) AS rank,
           CAST(c.bucket * 100000 + (100000 * (h.rank - c.cumb)) / c.cnt
                AS DOUBLE) / 100.0 AS est
    FROM hit h JOIN cum c ON c.bucket = h.bucket
    """,
)
def sketch_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch via fixed-width histogram (the HDR/
    t-digest role, deterministic): per-shard bucket counts MERGE by plain
    addition (proven structurally — the merged histogram is built from
    explicit per-shard partials), then p50/p90/p99 come from the
    cumulative histogram with linear interpolation inside the hit bucket.
    Ranks use the pure-integer ceil form (pct*N + 99) DIV 100 — a float
    0.9*N would round ABOVE exact integer boundaries and shift the rank
    by one vs DECIMAL engines.

    Scale: this is how percentiles are computed at 100 TB — exact
    percentile needs a global sort, the histogram needs one groupBy whose
    key space is the (constant) bucket count; the cumulative window runs
    over |buckets| rows, not the corpus; partials merge across shards,
    days, and clusters."""
    orders = io.load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    cents = orders.select(
        (F.col("o_orderkey") % 4).alias("shard"),
        half_up(F.round("o_totalprice", 2), 2).alias("c"),
    )
    shard_hist = (
        cents.select("shard", F.expr("c DIV 100000").alias("bucket"))
        .groupBy("shard", "bucket")
        .agg(F.count("*").alias("n"))
    )
    hist = shard_hist.groupBy("bucket").agg(F.sum("n").alias("cnt"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cumb"),
    )
    tot = hist.agg(F.sum("cnt").alias("n_total"))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in (50, 90, 99)])).alias("pct")
    )
    ranked = qs.crossJoin(F.broadcast(tot)).select(
        "pct", F.expr("(pct * n_total + 99) DIV 100").alias("rank")
    )
    # 3-row ranks x |buckets| histogram: the >= probe is a tiny BNLJ by
    # construction (both sides constant-bounded)
    hit = (
        ranked.join(F.broadcast(cum), F.col("cum") >= F.col("rank"))
        .groupBy("pct", "rank")
        .agg(F.min("bucket").alias("bucket"))
    )
    est = (
        F.col("bucket") * 100000
        + (100000 * (F.col("rank") - F.col("cumb"))) / F.col("cnt")
    ).cast("double") / F.lit(100.0)
    return (
        hit.join(F.broadcast(cum.select("bucket", "cnt", "cumb")), "bucket")
        .select(
            "pct",
            F.col("rank").cast("long").alias("rank"),
            est.alias("est"),
        )
    )
