"""Observability: the reference's debug counters (ref #22,
fetchRumors.js:90,122,136,181,212 — totalMerged / totalAfterDedup /
returning) re-expressed as stage-cardinality queries, plus an
``observe()``-instrumented variant whose metrics flow through Spark's
listener bus (the production path — zero extra jobs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark.registry import query


def _stages(spark: SparkSession, sf_dir: str):
    """The flagship pipeline's three counted stages (shared builder in
    queries/flagship.py — one source of truth)."""
    from hh_rumors_presto_spark.queries.flagship import flagship_stages

    s = flagship_stages(spark, sf_dir)
    return s["admitted"], s["deduped"], s["windowed"]


@query(
    "debug_counters",
    oracle=r"""
    WITH parsed AS (
        SELECT doc_id AS pos,
               trim(regexp_replace(coalesce(substring(text, 1, 30), ''), '\s+', ' ', 'g')) AS title,
               DATE '2024-01-01' + CAST(doc_id % 60 AS INT) AS date,
               'https://' || source || '.example.com/item' AS url
        FROM documents
    ),
    merged AS (SELECT * FROM parsed WHERE length(title) >= 15),
    deduped AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY CAST(date AS VARCHAR) || '::' || substring(title, 1, 120) || '::' || url
                ORDER BY date DESC, pos) AS rn
            FROM merged)
        WHERE rn = 1
    )
    SELECT 'totalMerged' AS stage, count(*) AS n FROM merged
    UNION ALL
    SELECT 'totalAfterDedup', count(*) FROM deduped
    UNION ALL
    SELECT 'returning', greatest(least(count(*) - 1, 8), 0) FROM deduped
    """,
)
def debug_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline cardinality counters as a tiny result table — the
    reference's debug=1 introspection (its only EXPLAIN ANALYZE)."""
    merged, deduped, returning = _stages(spark, sf_dir)
    rows = [
        merged.agg(
            F.lit("totalMerged").alias("stage"), F.count("*").alias("n")
        ),
        deduped.agg(
            F.lit("totalAfterDedup").alias("stage"), F.count("*").alias("n")
        ),
        returning.agg(
            F.lit("returning").alias("stage"), F.count("*").alias("n")
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def observed_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-path variant: ``df.observe`` attaches named count
    metrics to the plan itself; they are published on the listener bus after
    the action with no extra jobs. Exercised in tests/test_operators.py."""
    merged, deduped, returning = _stages(spark, sf_dir)
    return returning.observe("returning_stage", F.count(F.lit(1)).alias("n"))


from hh_rumors_presto_spark import io  # noqa: E402
from hh_rumors_presto_spark.functions.exact import dec, half_up  # noqa: E402


@query(
    "dq_drift_psi",
    oracle="""
    WITH params AS (
        SELECT quantile_cont(epoch_us(CAST(ts AS TIMESTAMP)), 0.5) AS split_us,
               min(value) AS vmin, max(value) AS vmax
        FROM events
    ),
    binned AS (
        SELECT least(9, CAST(floor((value - p.vmin) / (p.vmax - p.vmin) * 10) AS INT)) AS bin,
               CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < p.split_us THEN 'a' ELSE 'b' END AS period
        FROM events, params p
    ),
    counts AS (
        SELECT bin,
               count(*) FILTER (period = 'a') AS ca,
               count(*) FILTER (period = 'b') AS cb
        FROM binned GROUP BY bin
    ),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM counts)
    SELECT bin,
           round((ca + 1.0) / (na + 10.0), 6) AS pa,
           round((cb + 1.0) / (nb + 10.0), 6) AS pb,
           round(((ca + 1.0) / (na + 10.0) - (cb + 1.0) / (nb + 10.0))
                 * ln(((ca + 1.0) / (na + 10.0)) / ((cb + 1.0) / (nb + 10.0))), 6) AS psi_contrib
    FROM counts, tot
    """,
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of the
    event stream (split at the median timestamp): 10 equal-width value
    bins, +1 Laplace smoothing, per-bin (p_a - p_b) * ln(p_a / p_b)
    contributions — sum >= 0.2 is the classic retrain/investigate alarm.

    Scale shape: the three boundary scalars (median ts, min/max value)
    come from one aggregate row collected driver-side (same footprint as
    RangePartitioner's sampling); the PSI itself is a single groupBy over
    literal-bucketed rows with map-side partial aggregation."""
    ev = io.load_table(spark, sf_dir, "events")
    [p] = ev.agg(
        F.expr("percentile(unix_micros(ts), 0.5)").alias("split_us"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    ).collect()
    if p.vmin is None:
        # no events: the boundary scalars are NULL and the driver-side
        # bin arithmetic below would TypeError; the oracle's cross join
        # against the empty stream yields no bins (r9 empty-table audit)
        return spark.createDataFrame(
            [], "bin int, pa double, pb double, psi_contrib double"
        )
    bin_col = F.least(
        F.lit(9),
        F.floor((F.col("value") - p.vmin) / (p.vmax - p.vmin) * 10).cast("int"),
    )
    # Compare against the unmodified fractional median (the oracle's
    # percentile() is a DOUBLE): truncating with int() would shift events at
    # exactly floor(median) µs into the wrong period when the two middle
    # timestamps are 1µs apart.
    period = (
        F.when(F.unix_micros("ts") < F.lit(float(p.split_us)), "a")
        .otherwise("b")
    )
    counts = (
        ev.select(bin_col.alias("bin"), period.alias("period"))
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("period") == "a", 1)).alias("ca"),
            F.count(F.when(F.col("period") == "b", 1)).alias("cb"),
        )
    )
    tot = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    pa = (F.col("ca") + 1.0) / (F.col("na") + 10.0)
    pb = (F.col("cb") + 1.0) / (F.col("nb") + 10.0)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.round(pa, 6).alias("pa"),
            F.round(pb, 6).alias("pb"),
            F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_contrib"),
        )
    )


@query(
    "dq_impute",
    oracle="""
    WITH tagged AS (
        SELECT event_id, user_id, value,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        FROM events
    ),
    user_mean AS (
        SELECT user_id, avg(v) AS u_mean FROM tagged GROUP BY user_id
    ),
    global_mean AS (SELECT avg(v) AS g_mean FROM tagged)
    SELECT t.event_id,
           round(coalesce(t.v, u.u_mean, g.g_mean), 6) AS value_imputed,
           t.v IS NULL AS was_imputed
    FROM tagged t
    LEFT JOIN user_mean u ON t.user_id = u.user_id
    CROSS JOIN global_mean g
    """,
)
def dq_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation with global fallback: 'error' events'
    values are treated as missing, filled from the per-user mean of
    observed values, falling back to the global mean for users with no
    observations. Shape: one keyed aggregate joined back (user means are
    ~|users| rows) + a one-row global broadcast — no window, no second
    scan of the fact table per fallback level."""
    ev = io.load_table(spark, sf_dir, "events")
    tagged = ev.select(
        "event_id",
        "user_id",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    user_mean = tagged.groupBy("user_id").agg(F.avg("v").alias("u_mean"))
    global_mean = tagged.agg(F.avg("v").alias("g_mean"))
    return (
        tagged.join(user_mean, "user_id", "left")
        .crossJoin(F.broadcast(global_mean))
        .select(
            "event_id",
            F.round(
                F.coalesce(F.col("v"), F.col("u_mean"), F.col("g_mean")), 6
            ).alias("value_imputed"),
            F.col("v").isNull().alias("was_imputed"),
        )
    )


@query(
    "dq_benford",
    oracle="""
    WITH digits AS (
        SELECT CAST(substring(regexp_extract(
                   CAST(CAST(floor(round(o_totalprice, 2) * 100 + 0.5) AS BIGINT) AS VARCHAR),
                   '[1-9]'), 1, 1) AS INT) AS d
        FROM orders WHERE o_totalprice > 0
    ),
    counts AS (SELECT d, count(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT sum(n) AS total FROM counts)
    SELECT d,
           CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE) / total, 6) AS observed_p,
           round(ln(1.0 + 1.0 / d) / ln(10.0), 6) AS benford_p,
           round(CAST(n AS DOUBLE) / total - ln(1.0 + 1.0 / d) / ln(10.0), 6)
               + 0.0 AS deviation
    FROM counts, tot
    """,
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals: observed leading-digit
    frequencies vs log10(1 + 1/d) — the classic fabricated/synthetic-data
    smell test. The leading digit is taken from the INTEGER cent string
    (cast double->string formats differently per engine; integer strings
    are identical), so extraction is engine-neutral. One tiny aggregate +
    a one-row total broadcast."""
    orders = io.load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    cents = half_up(F.round(F.col("o_totalprice"), 2), 2)
    digit = F.substring(
        F.regexp_extract(
            cents.cast("bigint").cast("string"), r"[1-9]", 0
        ),
        1,
        1,
    ).cast("int")
    counts = orders.select(digit.alias("d")).groupBy("d").agg(
        F.count("*").alias("n")
    )
    tot = counts.agg(F.sum("n").alias("total"))
    benford = F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0))
    p = F.col("n").cast("double") / F.col("total")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "d",
            F.col("n").cast("long").alias("n"),
            F.round(p, 6).alias("observed_p"),
            F.round(benford, 6).alias("benford_p"),
            (F.round(p - benford, 6) + F.lit(0.0)).alias("deviation"),
        )
    )


@query(
    "dq_reconciliation",
    oracle="""
    WITH lsum AS (
        SELECT l_orderkey,
               sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS line_total
        FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
        SELECT o.o_orderstatus,
               CAST(o.o_totalprice AS DECIMAL(28,10)) AS header_total,
               ls.line_total
        FROM orders o LEFT JOIN lsum ls ON ls.l_orderkey = o.o_orderkey
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN line_total IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_no_lines,
           CAST(sum(CASE WHEN line_total IS NOT NULL
                         AND abs(header_total - line_total) * 20 <= line_total
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_5pct,
           CAST(round(sum(CASE WHEN line_total IS NOT NULL
                               THEN abs(header_total - line_total)
                               ELSE CAST(0 AS DECIMAL(28,10)) END), 2)
                AS DOUBLE) AS total_abs_gap
    FROM j GROUP BY o_orderstatus
    """,
)
def dq_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation audit: every order's header total
    checked against the sum of its line items — per status, how many
    orders have no lines at all (referential gap), how many reconcile
    within 5% (the tolerance compare is exact DECIMAL, |gap|*20 <= sum —
    no float thresholds), and the total absolute money gap. The standard
    month-end close / pipeline-handoff audit between a header table and
    its detail table.

    Scale: one keyed detail aggregation + one header-spine join (both on
    the natural orderkey), then a tiny status rollup — the detail table
    is touched once."""
    li = io.load_table(spark, sf_dir, "lineitem")
    orders = io.load_table(spark, sf_dir, "orders")
    lsum = li.groupBy("l_orderkey").agg(
        F.sum(dec(F.col("l_extendedprice"), 10)).alias("line_total")
    )
    j = orders.join(
        lsum, orders.o_orderkey == lsum.l_orderkey, "left"
    ).select(
        "o_orderstatus",
        dec(F.col("o_totalprice"), 10).alias("header_total"),
        "line_total",
    )
    gap = F.abs(F.col("header_total") - F.col("line_total"))
    return j.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.when(F.col("line_total").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_no_lines"),
        F.sum(
            F.when(
                F.col("line_total").isNotNull()
                & (gap * 20 <= F.col("line_total")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_within_5pct"),
        F.round(
            F.sum(
                F.when(F.col("line_total").isNotNull(), gap).otherwise(
                    dec(F.lit(0), 10)
                )
            ),
            2,
        )
        .cast("double")
        .alias("total_abs_gap"),
    )


_FRESH_SLA_MIN = 120  # staleness budget per feed, minutes


@query(
    "dq_freshness",
    oracle=f"""
    WITH e AS (
        SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    per_feed AS (
        SELECT event_type, max(ts) AS last_ts FROM e GROUP BY event_type
    ),
    ref AS (SELECT max(ts) AS global_max FROM e)
    SELECT p.event_type, p.last_ts,
           CAST(floor(CAST(epoch_us(r.global_max) - epoch_us(p.last_ts)
                           AS DOUBLE) / 60000000.0) AS BIGINT) AS lag_minutes,
           (epoch_us(r.global_max) - epoch_us(p.last_ts)
            > {_FRESH_SLA_MIN * 60000000}) AS sla_breach
    FROM per_feed p, ref r
    """,
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-freshness SLA audit: every feed's (event_type's) last event
    time, its staleness against the newest event anywhere, and whether it
    breaches the staleness budget — the first page of any pipeline
    health dashboard, and the gate a training-data ingest checks before
    admitting a source's latest partition.

    Shape at scale: one keyed max aggregate (map-side combined) + a
    ONE-ROW global-max broadcast; staleness in exact integer
    microseconds, so the floor-divide to minutes and the breach compare
    are bit-deterministic."""
    ev = io.load_table(spark, sf_dir, "events").select("event_type", "ts")
    per_feed = ev.groupBy("event_type").agg(F.max("ts").alias("last_ts"))
    ref = ev.agg(F.max("ts").alias("global_max"))
    lag_us = F.unix_micros("global_max") - F.unix_micros("last_ts")
    return (
        per_feed.crossJoin(F.broadcast(ref))
        .select(
            "event_type",
            "last_ts",
            F.floor(lag_us.cast("double") / 60000000.0)
            .cast("bigint")
            .alias("lag_minutes"),
            (lag_us > _FRESH_SLA_MIN * 60000000).alias("sla_breach"),
        )
    )


@query(
    "dq_join_skew",
    oracle="""
    WITH k AS (
        SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY o_custkey
    ),
    stats AS (
        SELECT count(*) AS n_keys,
               sum(n) AS n_rows,
               max(n) AS max_n,
               CAST(sum(n) AS DOUBLE) / count(*) AS mean_n,
               quantile_cont(n, 0.99) AS p99_n
        FROM k
    ),
    topk AS (
        SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rn FROM k
    )
    SELECT CAST(s.n_keys AS BIGINT) AS n_keys,
           CAST(s.n_rows AS BIGINT) AS n_rows,
           CAST(s.max_n AS BIGINT) AS max_n,
           round(s.max_n / s.mean_n, 6) AS skew_ratio,
           round(s.p99_n, 6) AS p99_n,
           CAST((SELECT key FROM topk WHERE rn = 1) AS BIGINT) AS hottest_key
    FROM stats s
    """,
)
def dq_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostic for a join key: per-key frequencies ->
    key count, max/mean hot-key ratio, p99 frequency, and the hottest
    key itself — the numbers that decide BEFORE a big join whether to
    salt, broadcast, or let AQE's skew-join handle it (the decision
    input for join_salted). One keyed count + a constant-size stats
    aggregate; the hottest key via partial top-1, no global sort."""
    k = (
        io.load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count("*").alias("n"))
    )
    stats = k.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        (F.sum("n").cast("double") / F.count("*")).alias("mean_n"),
        F.expr("percentile(n, 0.99)").alias("p99_n"),
    )
    hottest = (
        k.orderBy(F.col("n").desc(), "key")
        .limit(1)
        .select(F.col("key").alias("hottest_key"))
    )
    return (
        stats.crossJoin(F.broadcast(hottest))
        .select(
            F.col("n_keys").cast("bigint").alias("n_keys"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("max_n").cast("bigint").alias("max_n"),
            F.round(F.col("max_n") / F.col("mean_n"), 6).alias("skew_ratio"),
            F.round("p99_n", 6).alias("p99_n"),
            F.col("hottest_key").cast("bigint").alias("hottest_key"),
        )
    )


@query(
    "dq_embedding_drift",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               vec_id % 2 AS half
        FROM embeddings
    ),
    lng AS (
        -- dim bound derived from the actual array length (fixture
        -- regeneration with a different dimensionality stays correct);
        -- values quantized to exact BIGINT micro-units so the centroid
        -- sums are reduction-order-free
        SELECT label, half, i AS dim,
               CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS val_q
        FROM e, unnest(generate_series(1, len(v))) AS r(i)
    ),
    cent AS (
        SELECT label, half, dim,
               CAST(sum(val_q) AS DOUBLE) / count(*) AS mu_q
        FROM lng GROUP BY label, half, dim
    ),
    shift AS (
        SELECT a.label,
               sum((a.mu_q - b.mu_q) * (a.mu_q - b.mu_q)) AS d2_q,
               count(*) AS n_dims
        FROM cent a JOIN cent b
          ON b.label = a.label AND b.dim = a.dim
         AND a.half = 0 AND b.half = 1
        GROUP BY a.label
    )
    SELECT label, round(sqrt(d2_q) / 1000000.0, 6) AS centroid_shift,
           CAST(n_dims AS INT) AS n_dims
    FROM shift
    """,
)
def dq_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per label, the L2 distance between the
    centroid of one half of the corpus and the other (split by a stable
    hash of the id) — the embedding-space analog of dq_drift_psi, and the
    alarm that fires when an upstream encoder silently changes. Per-dim
    means are a keyed aggregate (label x half x 64 rows out, map-side
    combined); the two halves join on (label, dim) — centroid-sized, not
    corpus-sized. Fixture halves are same-distribution, so the shift is
    the sampling-noise floor; a real drift dwarfs it."""
    e = io.load_table(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # fixed-point quantization (micro-units) makes the centroid sums exact
    # BIGINTs — no reduction-order drift (the emb_pca_power discipline)
    lng = e.select(
        "label", "half", F.posexplode("v").alias("pos", "val")
    ).select(
        "label",
        "half",
        (F.col("pos") + 1).alias("dim"),
        half_up(F.col("val"), 6).alias("val_q"),
    )
    cent = lng.groupBy("label", "half", "dim").agg(
        (F.sum("val_q").cast("double") / F.count("*")).alias("mu_q")
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "dim", F.col("mu_q").alias("mu_a")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "dim", F.col("mu_q").alias("mu_b")
    )
    return (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("mu_a") - F.col("mu_b"))
                        * (F.col("mu_a") - F.col("mu_b"))
                    )
                )
                / 1000000.0,
                6,
            ).alias("centroid_shift"),
            F.count("*").cast("int").alias("n_dims"),
        )
    )
