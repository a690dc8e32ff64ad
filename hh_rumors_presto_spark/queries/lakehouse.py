"""Lakehouse-pattern operators without a table format: SCD2 merge emulated
with anti-join + union + window (the v1-image answer to MERGE INTO — Delta/
Iceberg jars are not available, so the pattern is expressed in plain
DataFrame ops), and wide->long unpivot."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec
from hh_rumors_presto_spark.registry import ORACLES, query


@query(
    "scd2_merge",
    oracle="""
    WITH updates AS (
        SELECT c_custkey, new_bal, update_date
        FROM (
            SELECT o_custkey AS c_custkey, o_totalprice AS new_bal,
                   max(CAST(o_orderdate AS DATE))
                       OVER (PARTITION BY o_custkey) AS update_date,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC
                   ) AS rn
            FROM orders
        )
        WHERE rn = 1
    ),
    closed AS (
        SELECT c.c_custkey, c.c_acctbal AS bal,
               DATE '1990-01-01' AS valid_from,
               u.update_date AS valid_to
        FROM customer c JOIN updates u ON c.c_custkey = u.c_custkey
    ),
    opened AS (
        SELECT c_custkey, new_bal AS bal, update_date AS valid_from,
               CAST(NULL AS DATE) AS valid_to
        FROM updates
    ),
    untouched AS (
        SELECT c.c_custkey, c.c_acctbal AS bal,
               DATE '1990-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
    )
    SELECT * FROM closed
    UNION ALL SELECT * FROM opened
    UNION ALL SELECT * FROM untouched
    """,
)
def scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge: apply per-customer updates (latest order total as
    the new balance) to the customer dimension — close the old version at
    the update date, open a new current version, pass untouched rows
    through. MERGE INTO semantics from anti-join + union; each branch is a
    single keyed join so the whole merge is two shuffles of the dimension.
    """
    cust = io.load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("bal")
    )
    orders = io.load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    updates = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max_by("o_totalprice", F.struct(od, F.col("o_orderkey"))).alias(
            "new_bal"
        ),
        F.max(od).alias("update_date"),
    )
    epoch = F.lit("1990-01-01").cast("date")
    null_date = F.lit(None).cast("date")
    closed = cust.join(updates, "c_custkey").select(
        "c_custkey",
        "bal",
        epoch.alias("valid_from"),
        F.col("update_date").alias("valid_to"),
    )
    opened = updates.select(
        "c_custkey",
        F.col("new_bal").alias("bal"),
        F.col("update_date").alias("valid_from"),
        null_date.alias("valid_to"),
    )
    untouched = cust.join(updates, "c_custkey", "left_anti").select(
        "c_custkey",
        "bal",
        epoch.alias("valid_from"),
        null_date.alias("valid_to"),
    )
    return closed.unionAll(opened).unionAll(untouched)


@query(
    "unpivot_stack",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value
    FROM lineitem WHERE l_orderkey % 50 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
    FROM lineitem WHERE l_orderkey % 50 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long) via native melt/unpivot — the inverse of
    agg_pivot; no shuffle at all, pure row expansion."""
    li = io.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 50 == 0
    )
    return li.melt(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="value",
    ).withColumn(
        "metric",
        F.when(F.col("metric") == "l_quantity", "quantity")
        .when(F.col("metric") == "l_extendedprice", "price")
        .otherwise("discount"),
    )


# --- round-2 additions: CDC compaction, snapshot diff, partial-agg merge ---


@query(
    "cdc_compact",
    oracle="""
    WITH log AS (
        SELECT user_id,
               CAST(ts AS TIMESTAMP) AS ts,
               event_id,
               CASE WHEN event_type = 'purchase' THEN 'delete'
                    ELSE 'upsert' END AS op,
               value
        FROM events
    ),
    latest AS (
        SELECT user_id, op, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM log
    )
    SELECT user_id, value AS last_value
    FROM latest
    WHERE rn = 1 AND op = 'upsert'
    """,
)
def cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (CDC latest-wins): the events stream is read as
    a change log keyed by user_id — latest record per key wins by
    (ts, event_id), and keys whose final op is a delete ('purchase' stands
    in for the delete marker) vanish from the snapshot. This is MERGE
    INTO's read-side materialization without a table format.

    Scale: one shuffle on the key + per-key window — the standard CDC
    compaction plan; at 100 TB the changelog is additionally partitioned
    by ingest date so compaction only touches recent partitions."""
    ev = io.load_table(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        "value",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        log.select("user_id", "op", "value", F.row_number().over(w).alias("rn"))
        .filter((F.col("rn") == 1) & (F.col("op") == "upsert"))
        .select("user_id", F.col("value").alias("last_value"))
    )


@query(
    "snapshot_diff",
    oracle="""
    WITH snap_a AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1997-07-01'
    ),
    snap_b AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END
                   AS o_orderstatus,
               o_totalprice
        FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
    )
    SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change
    FROM snap_a a FULL OUTER JOIN snap_b b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_orderstatus <> b.o_orderstatus
       OR a.o_totalprice <> b.o_totalprice
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: full-outer join two snapshots of the same table on
    the primary key and label rows added / removed / changed (the
    time-travel diff a table format gives you, expressed on plain scans;
    snapshot B perturbs status on a deterministic key slice to exercise
    the 'changed' branch).

    Scale: one co-partitioned full-outer join on the key; with bucketed
    snapshots this is exchange-free."""
    orders = io.load_table(spark, sf_dir, "orders")
    odate = F.col("o_orderdate").cast("date")
    snap_a = orders.filter(odate < F.lit("1997-07-01").cast("date")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap_b = orders.filter(odate < F.lit("1998-01-01").cast("date")).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    a = snap_a.alias("a")
    b = snap_b.alias("b")
    joined = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    return joined.filter(
        F.col("a.o_orderkey").isNull()
        | F.col("b.o_orderkey").isNull()
        | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus"))
        | (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
    ).select(
        F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        F.when(F.col("a.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("b.o_orderkey").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change"),
    )


@query(
    "agg_partial_merge",
    oracle="""
    WITH partials AS (
        SELECT o_orderstatus,
               o_orderkey % 4 AS shard,
               count(*) AS part_n,
               sum(CAST(o_totalprice AS DECIMAL(28,2))) AS part_sum,
               min(o_totalprice) AS part_min,
               max(o_totalprice) AS part_max
        FROM orders
        GROUP BY 1, 2
    )
    SELECT o_orderstatus,
           CAST(sum(part_n) AS BIGINT) AS n,
           CAST(sum(part_sum) AS DOUBLE) AS total,
           min(part_min) AS min_price,
           max(part_max) AS max_price
    FROM partials
    GROUP BY o_orderstatus
    """,
)
def agg_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-state demo: shard-level partial aggregates (count / decimal
    sum / min / max) merged into finals in a second aggregation — the
    pattern behind incremental rollups and cube refreshes, where shards
    arrive pre-aggregated and the combiner never re-reads raw data. Decimal
    partials make the two-level sum equal the direct sum exactly under any
    shard assignment."""
    orders = io.load_table(spark, sf_dir, "orders")
    partials = orders.groupBy(
        "o_orderstatus", (F.col("o_orderkey") % 4).alias("shard")
    ).agg(
        F.count("*").alias("part_n"),
        F.sum(dec(F.col("o_totalprice"), 2)).alias("part_sum"),
        F.min("o_totalprice").alias("part_min"),
        F.max("o_totalprice").alias("part_max"),
    )
    return partials.groupBy("o_orderstatus").agg(
        F.sum("part_n").cast("long").alias("n"),
        F.sum("part_sum").cast("double").alias("total"),
        F.min("part_min").alias("min_price"),
        F.max("part_max").alias("max_price"),
    )


@query(
    "ivm_join_delta",
    oracle="""
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(28,10))), 2)
                AS DOUBLE) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a join view: with orders and
    customers each split into (base, delta), the maintained aggregate is
    built from base⋈base PLUS the three delta terms Δo⋈c, o⋈Δc, Δo⋈Δc —
    never by re-joining the full inputs — and the partial states merge by
    addition (count + exact DECIMAL sum). The oracle recomputes the view
    from scratch, so the delta rule's correctness is the check itself.

    Scale: refresh cost is proportional to |Δ| (each delta term joins a
    delta side against one input), not to the accumulated base; this is
    the join analog of the rollup ladder's merge==recompute guarantee."""
    orders = io.load_table(spark, sf_dir, "orders")
    cust = io.load_table(spark, sf_dir, "customer")
    o_base = orders.filter(F.col("o_orderkey") % 5 != 0)
    o_delta = orders.filter(F.col("o_orderkey") % 5 == 0)
    c_base = cust.filter(F.col("c_custkey") % 10 != 0)
    c_delta = cust.filter(F.col("c_custkey") % 10 == 0)

    def part(o: DataFrame, c: DataFrame) -> DataFrame:
        return (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_nationkey")
            .agg(
                F.count("*").alias("n"),
                F.sum(dec(F.col("o_totalprice"), 10)).alias("tot"),
            )
        )

    partials = (
        part(o_base, c_base)
        .unionAll(part(o_delta, c_base))
        .unionAll(part(o_base, c_delta))
        .unionAll(part(o_delta, c_delta))
    )
    return (
        partials.groupBy("c_nationkey")
        .agg(F.sum("n").alias("n"), F.sum("tot").alias("tot"))
        .select(
            "c_nationkey",
            F.col("n").cast("long").alias("n_orders"),
            F.round("tot", 2).cast("double").alias("total"),
        )
    )


_SCD2_ASOF_DATE = "1997-06-01"


@query(
    "scd2_asof_lookup",
    oracle=f"""
    SELECT c_custkey, round(bal, 2) AS bal, valid_from
    FROM ({ORACLES["scd2_merge"]}) v
    WHERE valid_from <= DATE '{_SCD2_ASOF_DATE}'
      AND (valid_to IS NULL OR DATE '{_SCD2_ASOF_DATE}' < valid_to)
    """,
)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The READ side of SCD type-2: reconstruct the dimension AS OF a
    business date from the versioned table scd2_merge builds — the query
    every point-in-time report and every leakage-free ML backfill runs
    against a slowly-changing dimension. Version validity is the
    half-open [valid_from, valid_to) interval, NULL valid_to = current;
    exactly one version matches per key (asserted in tests). Composes
    the scd2_merge plan directly (Spark side calls it; the oracle embeds
    its SQL), so build and lookup can never drift apart.

    Shape at scale: the lookup is a narrow filter over the versioned
    dimension — with the table partitioned on valid_from date ranges it
    becomes partition pruning, no shuffle at all."""
    d = F.lit(_SCD2_ASOF_DATE).cast("date")
    versions = scd2_merge(spark, sf_dir)
    return versions.filter(
        (F.col("valid_from") <= d)
        & (F.col("valid_to").isNull() | (d < F.col("valid_to")))
    ).select("c_custkey", F.round("bal", 2).alias("bal"), "valid_from")


@query(
    "merge_upsert",
    oracle="""
    WITH src AS (
        SELECT CASE WHEN o_custkey % 10 = 0
                    THEN -o_custkey ELSE o_custkey END AS key,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 2)
                    AS DOUBLE) AS spend
        FROM orders
        GROUP BY 1
    ),
    merged AS (
        SELECT c.c_custkey AS tgt_key, c.c_name, c.c_acctbal,
               s.key AS src_key, s.n_orders, s.spend
        FROM customer c FULL OUTER JOIN src s ON c.c_custkey = s.key
    )
    SELECT coalesce(tgt_key, src_key) AS c_custkey,
           CASE WHEN tgt_key IS NULL THEN 'NEW#' || CAST(src_key AS VARCHAR)
                ELSE c_name END AS c_name,
           CASE WHEN tgt_key IS NULL THEN spend
                WHEN src_key IS NULL THEN c_acctbal
                ELSE CAST(CAST(c_acctbal AS DECIMAL(18,2))
                          + CAST(spend AS DECIMAL(18,2)) AS DOUBLE)
           END AS bal,
           CASE WHEN tgt_key IS NULL THEN 'insert'
                WHEN src_key IS NULL THEN 'keep'
                ELSE 'update' END AS op
    FROM merged
    WHERE NOT (tgt_key IS NOT NULL AND src_key IS NOT NULL
               AND n_orders >= 15)
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-clause MERGE INTO (the full Delta/Iceberg upsert contract —
    reference analog: the per-tag replace-or-append the scraper performs
    when re-crawling a page, fetchRumors.js:126-138) expressed as ONE
    full outer join:

      WHEN MATCHED AND src.n_orders >= 15 THEN DELETE
      WHEN MATCHED                        THEN UPDATE SET bal += spend
      WHEN NOT MATCHED                    THEN INSERT (key, 'NEW#key', spend)
      (NOT MATCHED BY SOURCE rows pass through unchanged, op='keep')

    The source is the per-customer order rollup with every 10th key
    negated out of the dimension's key space so all four branches are
    exercised (c_custkey is always positive, so the negative key space
    is collision-free at EVERY scale factor — an additive shift like
    +10M would silently collide once the customer table passes the
    shift, around sf 67). Balance arithmetic stays in DECIMAL(18,2) (exact add,
    then one cast to double) so Spark and DuckDB agree bit-for-bit.

    Shape at scale: unlike the three-branch scd2_merge (join + anti-join
    + union = two passes over the dimension), this is a SINGLE keyed
    full outer join — one shuffle of each side on the merge key, with
    update/delete/insert/keep resolved per-row by CASE. On a real table
    format the same plan drives file rewrites: the join output carries
    the op tag a writer needs to group rows into rewritten files."""
    cust = io.load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("tgt_key"), "c_name", "c_acctbal"
    )
    src = (
        io.load_table(spark, sf_dir, "orders")
        .groupBy(
            F.when(F.col("o_custkey") % 10 == 0, -F.col("o_custkey"))
            .otherwise(F.col("o_custkey"))
            .alias("key")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(F.sum(dec(F.col("o_totalprice"), 10)), 2)
            .cast("double")
            .alias("spend"),
        )
    )
    merged = cust.join(src, cust.tgt_key == src.key, "full_outer")
    tgt_null = F.col("tgt_key").isNull()
    src_null = F.col("key").isNull()
    return (
        merged.filter(
            ~(~tgt_null & ~src_null & (F.col("n_orders") >= 15))
        )
        .select(
            F.coalesce("tgt_key", "key").alias("c_custkey"),
            F.when(
                tgt_null, F.concat(F.lit("NEW#"), F.col("key").cast("string"))
            )
            .otherwise(F.col("c_name"))
            .alias("c_name"),
            F.when(tgt_null, F.col("spend"))
            .when(src_null, F.col("c_acctbal"))
            .otherwise(
                (
                    F.col("c_acctbal").cast("decimal(18,2)")
                    + F.col("spend").cast("decimal(18,2)")
                ).cast("double")
            )
            .alias("bal"),
            F.when(tgt_null, "insert")
            .when(src_null, "keep")
            .otherwise("update")
            .alias("op"),
        )
    )


@query(
    "ivm_retract_delta",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 2)
                AS DOUBLE) AS total
    FROM orders
    WHERE NOT (o_orderkey % 7 = 0)
       OR o_orderkey % 3 = 0
    GROUP BY o_orderstatus
    HAVING count(*) > 0
    """,
)
def ivm_retract_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance WITH RETRACTIONS (the DBSP /
    differential-dataflow discipline ivm_join_delta's insert-only rule
    cannot express): the maintained aggregate absorbs a delta batch
    containing BOTH inserts and deletes by folding each record with a
    signed multiplicity — +1 partials for inserts, -1 partials for
    deletes — and merging by addition. count and DECIMAL sum are abelian
    (every value has an inverse), so retraction is exact: no rescan of
    the base, and groups whose count reaches zero vanish via the HAVING
    guard, exactly as a from-scratch recompute would drop them.

    Scenario: the base view holds orders with o_orderkey % 7 != 0. The
    delta batch (1) INSERTS the {% 7 = 0 and % 3 = 0} keys and
    (2) RETRACTS the {% 5 = 0} slice of the base and then re-admits the
    same slice — a churn leg whose net effect must be EXACTLY zero, so
    any sign error, dropped retraction, or float drift in the inverse
    path breaks the perfect cancellation and flips the value hash. The
    oracle recomputes the final membership (NOT % 7 = 0, OR % 3 = 0)
    from scratch; the HAVING n > 0 guard proves zero-count groups
    vanish exactly as a recompute would drop them.

    Scale: refresh cost is O(|delta|) partials + a keyed merge into
    k group rows — the base is never rescanned; min/max (non-invertible)
    would need the multiset-reduction fallback, which is exactly why
    this key pins the invertible-aggregate contract explicitly."""
    orders = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.filter(F.col("o_orderkey") % 7 != 0)
    inserts = orders.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 3 == 0)
    )
    # retract a real slice of the base so the inverse path is exercised:
    # the delta deletes base rows with o_orderkey % 5 == 0 ... but the
    # oracle membership must match; instead delete-then-reinsert the same
    # slice so deletes are proven exact by perfect cancellation, ON TOP of
    # the genuine inserts.
    churn = base.filter(F.col("o_orderkey") % 5 == 0)

    def partials(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            (F.count("*") * sign).alias("dn"),
            (
                F.sum(dec(F.col("o_totalprice"), 10)) * sign
            ).alias("dtot"),
        )

    merged = (
        partials(base, 1)
        .unionAll(partials(inserts, 1))
        .unionAll(partials(churn, -1))  # retract the churn slice...
        .unionAll(partials(churn, 1))  # ...and re-admit it: exact inverse
        .groupBy("o_orderstatus")
        .agg(F.sum("dn").alias("n"), F.sum("dtot").alias("tot"))
        .filter(F.col("n") > 0)
    )
    return merged.select(
        "o_orderstatus",
        F.col("n").cast("long").alias("n_orders"),
        F.round("tot", 2).cast("double").alias("total"),
    )
