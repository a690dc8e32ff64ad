"""Round-35 breadth batch: bitmap audience algebra, cohort LTV
curves, and temperature-scaled corpus mixing.

- ``agg_bitmap_segments`` — the Druid/ClickHouse groupBitmap pattern:
  users packed into 63-bit words per behavioral segment, audience
  set algebra (AND/OR/NOT) done with bitwise aggregates, exact
  cardinalities via bit_count. Set intersection without a join — the
  bitmap-index operation every audience-overlap dashboard runs.
- ``agg_cohort_ltv`` — cumulative revenue-per-user curves by signup
  cohort (the LTV companion to cohort_retention's survival view):
  exact cent sums, keyed cumulative window over the cohort x age
  grid, one division per cell.
- ``corpus_temperature_mix`` — temperature-scaled multilingual
  sampling weights at T=2 (w ∝ p^(1/2), the mT5/XLM-R low-resource
  up-sampling rule): sqrt is an exactly-rounded IEEE op (unlike
  pow), micro-rounded once so the normalization is an exact BIGINT
  ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# agg_bitmap_segments
# --------------------------------------------------------------------------

_BM_BITS = 63  # stay out of the BIGINT sign bit


@query(
    "agg_bitmap_segments",
    oracle=f"""
    WITH pres AS (
        SELECT DISTINCT user_id // {_BM_BITS} AS word,
               user_id % {_BM_BITS} AS bit,
               event_type
        FROM events
        WHERE event_type IN ('purchase', 'view', 'error')
    ),
    words AS (
        SELECT word,
               bit_or(CASE WHEN event_type = 'purchase'
                      THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS p,
               bit_or(CASE WHEN event_type = 'view'
                      THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS v,
               bit_or(CASE WHEN event_type = 'error'
                      THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS e
        FROM pres GROUP BY word
    )
    SELECT CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(bit_count(p)) AS BIGINT) AS purchasers,
           CAST(sum(bit_count(v)) AS BIGINT) AS viewers,
           CAST(sum(bit_count(p & v)) AS BIGINT) AS purch_and_view,
           CAST(sum(bit_count(p | v | e)) AS BIGINT) AS any_segment,
           CAST(sum(bit_count((p & v) & ~e)) AS BIGINT)
               AS engaged_clean,
           CAST(sum(bit_count(v & ~p)) AS BIGINT) AS window_shoppers
    FROM words
    """,
)
def agg_bitmap_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set algebra on packed bitmaps: each behavioral
    segment (purchased / viewed / errored) becomes one {_BM_BITS}-bit
    word per user block via bit_or aggregation, then intersections,
    unions, and complements are single bitwise ops and cardinalities
    are bit_count sums — "purchased AND viewed NOT errored" without
    any self-join or distinct-count over users. {_BM_BITS} bits per
    word keeps the BIGINT sign bit out of play so Spark and DuckDB
    two's-complement semantics never meet.

    Scale: the fact collapses to DISTINCT (word, bit, segment) with
    map-side combine; words are |users|/{_BM_BITS} rows; every
    audience query thereafter is a narrow scan of the bitmap table —
    this is why OLAP stores precompute segment bitmaps."""
    pres = (
        io.load_events(spark, sf_dir)
        .filter(F.col("event_type").isin("purchase", "view", "error"))
        .select(
            F.floor(F.col("user_id") / _BM_BITS)
            .cast("long")
            .alias("word"),
            (F.col("user_id") % _BM_BITS).cast("int").alias("bit"),
            "event_type",
        )
        .distinct()
    )
    mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), bit)")
    words = pres.groupBy("word").agg(
        F.bit_or(
            F.when(F.col("event_type") == "purchase", mask).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("p"),
        F.bit_or(
            F.when(F.col("event_type") == "view", mask).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("v"),
        F.bit_or(
            F.when(F.col("event_type") == "error", mask).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("e"),
    )
    p, v, e = F.col("p"), F.col("v"), F.col("e")
    return words.agg(
        F.count("*").alias("n_words"),
        F.sum(F.bit_count(p)).cast("long").alias("purchasers"),
        F.sum(F.bit_count(v)).cast("long").alias("viewers"),
        F.sum(F.bit_count(p.bitwiseAND(v)))
        .cast("long")
        .alias("purch_and_view"),
        F.sum(F.bit_count(p.bitwiseOR(v).bitwiseOR(e)))
        .cast("long")
        .alias("any_segment"),
        F.sum(
            F.bit_count(
                p.bitwiseAND(v).bitwiseAND(F.bitwise_not(e))
            )
        )
        .cast("long")
        .alias("engaged_clean"),
        F.sum(F.bit_count(v.bitwiseAND(F.bitwise_not(p))))
        .cast("long")
        .alias("window_shoppers"),
    )


# --------------------------------------------------------------------------
# agg_cohort_ltv
# --------------------------------------------------------------------------


@query(
    "agg_cohort_ltv",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents
        FROM events
    ),
    signup AS (
        SELECT user_id,
               min(date_diff('day', DATE '1970-01-05',
                             CAST(ts AS DATE)) // 7) AS cohort_m
        FROM e GROUP BY user_id
    ),
    csize AS (
        SELECT cohort_m, count(*) AS n_users
        FROM signup GROUP BY cohort_m
    ),
    rev AS (
        SELECT s.cohort_m,
               (date_diff('day', DATE '1970-01-05', CAST(e.ts AS DATE))
                // 7) - s.cohort_m AS age,
               sum(e.cents) AS cents
        FROM e JOIN signup s ON s.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.cents IS NOT NULL
        GROUP BY s.cohort_m,
                 (date_diff('day', DATE '1970-01-05', CAST(e.ts AS DATE))
                  // 7) - s.cohort_m
    )
    SELECT CAST(r.cohort_m AS BIGINT) AS cohort_week_idx,
           CAST(r.age AS BIGINT) AS age_weeks,
           CAST(c.n_users AS BIGINT) AS cohort_size,
           CAST(sum(r.cents) OVER (PARTITION BY r.cohort_m
                                   ORDER BY r.age) AS BIGINT)
               AS cum_rev_cents,
           round(sum(r.cents) OVER (PARTITION BY r.cohort_m
                                    ORDER BY r.age)
                 / (100.0 * c.n_users), 6) AS ltv_per_user
    FROM rev r JOIN csize c ON c.cohort_m = r.cohort_m
    """,
)
def agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime-value curves by signup cohort: users are
    cohorted by their first-activity WEEK (Monday-anchored integer
    week index from epoch days — no date-truncation tz traps, and
    weekly grain gives a real curve on a 30-day stream), purchase revenue
    lands in exact cents per (cohort, age-in-weeks) cell, and the
    running sum per cohort divided by the cohort's size is the LTV
    curve every growth team plots against CAC. Months with no
    revenue simply don't emit a cell (both engines agree; gapfill is
    ts_gapfill's job).

    Scale: signup is one fact groupBy; revenue collapses to the
    cohort x age grid (map-side partials) before the cumulative
    window, which is keyed by cohort over calendar-sized rows;
    cohort sizes broadcast back."""
    e = io.load_events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_type",
        half_up(F.col("value"), 2).alias("cents"),
    )
    midx = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-05")) / 7
    ).cast("long")
    signup = e.groupBy("user_id").agg(
        F.min(midx).alias("cohort_m")
    )
    csize = signup.groupBy("cohort_m").agg(
        F.count("*").alias("n_users")
    )
    rev = (
        e.filter(
            (F.col("event_type") == "purchase")
            & F.col("cents").isNotNull()
        )
        .join(F.broadcast(signup), "user_id")
        .groupBy(
            "cohort_m", (midx - F.col("cohort_m")).alias("age")
        )
        .agg(F.sum("cents").alias("cents"))
    )
    wc = Window.partitionBy("cohort_m").orderBy("age")
    cum = F.sum("cents").over(wc)
    return rev.join(
        F.broadcast(csize.withColumnRenamed("cohort_m", "cm")),
        F.col("cohort_m") == F.col("cm"),
    ).select(
        F.col("cohort_m").cast("long").alias("cohort_week_idx"),
        F.col("age").cast("long").alias("age_weeks"),
        F.col("n_users").cast("long").alias("cohort_size"),
        cum.cast("long").alias("cum_rev_cents"),
        F.round(cum / (100.0 * F.col("n_users")), 6).alias(
            "ltv_per_user"
        ),
    )


# --------------------------------------------------------------------------
# corpus_temperature_mix
# --------------------------------------------------------------------------


@query(
    "corpus_temperature_mix",
    oracle="""
    WITH lt AS (
        SELECT lang,
               sum(length(string_split(text, ' '))) AS n_tokens
        FROM documents GROUP BY lang
    ),
    s AS (
        SELECT lang, n_tokens,
               CAST(floor(1000000.0 * sqrt(CAST(n_tokens AS DOUBLE))
                          + 0.5) AS BIGINT) AS s_micro
        FROM lt
    ),
    tot AS (
        SELECT sum(n_tokens) AS n, sum(s_micro) AS s_sum FROM s
    )
    SELECT lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(n_tokens / CAST(tot.n AS DOUBLE), 6) AS nat_share,
           round(s_micro / CAST(tot.s_sum AS DOUBLE), 6)
               AS temp_weight,
           round((s_micro / CAST(tot.s_sum AS DOUBLE))
                 / (n_tokens / CAST(tot.n AS DOUBLE)), 6)
               AS boost_factor
    FROM s CROSS JOIN tot
    """,
)
def corpus_temperature_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled multilingual sampling weights at T=2
    (w_l ∝ p_l^(1/2) — the mT5/XLM-R rule that up-samples low-
    resource languages without letting them dominate): per-language
    token masses are exact BIGINTs, and T=2 is chosen deliberately
    because p^(1/2) is sqrt — a CORRECTLY-ROUNDED IEEE operation,
    unlike libm pow — micro-rounded once so the normalizing sum is
    exact. boost_factor > 1 marks up-sampled languages; the natural
    share, temperature weight, and boost ship side by side.

    Scale: one token-count groupBy with map-side partials to a
    language-cardinality table; everything after is arithmetic on
    that tiny table with a one-row total broadcast."""
    lt = (
        io.load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.sum(F.size(F.split("text", " "))).alias("n_tokens")
        )
    )
    s = lt.select(
        "lang",
        "n_tokens",
        half_up(F.sqrt(F.col("n_tokens").cast("double")), 6).alias("s_micro"),
    )
    tot = s.agg(
        F.sum("n_tokens").alias("n"), F.sum("s_micro").alias("s_sum")
    )
    nat = F.col("n_tokens") / F.col("n").cast("double")
    tw = F.col("s_micro") / F.col("s_sum").cast("double")
    return s.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(nat, 6).alias("nat_share"),
        F.round(tw, 6).alias("temp_weight"),
        F.round(tw / nat, 6).alias("boost_factor"),
    )
