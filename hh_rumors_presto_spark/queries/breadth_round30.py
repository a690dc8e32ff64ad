"""Round-30 breadth batch: Bradley–Terry preference ratings, a
forward/tolerance as-of join, and the RSI oscillator.

- ``eval_bradley_terry`` — arena-style pairwise-preference ratings
  (Bradley–Terry 1952 via the Hunter 2004 MM iteration, the model
  behind Chatbot-Arena leaderboards): consecutive same-user events
  with distinct types form matches decided by value; three MM rounds
  with per-round integer pinning make the fixed point bit-stable.
- ``join_asof_tolerance`` — pandas ``merge_asof(direction='forward',
  tolerance=7d)`` semantics: the EARLIEST event at-or-after each
  order date within the staleness budget, NULL when nothing lands in
  the window — the other half of join_asof's latest-before.
- ``win_rsi`` — Cutler's 14-day RSI on the daily purchase series:
  100*sumGain/(sumGain+sumLoss) over trailing exact-integer
  gain/loss sums (the SMA variant IS window-expressible exactly;
  Wilder's EMA recursion is ts_ewma/ts_holt_winters territory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# eval_bradley_terry
# --------------------------------------------------------------------------

_BT_ITERS = 3


def _bt_iter_sql(r: int, prev: str) -> str:
    """One MM round: micro-int contribution sums, theta = W/denom,
    nano-int renormalization — every float op a single exactly-
    rounded IEEE division, every sum an exact BIGINT."""
    return f"""
    c{r} AS (
        SELECT d.i,
               CAST(floor(1000000.0 * d.n
                          / (ti.theta + tj.theta) + 0.5) AS BIGINT)
                   AS cm
        FROM directed d
        JOIN {prev} ti ON ti.item = d.i
        JOIN {prev} tj ON tj.item = d.j
    ),
    raw{r} AS (
        SELECT it.item,
               CAST(floor(1000000000.0
                          * (CAST(it.w AS DOUBLE)
                             / (CAST(s.den AS DOUBLE) / 1000000.0))
                          + 0.5) AS BIGINT) AS t_nano
        FROM items it
        JOIN (SELECT i, sum(cm) AS den FROM c{r} GROUP BY i) s
          ON s.i = it.item
    ),
    t{r} AS (
        SELECT item,
               CAST(t_nano AS DOUBLE)
               / (SELECT CAST(sum(t_nano) AS DOUBLE) FROM raw{r})
                   AS theta
        FROM raw{r}
    )"""


_BT_ORACLE = (
    """
    WITH ev AS (
        SELECT user_id, event_id, event_type,
               CAST(ts AS TIMESTAMP) AS ts,
               CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents
        FROM events WHERE value IS NOT NULL
    ),
    seq AS (
        SELECT user_id, event_type, cents,
               lag(event_type) OVER w AS prev_type,
               lag(cents) OVER w AS prev_cents
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    matches AS (
        SELECT CASE WHEN cents > prev_cents THEN event_type
                    WHEN cents < prev_cents THEN prev_type
                    ELSE least(event_type, prev_type) END AS winner,
               CASE WHEN cents > prev_cents THEN prev_type
                    WHEN cents < prev_cents THEN event_type
                    ELSE greatest(event_type, prev_type) END AS loser
        FROM seq
        WHERE prev_type IS NOT NULL AND event_type <> prev_type
    ),
    items AS (
        SELECT item, sum(w) AS w, sum(m) AS m
        FROM (
            SELECT winner AS item, 1 AS w, 1 AS m FROM matches
            UNION ALL
            SELECT loser AS item, 0 AS w, 1 AS m FROM matches
        ) GROUP BY item
    ),
    pair_n AS (
        SELECT least(winner, loser) AS a,
               greatest(winner, loser) AS b, count(*) AS n
        FROM matches GROUP BY 1, 2
    ),
    directed AS (
        SELECT a AS i, b AS j, n FROM pair_n
        UNION ALL
        SELECT b AS i, a AS j, n FROM pair_n
    ),
    t0 AS (
        SELECT item,
               1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM items)
                   AS theta
        FROM items
    ),"""
    + ",".join(
        _bt_iter_sql(r, f"t{r - 1}") for r in range(1, _BT_ITERS + 1)
    )
    + f"""
    SELECT it.item AS event_type,
           round(t.theta, 6) AS rating,
           CAST(it.w AS BIGINT) AS n_wins,
           CAST(it.m AS BIGINT) AS n_matches,
           CAST(row_number() OVER (
                    ORDER BY t.theta DESC, it.item) AS BIGINT) AS rnk
    FROM items it JOIN t{_BT_ITERS} t ON t.item = it.item
    """
)


@query("eval_bradley_terry", oracle=_BT_ORACLE)
def eval_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry ratings over pairwise preferences — the Chatbot-
    Arena leaderboard model. Matches: consecutive same-user events
    with distinct types, winner = higher value cents (ties to the
    lexicographically smaller type). {i} MM rounds (Hunter 2004):
    theta_i <- W_i / sum_j n_ij/(theta_i+theta_j), renormalized.
    Per-round pinning makes the float path order-free: contributions
    are micro-rounded BIGINTs before summing, new thetas nano-rounded
    BIGINTs before the normalizing division — so both engines walk
    the identical IEEE trajectory.

    Scale: the fact collapses to a per-user lag pass (keyed window)
    then to item/pair count tables sized by the TYPE vocabulary (5
    here, thousands for a real arena) — the iteration runs on those
    tiny tables with one-row broadcast normalizers, exactly
    ml_logreg_gd's in-plan-no-collect discipline.""".replace(
        "{i}", str(_BT_ITERS)
    )
    ev = (
        io.load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            "event_type",
            "ts",
            half_up(F.col("value"), 2).alias("cents"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "cents",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("cents").over(w).alias("prev_cents"),
    ).filter(
        F.col("prev_type").isNotNull()
        & (F.col("event_type") != F.col("prev_type"))
    )
    matches = seq.select(
        F.when(F.col("cents") > F.col("prev_cents"), F.col("event_type"))
        .when(F.col("cents") < F.col("prev_cents"), F.col("prev_type"))
        .otherwise(F.least("event_type", "prev_type"))
        .alias("winner"),
        F.when(F.col("cents") > F.col("prev_cents"), F.col("prev_type"))
        .when(F.col("cents") < F.col("prev_cents"), F.col("event_type"))
        .otherwise(F.greatest("event_type", "prev_type"))
        .alias("loser"),
    )
    items = (
        matches.select(
            F.col("winner").alias("item"), F.lit(1).alias("w")
        )
        .unionAll(
            matches.select(
                F.col("loser").alias("item"), F.lit(0).alias("w")
            )
        )
        .groupBy("item")
        .agg(F.sum("w").alias("w"), F.count("*").alias("m"))
        .localCheckpoint()
    )
    pair_n = matches.groupBy(
        F.least("winner", "loser").alias("a"),
        F.greatest("winner", "loser").alias("b"),
    ).agg(F.count("*").alias("n"))
    directed = pair_n.select(
        F.col("a").alias("i"), F.col("b").alias("j"), "n"
    ).unionAll(
        pair_n.select(F.col("b").alias("i"), F.col("a").alias("j"), "n")
    ).localCheckpoint()
    k = items.count()
    # k=0 (no pairwise matches, e.g. an empty event feed) must not fold
    # 1.0/0.0 into the plan (ANSI raise; r9 empty-table audit) — the
    # theta constant is irrelevant on a zero-row frame, and every
    # downstream join/select stays empty, matching the oracle's empty
    # result exactly.
    theta = items.select(
        "item", F.lit(1.0 / k if k else 0.0).alias("theta")
    )
    for _ in range(_BT_ITERS):
        ti = theta.select(
            F.col("item").alias("ii"), F.col("theta").alias("theta_i")
        )
        tj = theta.select(
            F.col("item").alias("jj"), F.col("theta").alias("theta_j")
        )
        dens = (
            directed.join(F.broadcast(ti), F.col("i") == F.col("ii"))
            .join(F.broadcast(tj), F.col("j") == F.col("jj"))
            .select(
                "i",
                F.floor(
                    1000000.0
                    * F.col("n")
                    / (F.col("theta_i") + F.col("theta_j"))
                    + 0.5
                )
                .cast("long")
                .alias("cm"),
            )
            .groupBy("i")
            .agg(F.sum("cm").alias("den"))
        )
        raw = items.join(
            F.broadcast(dens), items.item == dens.i
        ).select(
            "item",
            half_up(
                F.col("w").cast("double")
                / (F.col("den").cast("double") / 1000000.0),
                9,
            ).alias("t_nano"),
        )
        tot = raw.agg(
            F.sum("t_nano").cast("double").alias("t_sum")
        )
        theta = raw.crossJoin(F.broadcast(tot)).select(
            "item",
            (F.col("t_nano").cast("double") / F.col("t_sum")).alias(
                "theta"
            ),
        )
    rw = Window.orderBy(F.col("theta").desc(), "item")
    return (
        items.join(theta.withColumnRenamed("item", "t_item"),
                   F.col("item") == F.col("t_item"))
        .withColumn("rnk", F.row_number().over(rw).cast("long"))
        .select(
            F.col("item").alias("event_type"),
            F.round("theta", 6).alias("rating"),
            F.col("w").cast("long").alias("n_wins"),
            F.col("m").cast("long").alias("n_matches"),
            "rnk",
        )
    )


# --------------------------------------------------------------------------
# join_asof_tolerance
# --------------------------------------------------------------------------

_AT_DAYS = 7
_AT_US = _AT_DAYS * 86400 * 1_000_000


@query(
    "join_asof_tolerance",
    oracle=f"""
    WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events
    ),
    o AS (
        SELECT o_orderkey, o_custkey % 20 AS user_key,
               CAST(o_orderdate AS TIMESTAMP) AS o_ts
        FROM orders WHERE o_orderkey % 100 = 0
    ),
    matches AS (
        SELECT o.o_orderkey, e.event_id, e.ts,
               row_number() OVER (
                   PARTITION BY o.o_orderkey
                   ORDER BY e.ts, e.event_id) AS rn
        FROM o JOIN e
          ON e.user_id = o.user_key
         AND e.ts >= o.o_ts
         AND e.ts <= o.o_ts + INTERVAL {_AT_DAYS} DAY
    )
    SELECT o.o_orderkey, m.event_id AS next_event_id,
           m.ts AS next_event_ts
    FROM o LEFT JOIN (SELECT * FROM matches WHERE rn = 1) m
      ON m.o_orderkey = o.o_orderkey
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with a staleness tolerance — pandas
    ``merge_asof(direction='forward', tolerance={_AT_DAYS}d)``: the
    EARLIEST event at-or-after each order date, but only if it lands
    within {_AT_DAYS} days; otherwise NULL (a match older than the
    budget is worse than no match). The missing half of join_asof's
    latest-before semantics.

    Scale: the tolerance is the scale feature — it bounds the match
    window, so at 100 TB the join becomes an equi-join on (key,
    time_bucket) with each left row probing ceil(T/bucket)+1 buckets,
    never an unbounded ts inequality. Here the per-key equi-join +
    min_by struct pick is one shuffle; the winner is a deterministic
    (ts, event_id) minimum, no window over the fan-out."""
    orders = (
        io.load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 20).alias("user_key"),
            F.unix_micros(
                F.col("o_orderdate").cast("timestamp")
            ).alias("o_us"),
        )
    )
    events = io.load_events(spark, sf_dir).select(
        F.col("user_id").alias("user_key"),
        "event_id",
        F.unix_micros("ts").alias("e_us"),
    )
    hits = (
        orders.join(events, "user_key")
        .filter(
            (F.col("e_us") >= F.col("o_us"))
            & (F.col("e_us") <= F.col("o_us") + _AT_US)
        )
        .groupBy("o_orderkey")
        .agg(
            F.min(F.struct("e_us", "event_id")).alias("best")
        )
        .select(
            F.col("o_orderkey").alias("hit_key"),
            F.col("best.event_id").alias("next_event_id"),
            F.timestamp_micros(F.col("best.e_us")).alias(
                "next_event_ts"
            ),
        )
    )
    return orders.join(
        hits, orders.o_orderkey == hits.hit_key, "left"
    ).select("o_orderkey", "next_event_id", "next_event_ts")


# --------------------------------------------------------------------------
# win_rsi
# --------------------------------------------------------------------------

_RSI_N = 14


@query(
    "win_rsi",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               sum(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS cents
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1
    ),
    delta AS (
        SELECT day,
               cents - lag(cents) OVER (ORDER BY day) AS d,
               row_number() OVER (ORDER BY day) AS rn
        FROM daily
    ),
    sums AS (
        SELECT day, rn,
               sum(greatest(d, 0)) OVER w AS gain,
               sum(greatest(-d, 0)) OVER w AS loss,
               count(d) OVER w AS n_d
        FROM delta
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN {_RSI_N - 1} PRECEDING
                              AND CURRENT ROW)
    )
    SELECT day,
           CAST(gain AS BIGINT) AS gain_cents,
           CAST(loss AS BIGINT) AS loss_cents,
           CASE WHEN n_d = {_RSI_N} AND gain + loss > 0
                THEN round(100.0 * gain
                           / CAST(gain + loss AS DOUBLE), 4)
           END AS rsi
    FROM sums
    """,
)
def win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's {_RSI_N}-day RSI on the daily purchase-cents series:
    RSI = 100*G/(G+L) over trailing exact-integer gain/loss sums
    (algebraically identical to 100-100/(1+G/L) with ONE division
    instead of two — fewer float ops, same oscillator). NULL until a
    full {_RSI_N}-delta window exists or when the series is flat.
    The SMA variant is chosen deliberately: it is exactly window-
    expressible; Wilder's EMA recursion belongs to the ts_ewma /
    ts_holt_winters stateful family.

    Scale: fact -> one row per day (map-side partials), then a
    calendar-sized ordered window (per instrument key at fleet
    scale). No fact-sized window."""
    daily = (
        io.load_events(spark, sf_dir)
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
        )
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                half_up(F.col("value"), 2)
            ).alias("cents")
        )
    )
    wo = Window.orderBy("day")
    delta = daily.select(
        "day", (F.col("cents") - F.lag("cents").over(wo)).alias("d")
    )
    wf = wo.rowsBetween(-(_RSI_N - 1), 0)
    sums = delta.select(
        "day",
        F.sum(F.greatest(F.col("d"), F.lit(0))).over(wf).alias("gain"),
        F.sum(F.greatest(-F.col("d"), F.lit(0))).over(wf).alias("loss"),
        F.count("d").over(wf).alias("n_d"),
    )
    return sums.select(
        "day",
        F.col("gain").cast("long").alias("gain_cents"),
        F.col("loss").cast("long").alias("loss_cents"),
        F.when(
            (F.col("n_d") == _RSI_N) & (F.col("gain") + F.col("loss") > 0),
            F.round(
                100.0
                * F.col("gain")
                / (F.col("gain") + F.col("loss")).cast("double"),
                4,
            ),
        ).alias("rsi"),
    )
