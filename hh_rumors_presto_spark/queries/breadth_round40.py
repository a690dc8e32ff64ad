"""Round-40 breadth batch: a leakage-free lag feature matrix, a
nearest-centroid classifier, and quality-filter ablation.

- ``feat_lag_matrix`` — the supervised-learning design matrix built
  the only correct way: per (user, calendar day), the label is the
  NEXT day's purchases and every feature (today's count, lag-1,
  trailing-7 sum, days-since-last-purchase) is computed strictly
  from the past — time-ordered feature/label separation by
  construction, the property feature stores exist to guarantee.
- ``emb_centroid_classifier`` — the Rocchio/nearest-centroid
  classifier: per-label centroids from the even-id half in exact
  integer micro components, odd-id half classified by integer
  squared distance, per-label accuracy. The one-shuffle counterpart
  to ml_knn_classifier (model size = labels x dims, no pair join).
- ``corpus_filter_ablation`` — the quality-ruleset attribution
  audit: per rule, how many documents fail it, how many fail ONLY
  it (unique rejections — the rule's marginal contribution), and
  the tokens each rule uniquely removes. The readout that tells you
  which filter actually earns its false-positive budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# feat_lag_matrix
# --------------------------------------------------------------------------


@query(
    "feat_lag_matrix",
    oracle="""
    WITH pur AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               count(*) AS c
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    span AS (
        SELECT user_id, min(day) AS d0, max(day) AS d1
        FROM (
            SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
            FROM events
        ) GROUP BY user_id
    ),
    grid AS (
        SELECT s.user_id, CAST(unnest(generate_series(s.d0, s.d1,
                    INTERVAL 1 DAY)) AS DATE) AS day
        FROM span s
    ),
    joined AS (
        SELECT g.user_id, g.day, coalesce(p.c, 0) AS c
        FROM grid g LEFT JOIN pur p
          ON p.user_id = g.user_id AND p.day = g.day
    ),
    feat AS (
        SELECT user_id, day, c AS f_today,
               lag(c) OVER w AS f_lag1,
               sum(c) OVER (w ROWS BETWEEN 6 PRECEDING
                              AND CURRENT ROW) AS f_7d_sum,
               lead(c) OVER w AS label,
               day - max(CASE WHEN c > 0 THEN day END) OVER
                   (w ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS gap
        FROM joined
        WINDOW w AS (PARTITION BY user_id ORDER BY day)
    )
    SELECT user_id, day,
           CAST(label AS BIGINT) AS label,
           CAST(f_today AS BIGINT) AS f_today,
           CAST(f_lag1 AS BIGINT) AS f_lag1,
           CAST(f_7d_sum AS BIGINT) AS f_7d_sum,
           CAST(gap AS BIGINT) AS days_since_purchase
    FROM feat
    WHERE label IS NOT NULL AND f_lag1 IS NOT NULL
    """,
)
def feat_lag_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The next-day-purchases design matrix with leakage-freedom by
    construction: the per-user calendar grid is densified over the
    user's own activity span, the label is lead(count) — strictly
    tomorrow — and every feature window ends at or before today
    (the trailing-7 sum includes today; the recency gap looks only
    at strictly-preceding rows). Rows missing a label (last day) or
    a lag (first day) are dropped, the standard train-matrix edge
    trim.

    Scale: grid size is Σ user spans (calendar-bounded, never
    event-bounded); all windows are keyed by user; the purchase
    counts collapse map-side first. This is join_pit_multi's
    no-future-leakage discipline applied to windowed features."""
    ev = io.load_events(spark, sf_dir)
    pur = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id", F.col("ts").cast("date").alias("day")
        )
        .agg(F.count("*").alias("c"))
    )
    span = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("day"),
    )
    joined = grid.join(pur, ["user_id", "day"], "left").select(
        "user_id", "day", F.coalesce("c", F.lit(0)).alias("c")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    w7 = w.rowsBetween(-6, 0)
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    feat = joined.select(
        "user_id",
        "day",
        F.lead("c").over(w).alias("label"),
        F.col("c").alias("f_today"),
        F.lag("c").over(w).alias("f_lag1"),
        F.sum("c").over(w7).alias("f_7d_sum"),
        F.datediff(
            "day",
            F.max(F.when(F.col("c") > 0, F.col("day"))).over(wp),
        ).alias("days_since_purchase"),
    )
    return feat.filter(
        F.col("label").isNotNull() & F.col("f_lag1").isNotNull()
    ).select(
        "user_id",
        "day",
        F.col("label").cast("long").alias("label"),
        F.col("f_today").cast("long").alias("f_today"),
        F.col("f_lag1").cast("long").alias("f_lag1"),
        F.col("f_7d_sum").cast("long").alias("f_7d_sum"),
        F.col("days_since_purchase")
        .cast("long")
        .alias("days_since_purchase"),
    )


# --------------------------------------------------------------------------
# emb_centroid_classifier
# --------------------------------------------------------------------------


@query(
    "emb_centroid_classifier",
    oracle="""
    WITH comp AS (
        SELECT vec_id, label,
               CAST(floor(CAST(u.val AS DOUBLE) * 1000000.0 + 0.5)
                    AS BIGINT) AS x,
               u.dim
        FROM embeddings,
             LATERAL (SELECT unnest(embedding) AS val,
                             generate_subscripts(embedding, 1) AS dim)
                 AS u
    ),
    cent AS (
        SELECT label AS c_label, dim,
               (2 * sum(x) + count(*)) // (2 * count(*)) AS c
        FROM comp WHERE vec_id % 2 = 0
        GROUP BY label, dim
    ),
    dist AS (
        SELECT t.vec_id, t.true_label, c.c_label,
               sum((t.x - c.c) * (t.x - c.c)) AS d2
        FROM (
            SELECT vec_id, label AS true_label, x, dim
            FROM comp WHERE vec_id % 2 = 1
        ) t JOIN cent c ON c.dim = t.dim
        GROUP BY t.vec_id, t.true_label, c.c_label
    ),
    pred AS (
        SELECT vec_id, true_label, c_label AS pred_label
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY d2, c_label) AS rn
            FROM dist
        ) WHERE rn = 1
    )
    SELECT true_label AS label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pred_label = true_label
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST((2000000 * sum(CASE WHEN pred_label = true_label
                               THEN 1 ELSE 0 END) + count(*))
               // (2 * count(*)) AS BIGINT) AS acc_micro
    FROM pred GROUP BY true_label
    """,
)
def emb_centroid_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification: per-label centroids
    are trained on the even-id half with every vector component
    quantized ONCE to integer micros — so centroid sums are exact
    BIGINTs and the centroid itself is a half-up integer per
    dimension — and the odd-id half is assigned to the label with
    the smallest exact integer squared distance (label-asc
    tie-break). Per-label held-out accuracy in micro units. Next to
    ml_knn_classifier this is the cheap end of the embedding-quality
    spectrum: model = labels x dims numbers, assignment = one
    broadcast join.

    Scale: training is one groupBy over (label, dim) components
    (map-side partials); the centroid table is tiny and broadcast;
    scoring is a narrow per-vector fold — no pair join at all."""
    comp = io.load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "val"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        half_up(F.col("val"), 6).alias("x"),
    )
    cent = (
        comp.filter(F.col("vec_id") % 2 == 0)
        .groupBy(F.col("label").alias("c_label"), "dim")
        .agg(
            F.floor(
                (2 * F.sum("x") + F.count("*")) / (2 * F.count("*"))
            )
            .cast("long")
            .alias("c")
        )
    )
    test = comp.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", F.col("label").alias("true_label"), "dim", "x"
    )
    dist = (
        test.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "true_label", "c_label")
        .agg(
            F.sum(
                (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))
            ).alias("d2")
        )
    )
    wr = Window.partitionBy("vec_id").orderBy("d2", "c_label")
    pred = (
        dist.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("true_label", F.col("c_label").alias("pred_label"))
    )
    correct = F.sum(
        F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    )
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count("*").alias("n"),
        correct.cast("long").alias("n_correct"),
        F.floor(
            (2000000 * correct + F.count("*")) / (2 * F.count("*"))
        )
        .cast("long")
        .alias("acc_micro"),
    )


# --------------------------------------------------------------------------
# corpus_filter_ablation
# --------------------------------------------------------------------------

# deterministic gopher-flavored rules over whitespace tokens:
#   short  — fewer than 10 tokens
#   wordlen — mean token length outside [2, 10]
#   symbol — non-alphanumeric share of characters above 30%
#   dup    — the single most frequent token carries >20% of tokens
_ABL_RULES = ("short", "wordlen", "symbol", "dup")


@query(
    "corpus_filter_ablation",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    top_tok AS (
        SELECT doc_id, max(c) AS max_c
        FROM (SELECT doc_id, t, count(*) AS c FROM tok
              GROUP BY doc_id, t)
        GROUP BY doc_id
    ),
    stats AS (
        SELECT k.doc_id,
               k.n_tok, k.sum_len, k.n_sym, k.n_chars, m.max_c
        FROM (
            SELECT doc_id, count(*) AS n_tok,
                   sum(length(t)) AS sum_len,
                   sum(length(t)
                       - length(regexp_replace(t, '[^a-zA-Z0-9]', '',
                                               'g'))) AS n_sym,
                   sum(length(t)) AS n_chars
            FROM tok GROUP BY doc_id
        ) k JOIN top_tok m ON m.doc_id = k.doc_id
    ),
    flags AS (
        SELECT doc_id, n_tok,
               CASE WHEN n_tok < 10 THEN 1 ELSE 0 END AS f_short,
               CASE WHEN sum_len > 10 * n_tok
                      OR sum_len < 2 * n_tok THEN 1 ELSE 0 END
                   AS f_wordlen,
               CASE WHEN 10 * n_sym > 3 * n_chars THEN 1 ELSE 0 END
                   AS f_symbol,
               CASE WHEN 5 * max_c > n_tok THEN 1 ELSE 0 END AS f_dup
        FROM stats
    )
    SELECT rule,
           CAST(n_fail AS BIGINT) AS n_fail,
           CAST(n_unique AS BIGINT) AS n_unique,
           CAST(tokens_unique AS BIGINT) AS tokens_unique
    FROM (
        SELECT 'short' AS rule, sum(f_short) AS n_fail,
               sum(CASE WHEN f_short = 1
                    AND f_wordlen + f_symbol + f_dup = 0
                   THEN 1 ELSE 0 END) AS n_unique,
               sum(CASE WHEN f_short = 1
                    AND f_wordlen + f_symbol + f_dup = 0
                   THEN n_tok ELSE 0 END) AS tokens_unique
        FROM flags
        UNION ALL
        SELECT 'wordlen', sum(f_wordlen),
               sum(CASE WHEN f_wordlen = 1
                    AND f_short + f_symbol + f_dup = 0
                   THEN 1 ELSE 0 END),
               sum(CASE WHEN f_wordlen = 1
                    AND f_short + f_symbol + f_dup = 0
                   THEN n_tok ELSE 0 END)
        FROM flags
        UNION ALL
        SELECT 'symbol', sum(f_symbol),
               sum(CASE WHEN f_symbol = 1
                    AND f_short + f_wordlen + f_dup = 0
                   THEN 1 ELSE 0 END),
               sum(CASE WHEN f_symbol = 1
                    AND f_short + f_wordlen + f_dup = 0
                   THEN n_tok ELSE 0 END)
        FROM flags
        UNION ALL
        SELECT 'dup', sum(f_dup),
               sum(CASE WHEN f_dup = 1
                    AND f_short + f_wordlen + f_symbol = 0
                   THEN 1 ELSE 0 END),
               sum(CASE WHEN f_dup = 1
                    AND f_short + f_wordlen + f_symbol = 0
                   THEN n_tok ELSE 0 END)
        FROM flags
        UNION ALL
        SELECT 'any',
               sum(CASE WHEN f_short + f_wordlen + f_symbol + f_dup
                        > 0 THEN 1 ELSE 0 END),
               sum(CASE WHEN f_short + f_wordlen + f_symbol + f_dup
                        > 0 THEN 1 ELSE 0 END),
               sum(CASE WHEN f_short + f_wordlen + f_symbol + f_dup
                        > 0 THEN n_tok ELSE 0 END)
        FROM flags
    )
    """,
)
def corpus_filter_ablation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-filter ablation over a 4-rule gopher-flavored ruleset
    (too-short, word-length band, symbol share, top-token dominance —
    all as integer cross-multiplications): per rule, total failures,
    UNIQUE failures (docs no other rule would have caught — the
    rule's marginal value), and the tokens those unique rejections
    remove; plus the 'any' row for the whole gate. A rule whose
    unique count is ~0 is redundant; one that uniquely removes a big
    token mass deserves manual review before it ships — this is the
    governance readout for every filter change.

    Scale: one token pass to per-doc stats (map-side partials; the
    top-token share reuses the per-(doc,token) fold), a flags table
    at doc grain, and 5 one-row folds unioned."""
    tok = io.load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    per_tok = tok.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    top_tok = per_tok.groupBy("doc_id").agg(F.max("c").alias("max_c"))
    stats = (
        tok.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum(F.length("t")).alias("sum_len"),
            F.sum(
                F.length("t")
                - F.length(
                    F.regexp_replace("t", "[^a-zA-Z0-9]", "")
                )
            ).alias("n_sym"),
        )
        .join(top_tok, "doc_id")
    )
    flags = stats.select(
        "n_tok",
        F.when(F.col("n_tok") < 10, 1).otherwise(0).alias("f_short"),
        F.when(
            (F.col("sum_len") > 10 * F.col("n_tok"))
            | (F.col("sum_len") < 2 * F.col("n_tok")),
            1,
        )
        .otherwise(0)
        .alias("f_wordlen"),
        F.when(10 * F.col("n_sym") > 3 * F.col("sum_len"), 1)
        .otherwise(0)
        .alias("f_symbol"),
        F.when(5 * F.col("max_c") > F.col("n_tok"), 1)
        .otherwise(0)
        .alias("f_dup"),
    ).localCheckpoint()
    outs = []
    for rule in _ABL_RULES:
        others = [f"f_{r}" for r in _ABL_RULES if r != rule]
        other_sum = sum((F.col(o) for o in others[1:]), F.col(others[0]))
        mine = F.col(f"f_{rule}")
        uniq = (mine == 1) & (other_sum == 0)
        outs.append(
            flags.agg(
                F.lit(rule).alias("rule"),
                F.sum(mine).cast("long").alias("n_fail"),
                F.sum(F.when(uniq, 1).otherwise(0))
                .cast("long")
                .alias("n_unique"),
                F.sum(F.when(uniq, F.col("n_tok")).otherwise(0))
                .cast("long")
                .alias("tokens_unique"),
            )
        )
    total = sum(
        (F.col(f"f_{r}") for r in _ABL_RULES[1:]),
        F.col(f"f_{_ABL_RULES[0]}"),
    )
    any_fail = total > 0
    outs.append(
        flags.agg(
            F.lit("any").alias("rule"),
            F.sum(F.when(any_fail, 1).otherwise(0))
            .cast("long")
            .alias("n_fail"),
            F.sum(F.when(any_fail, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
            F.sum(F.when(any_fail, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_unique"),
        )
    )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out
