"""Round-13 breadth batch: item-item collaborative filtering, the
eager-aggregation join rewrite, and data-mixture annealing.

- ``recs_item_cf`` — item-item similarity from order baskets (the
  Amazon item-CF shape): co-purchase counts via a basket-blocked pair
  join (pair mass = Sum(basket^2), never catalog^2), squared cosine
  kept as an exact integer rational co^2*1e6/(c_i*c_j) so the top-3
  ranking per item needs no float sqrt at all.
- ``agg_pushdown_join`` — the EAGER AGGREGATION rewrite Catalyst does
  not apply automatically: pre-aggregate the fact by its join key
  BEFORE the dimension joins, then re-aggregate after; provably equal
  to join-then-aggregate (the oracle IS the naive plan). At 100 TB
  this turns a fact-sized join into a key-cardinality-sized one.
- ``corpus_anneal_mix`` — two-phase data-schedule planning: per
  training step, linearly anneal the source mixture from
  natural (token-proportional) to uniform, in exact integer
  micro-weights with a per-step token budget. The mid-training
  re-mixing discipline modern pretraining runs use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec, half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# recs_item_cf
# --------------------------------------------------------------------------

_CF_TOPK = 3


@query(
    "recs_item_cf",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    item AS (
        SELECT l_partkey, count(*) AS c FROM basket GROUP BY l_partkey
    ),
    co AS (
        SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
               count(*) AS co
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT c.item_a, c.item_b, c.co,
               c.co * c.co * 1000000 // (ia.c * ib.c) AS cos2_micro
        FROM co c
        JOIN item ia ON ia.l_partkey = c.item_a
        JOIN item ib ON ib.l_partkey = c.item_b
    )
    SELECT item_a, item_b, CAST(co AS BIGINT) AS co,
           CAST(cos2_micro AS BIGINT) AS cos2_micro,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY item_a
                   ORDER BY cos2_micro DESC, co DESC, item_b) AS rnk
        FROM scored
    )
    WHERE rnk <= {_CF_TOPK}
    """,
)
def recs_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over order baskets: pairs form
    only WITHIN a basket (the order equi-join — pair mass is
    Sum(basket_size^2), never catalog^2, the property that made item-CF
    the first recommender to run at Amazon scale), similarity is the
    squared cosine co^2/(c_i*c_j) kept as an exact integer micro
    rational (monotone in cosine, so ranking needs no sqrt), and each
    item keeps its top-3 via a partial top-k window with deterministic
    (score, co, id) tiebreaks.

    Scale: one distinct, one self equi-join on the basket key, one
    count aggregate, one group-limited window (WindowGroupLimit
    pushes the top-3 below the shuffle). Hot items skew the pair join
    — AQE skew-split or basket-size capping handles the head, as in
    dedup_ngram_jaccard."""
    # r11 (guide §2.5): the checkpointed basket is small at shuffle
    # time, so AQE coalesced the basket self-join to one partition and
    # the within-basket pair explosion ran single-task; the explicit
    # orderkey repartition is user-specified and keeps its count.
    from hh_rumors_presto_spark.session import default_parallelism

    basket = (
        io.load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # feeds three plan legs (both self-join sides + item counts)
        .localCheckpoint()
        .repartition(default_parallelism(), "l_orderkey")
    )
    item = basket.groupBy("l_partkey").agg(F.count("*").alias("c"))
    a, b = basket.alias("a"), basket.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("item_a"),
            F.col("b.l_partkey").alias("item_b"),
        )
        .agg(F.count("*").alias("co"))
    )
    ia = item.select(
        F.col("l_partkey").alias("item_a"), F.col("c").alias("ca")
    )
    ib = item.select(
        F.col("l_partkey").alias("item_b"), F.col("c").alias("cb")
    )
    scored = (
        co.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .select(
            "item_a",
            "item_b",
            "co",
            F.expr("co * co * 1000000 DIV (ca * cb)").alias("cos2_micro"),
        )
    )
    w = Window.partitionBy("item_a").orderBy(
        F.col("cos2_micro").desc(), F.col("co").desc(), "item_b"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _CF_TOPK)
        .select(
            "item_a",
            "item_b",
            F.col("co").cast("long").alias("co"),
            F.col("cos2_micro").cast("long").alias("cos2_micro"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# agg_pushdown_join
# --------------------------------------------------------------------------


@query(
    "agg_pushdown_join",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(28,2))
                    * (100 - CAST(floor(CAST(l.l_discount AS DOUBLE)
                                        * 100 + 0.5) AS BIGINT)))
                AS DOUBLE) / 100.0 AS revenue_c,
           CAST(count(DISTINCT s.s_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
    """,
)
def agg_pushdown_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eager aggregation (aggregate pushdown below a join): revenue per
    nation computed by PRE-aggregating the fact by its join key
    (supplier) first, joining the per-supplier partials to the tiny
    dimension chain, and re-aggregating — provably equal to the naive
    join-then-aggregate, which is exactly what the oracle runs. The
    rewrite (Yan & Larson, VLDB'95) that Catalyst does not apply
    automatically; at 100 TB it shrinks the join input from fact rows
    to supplier cardinality. Revenue uses exact DECIMAL x integer
    basis points, one final division.

    Scale: the fact is touched once by a map-side-partial hash agg; the
    join moves only |suppliers| rows through broadcast hash joins;
    distinct-supplier counts fall out of the pre-agg for free (each
    supplier is one row)."""
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = io.load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = io.load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(
            dec(F.col("l_extendedprice"), 2)
            * (
                F.lit(100)
                - half_up(F.col("l_discount"), 2)
            )
        ).alias("rev_c")
    )
    return (
        per_supp.join(
            F.broadcast(supp), per_supp.l_suppkey == supp.s_suppkey
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            (F.sum("rev_c").cast("double") / 100.0).alias("revenue_c"),
            F.count("*").cast("long").alias("n_suppliers"),
        )
    )


# --------------------------------------------------------------------------
# corpus_anneal_mix
# --------------------------------------------------------------------------

_AN_STEPS = 10
_AN_STEP_TOKENS = 50_000  # token budget per training step


@query(
    "corpus_anneal_mix",
    oracle=f"""
    WITH src AS (
        SELECT source,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(toks) AS n, count(*) AS k FROM src),
    steps AS (SELECT unnest(generate_series(0, {_AN_STEPS - 1})) AS step),
    mix AS (
        SELECT st.step, s.source,
               -- natural weight (micro) annealed linearly to uniform
               CAST((({_AN_STEPS - 1} - st.step) * (s.toks * 1000000 // t.n)
                     + st.step * (1000000 // t.k))
                    // {_AN_STEPS - 1} AS BIGINT) AS weight_micro
        FROM src s CROSS JOIN tot t CROSS JOIN steps st
    )
    SELECT step, source, weight_micro,
           CAST(weight_micro * {_AN_STEP_TOKENS} // 1000000 AS BIGINT)
               AS step_tokens
    FROM mix
    """,
)
def corpus_anneal_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase data-schedule planning: per training step, the source
    mixture anneals LINEARLY from the natural (token-proportional)
    distribution to uniform — the mid-training re-mixing modern
    pretraining recipes apply (up-weighting small high-quality sources
    late). All arithmetic is exact integer micro-weights (floor
    divisions only, both endpoints computed once per source), and the
    per-step token allocation is the micro-weight share of a constant
    step budget.

    Scale: one per-source token aggregate (map-side partials over the
    corpus), a one-row total, and a constant 10-step explode — the
    schedule table is sources x steps, megabytes at any corpus size."""
    docs = io.load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("toks")
    )
    tot = src.agg(
        F.sum("toks").alias("n"), F.count("*").alias("k")
    )
    steps = F.explode(F.array(*[F.lit(i) for i in range(_AN_STEPS)]))
    mix = (
        src.crossJoin(F.broadcast(tot))
        .withColumn("step", steps)
        .select(
            "step",
            "source",
            F.expr(
                f"(({_AN_STEPS - 1} - step) * (toks * 1000000 DIV n)"
                f" + step * (1000000 DIV k)) DIV {_AN_STEPS - 1}"
            )
            .cast("long")
            .alias("weight_micro"),
        )
    )
    return mix.select(
        "step",
        "source",
        "weight_micro",
        F.expr(f"weight_micro * {_AN_STEP_TOKENS} DIV 1000000")
        .cast("long")
        .alias("step_tokens"),
    )
