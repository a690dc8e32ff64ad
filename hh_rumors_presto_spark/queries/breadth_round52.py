"""Round-52 breadth batch: mixed-script detection, the DECIMAL
typing contract, and HHI concentration.

- ``text_script_mix`` — encoding/spoofing hygiene: per document, the
  ASCII-letter vs non-ASCII character split and a mixed-script flag
  (both present above a floor) — mixed-script runs are how mojibake,
  confusable-character spoofing, and double-encoded crawls look
  from the data side; censused per language.
- ``sink_decimal_contract`` — money typed as money: cents become
  DECIMAL(14,2) at the sink, the round trip preserves exact sums,
  and the re-read schema is asserted to still be DECIMAL(14,2) —
  not silently widened to double — the typing contract that keeps
  order-insensitive exact money aggregation possible downstream.
- ``agg_hhi`` — the Herfindahl–Hirschman concentration index over
  supplier revenue: Σ share² as an exact integer rational, plus the
  effective competitor count 1/HHI — the antitrust-grade
  concentration number next to agg_gini's inequality view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import half_up
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# text_script_mix
# --------------------------------------------------------------------------


@query(
    "text_script_mix",
    oracle="""
    WITH sig AS (
        SELECT lang,
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   AS n_ascii,
               length(regexp_replace(text, '[ -~]', '', 'g'))
                   AS n_nonascii
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_ascii) AS BIGINT) AS ascii_letters,
           CAST(sum(n_nonascii) AS BIGINT) AS nonascii_chars,
           CAST(sum(CASE WHEN n_ascii >= 5 AND n_nonascii >= 5
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
           CAST((2000000 * sum(CASE WHEN n_ascii >= 5 AND n_nonascii >= 5
                               THEN 1 ELSE 0 END) + count(*))
               // (2 * count(*)) AS BIGINT) AS mixed_rate_micro
    FROM sig GROUP BY lang
    """,
)
def text_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-script hygiene census: per document, ASCII-letter count
    vs non-printable-ASCII character count (pure regexp counting —
    engine-identical), a doc is MIXED when both are present above a
    5-char floor, and the per-language mixed rate ships in integral
    micro units. Mixed-script text is the on-disk signature of
    mojibake, double-encoded crawls, and confusable-character
    spoofing — a mixed-rate spike in one language is an ingestion
    incident, not a linguistics event.

    Scale: a narrow regexp map then a language-grain fold — map-side
    partials throughout."""
    sig = io.load_table(spark, sf_dir, "documents").select(
        "lang",
        F.length(
            F.regexp_replace("text", "[^a-zA-Z]", "")
        ).alias("n_ascii"),
        F.length(
            F.regexp_replace("text", "[ -~]", "")
        ).alias("n_nonascii"),
    )
    mixed = (F.col("n_ascii") >= 5) & (F.col("n_nonascii") >= 5)
    return sig.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_ascii").cast("long").alias("ascii_letters"),
        F.sum("n_nonascii").cast("long").alias("nonascii_chars"),
        F.sum(F.when(mixed, 1).otherwise(0))
        .cast("long")
        .alias("n_mixed"),
        F.expr(
            "(2000000 * sum(CASE WHEN n_ascii >= 5 AND n_nonascii >= 5"
            " THEN 1 ELSE 0 END) + count(*)) div (2 * count(*))"
        ).alias("mixed_rate_micro"),
    )


# --------------------------------------------------------------------------
# sink_decimal_contract
# --------------------------------------------------------------------------


@query(
    "sink_decimal_contract",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_decimal_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money typed as money: totals convert ONCE from the double
    fixture to exact cents, serialize as DECIMAL(14,2) parquet, and
    the re-read is asserted to still carry decimal(14,2) — a sink
    that silently widens money back to double re-introduces the
    order-dependent float sums this whole repo's money discipline
    exists to avoid. The content proof is the exact cent census
    against the source.

    Scale: DECIMAL aggregation is order-insensitive integer
    arithmetic under the hood — the reason the flagship money paths
    sum in DECIMAL; this key pins the storage half of that
    contract."""
    orders = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        (
            half_up(F.col("o_totalprice"), 2)
            / 100.0
        )
        .cast("decimal(14,2)")
        .alias("price_dec"),
    )
    out_dir = io.scoped_tmp_dir(spark, "decimal", sf_dir)
    orders.write.mode("overwrite").parquet(out_dir)
    back = spark.read.parquet(out_dir)
    dt = dict(back.dtypes)["price_dec"]
    if dt != "decimal(14,2)":
        raise AssertionError(
            f"decimal contract violated: price_dec read back as {dt}"
        )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        (F.sum("price_dec") * 100)
        .cast("long")
        .alias("cents_sum"),
    )


# --------------------------------------------------------------------------
# agg_hhi
# --------------------------------------------------------------------------


@query(
    "agg_hhi",
    oracle="""
    WITH s AS (
        SELECT l_suppkey,
               sum(CAST(floor(l_extendedprice / 1000.0 + 0.5)
                        AS BIGINT)) AS kdollars
        FROM lineitem GROUP BY l_suppkey
    ),
    m AS (
        SELECT count(*) AS k, sum(kdollars) AS tot,
               sum(kdollars * kdollars) AS sq,
               max(kdollars) AS top
        FROM s
    )
    SELECT CAST(k AS BIGINT) AS n_suppliers,
           CAST(tot AS BIGINT) AS total_kdollars,
           CAST((2000000 * sq + tot * tot) // (2 * tot * tot)
               AS BIGINT) AS hhi_micro,
           CAST((2 * tot * tot + sq) // (2 * sq) AS BIGINT) AS effective_n,
           CAST((2000000 * top + tot) // (2 * tot) AS BIGINT) AS top_share_micro
    FROM m
    """,
)
def agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of supplier revenue:
    HHI = Σ share² as the exact integer rational Σd²/(Σd)² in
    half-up micro units (KILO-dollar quantization keeps both Σd² and
    the 2e6-scaled numerator inside BIGINT at realistic scales —
    whole dollars overflowed already at sf0.01), the EFFECTIVE supplier count
    1/HHI (how many equal-size suppliers this market behaves like),
    and the single largest share. HHI > 0.25 (250000 micro) is the
    antitrust red zone; the effective-N translation is what makes
    the number legible. Complements agg_gini: Gini measures
    inequality among all, HHI weights the head quadratically.

    Scale: supplier-grain revenue fold (map-side partials), one-row
    moment fold — integral divisions only."""
    s = (
        io.load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") / 1000.0 + 0.5)
                .cast("long")
            ).alias("kdollars")
        )
    )
    m = s.agg(
        F.count("*").alias("k"),
        F.sum("kdollars").alias("tot"),
        F.sum(F.col("kdollars") * F.col("kdollars")).alias("sq"),
        F.max("kdollars").alias("top"),
    )
    return m.select(
        F.col("k").cast("long").alias("n_suppliers"),
        F.col("tot").cast("long").alias("total_kdollars"),
        # sq (sum of squares) and tot*tot are quadratic in the money
        # scale: DuckDB's sum() side computes them in HUGEINT, so the
        # Spark operands are DECIMAL(38,0)-widened to keep agreement
        # unconditional (registry.py envelope note)
        F.expr(
            "CAST((2000000 * CAST(sq AS DECIMAL(38,0))"
            " + CAST(tot AS DECIMAL(38,0)) * tot)"
            " DIV (2 * CAST(tot AS DECIMAL(38,0)) * tot) AS BIGINT)"
        ).alias("hhi_micro"),
        F.expr(
            "CAST((2 * CAST(tot AS DECIMAL(38,0)) * tot + sq)"
            " DIV (2 * CAST(sq AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("effective_n"),
        F.expr("(2000000 * top + tot) div (2 * tot)").alias(
            "top_share_micro"
        ),
    )
