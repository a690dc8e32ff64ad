"""Exact values: the one place Spark code spells the per-row exact
DECIMAL type and the half-up BIGINT fixed point.

SUM over doubles depends on reduction order, and Spark and DuckDB reduce
in different orders, so every money sum runs over DECIMAL, which gives the
same value under any partitioning:

- each row is cast to ``decimal(28,s)`` (:func:`dec`); ``F.sum`` then
  accumulates in ``decimal(38,s)``;
- a product is cast at its true decimal grid: scale 4 for
  price x (1 - disc) (:func:`revenue`), scale 6 with a (1 + tax) factor.
  A two-op double product can sit ~2e-10 off its grid value, wider than
  the scale-10 half-grid, where Spark's string-mediated and DuckDB's
  value-mediated double->DECIMAL casts then disagree; at the true grid
  both land on the same point. Single 2-dec columns may keep scale 10;
- the sum is rounded (``round(x, 2)`` rounds half away from zero in both
  engines) and cast to DOUBLE only in the final projection: DuckDB's
  decimal->double is correctly rounded only while the unscaled value fits
  in 2^53, and a bare cast to a lower scale truncates in DuckDB but rounds
  half-up in Spark.

Values that sum or compare as integers instead round half up to a BIGINT
fixed point at ``scale`` decimals (:func:`half_up`): integer sums are
exact in any order, and integer results compare exactly across engines.

Oracles spell the same casts in their own SQL; they are the reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec_type(scale: int) -> str:
    """The per-row exact type ``decimal(28,scale)``, for SQL text."""
    return f"decimal(28,{scale})"


def dec(c: Column, scale: int) -> Column:
    """``c`` cast to ``decimal(28,scale)``."""
    return c.cast(dec_type(scale))


def revenue() -> Column:
    """``l_extendedprice * (1 - l_discount)`` exact at scale 4."""
    return dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)


def half_up(c: Column, scale: int) -> Column:
    """``c`` rounded half up to a BIGINT at ``scale`` decimals:
    ``floor(double(c) * 10^scale + 0.5)``, the oracles'
    ``CAST(floor(CAST(x AS DOUBLE) * 100.0 + 0.5) AS BIGINT)`` at scale 2.

    The floor is explicit because the bare cast differs: CAST(double AS
    BIGINT) rounds to nearest in DuckDB but truncates toward zero in
    Spark.  Both engines multiply the same DOUBLE by the same power of
    ten, so a value stored just under a half step (1.005 is 1.00499...
    in binary, and 1.005 * 100 is 100.49999...) rounds down in both."""
    return F.floor(c.cast("double") * float(10**scale) + 0.5)
