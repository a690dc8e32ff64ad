"""Query + oracle registry backing the driver contract.

Every operator from SURVEY.md §2 registers here via the :func:`query`
decorator. ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views
over these dicts. The oracle is ANSI SQL executed by DuckDB over the same
parquet fixtures; queries whose semantics DuckDB cannot express (streaming
internals, LSH approximations) register with ``oracle=None`` and get the
driver's weaker rows-only check.

Oracle-parity rules applied throughout (SURVEY.md §7.4):
- float aggregates rounded in BOTH engines before comparison;
- ``events.ts`` has shipped as nanosecond-precision parquet (older
  fixtures) and as µs TIMESTAMP (newer) — Spark normalizes to µs on read
  (io.load_events), so oracles must ``CAST(ts AS TIMESTAMP)`` (DuckDB
  TIMESTAMP_NS -> TIMESTAMP truncates to µs; a no-op on µs fixtures)
  before using it;
- every computed column aliased identically in Spark and SQL;
- deterministic total orders (unique-key tiebreakers) wherever the surviving
  or selected row matters;
- half-up integer ratios whose numerator can pass 2^53 use integral
  ``div`` (Spark) / ``//`` (DuckDB) — BOTH truncate toward zero, so they
  match bit-for-bit on any sign — never ``floor(a / b)``: BIGINT ``/`` in
  Spark routes through a double, and past 2^53 the floored quotient went
  one off from DuckDB's exact ``//`` (found by ts_autoperiod's ACF sums;
  the sub-2^53 floor sites are verified safe through ~sf10 magnitudes);
- the ``(2000000 * num + den) // (2 * den)`` micro-ratio numerators are
  BIGINT on the Spark side but silently promote to HUGEINT in DuckDB, so
  the engines only agree while ``2000000 * num`` stays under 2^63 —
  i.e. num < ~4.6e12. Every site whose num is cents-sum-typed,
  a sum of products, or quadratic in an entity count (agg_lorenz_deciles,
  agg_vwap_twap, agg_cvar_es, win_atr, ts_autoperiod, agg_hhi,
  ts_dispersion_test, dq_rank_stability, agg_engagement_gini) is
  DECIMAL(38,0)-widened at the source, so cross-engine agreement is
  unconditional there. The envelope now covers only the COUNT-typed
  sites (num = a linear row/term count), which hold through ~sf10,000;
  past that, widen the same way. Oracle OUTPUT
  columns additionally must not be int128-typed — the driver's Arrow
  materialization renders HUGEINT as decimal128 and the hash diverges
  from Spark's LONG — so every micro-ratio is wrapped in
  ``CAST(... AS BIGINT)`` in its final SELECT and
  tests/test_oracle_types.py gates the whole registry;
- money sums are exact DECIMAL sums, and values summed or compared as
  integers round half up to a BIGINT fixed point with ``half_up``
  (both in ``functions.exact``).

Both numeric-envelope bounds above are PROPERTY-PINNED by
tests/test_numeric_envelope.py: live under/over-bound drives of
the micro-ratio (bit-exact under 2^63; ANSI ARITHMETIC_OVERFLOW — loud,
never silent — over it; the DECIMAL(38,0)-widened remedy bit-exact past
it) and of floor-division (bit-exact under 2^53; the pinned 2^53+1
divergence DIV avoids), plus a live-JVM pin of the product-cast grid
expectations.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name`` with an optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all_queries() -> None:
    """Import every query module (side effect: registry population)."""
    from hh_rumors_presto_spark import queries as _q  # noqa: F401

    _q.load()
