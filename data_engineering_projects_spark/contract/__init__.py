"""The driver contract registry: named (PySpark query, DuckDB oracle SQL)
pairs exported through ``__spark_entry__``. ``QUERIES`` is exactly the
driver-facing set and is frozen at 129 entries; COVERAGE.md records the
registry swaps that kept it there.

Conventions that make the order-insensitive value-hash comparison stable
(SURVEY.md §5.2, §7.4):

- every computed/aggregate column is aliased identically on both sides;
- floating-point outputs whose doubles are NOT bit-identical
  cross-engine are ROUNDed identically on both sides (6 dp for
  libm/moment-derived ratios, 2 dp for money-scale sums) so sub-6dp ulp
  drift can never flip a hash — but see the round-6 rule below: values
  that ARE bit-identical are emitted raw;
- any ORDER BY ... LIMIT selection orders by deterministic keys (metric,
  then id columns) and, when the metric is a float aggregate, by its
  ROUNDed value so selection is reproducible across engines;
- oracle SQL reads ``events.ts`` via CAST(ts AS TIMESTAMP) to truncate
  parquet nanoseconds to the same microseconds Spark sees;
- DuckDB SUM(int) returns HUGEINT -> always CAST(... AS BIGINT) to match
  Spark's long.
- contract queries NEVER return array/map/struct columns: the driver's
  pandas canonicalizer sorts cells and dies on unhashable numpy arrays
  (round-3 red row ``embed_normalize_quantize``). Join vectors into a
  delimited string (``array_join`` / ``array_to_string``) or explode to
  rows; ``tests/oracle.py::assert_driver_hashable`` enforces this locally.
- never ROUND a derived quotient (dec_avg, count ratios) for output — at
  an exact 7-dp rational Spark's shortest-repr HALF_UP and DuckDB's
  float-multiply ROUND disagree by one 6dp ulp (round-3 sf0.1 sweep).
  Emit the raw double: identical division on both engines is bit-exact.
- the precise rule (round-6, sharpened round-8): ROUND is a TOLERANCE
  where the two engines' doubles are NOT guaranteed bit-identical (libm
  transcendental paths like ln in TF-IDF, multi-pass moments like
  STDDEV in z-scores — there, 6dp rounding absorbs sub-6dp ulp drift)
  and pure RISK where they ARE bit-identical (integer-count quotients,
  interpolated percentiles over DISTINCT brackets and their ratios,
  identical-operand products) — emit those raw. The aws_/azure_/bq_/
  snowflake_ parity family keeps its 6dp rounding as part of the
  reference's reported-metric format; its operands are verified
  bit-exact so the residual boundary exposure is nil on the seed-stable
  driver data.
- percentile caveat (round-8, tests/test_round7.py): Spark
  ``percentile`` and DuckDB ``quantile_cont`` share the interpolation
  arithmetic ``(ceil(pos)-pos)*lo + (pos-floor(pos))*hi`` — bit-exact
  on distinct brackets — but on a DUPLICATE bracket ``[x, x]`` Spark
  short-circuits to the stored ``x`` while DuckDB's arithmetic drifts
  one ulp at non-dyadic fractions. EVERY oracle percentile at a
  non-dyadic fraction therefore renders via
  ``functions.determinism.spark_pct_sql`` (Spark-identical CASE
  short-circuit in SQL) — events.value is 2dp-quantized and duplicate
  brackets DO occur in the real groupings (none drifting; quantified
  per SF by tools/percentile_bracket_audit.py, the monitor to re-run
  before ever adding a raw ``quantile_cont`` oracle). p=0.5-only
  queries keep ``quantile_cont``: safe even on duplicates (dyadic
  frac: ``0.5*x + 0.5*x`` is exact).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a contract query; ``oracle=None`` marks a genuinely
    non-SQL-expressible op (driver falls back to rows-only check)."""
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def load_all() -> None:
    """Import all query modules so their registrations run."""
    from . import (parity, traffic, extensions, more, sessions,  # noqa: F401
                   timeseries, analytics)  # noqa: F401
