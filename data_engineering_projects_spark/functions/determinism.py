"""Order-independent aggregation builders — determinism by construction.

Float ``SUM``/``AVG`` in any distributed engine depends on partition merge
order at the last ulp; ``ROUND(AVG(x), 6)`` then flips on half-boundaries
between runs (the CORRECTNESS_r01 ``dbt_congestion_hourly`` flake, VERDICT.md
"What's wrong" #1).  These builders make the aggregate a pure function of the
input *set*, so Spark and the DuckDB oracle agree bit-for-bit:

- ``dec_avg`` / ``dec_sum``: route the sum through an exact ``DECIMAL``.
  Integer decimal addition is associative/commutative, so the result is
  independent of partition count and merge order.  For source columns with
  <= 2 decimal places (every money column and ``events.value`` in the
  testdata), ``CAST(x AS DECIMAL(18,6))`` is *exact* on both engines.
  CAUTION — do NOT quantize *derived ratios of decimal data* through a
  decimal cast: percentile ratios of 2dp values land exactly on 7-decimal
  rationals (e.g. 1.2521875, observed in the lottr series), where Spark's
  cast (shortest-repr HALF_UP) and DuckDB's (float-multiply, half-even)
  disagree.  Quantization is safe only for (a) sources whose decimal
  places are strictly below the cast scale, or (b) full-mantissa random
  floats (embeddings), whose mass on decimal half-boundaries is ~1e-9.
- ``fold_avg``: when the *inputs themselves* are derived doubles (ratios,
  indexes) and the group is schema-bounded (hours per day, weeks per year),
  sum them in ascending order via a sequential fold.  Spark's
  ``aggregate(array_sort(collect_list(x)))`` and DuckDB's ordered aggregate
  ``SUM(x ORDER BY x)`` both reduce left-to-right over the sorted values
  (verified empirically), so the two engines produce the same double.

Cross-engine ROUND is *usually* consistent given identical inputs (15k
adversarial cases in round 2), **but ROUND of a derived double CAN diverge
when the true value is an exact 7-decimal rational on a 6dp half-boundary**
(round-3 sf0.1 sweep, commit 096a60b: ``0.616992/192 = 0.0032135`` — Spark's
shortest-repr HALF_UP rounds down, DuckDB's float-multiply rounds up;
pinned by ``tests/test_properties.py::
test_round_of_derived_ratio_diverges_but_raw_quotient_matches``).  The rule:
never ROUND a derived quotient (``dec_avg`` result, count ratios, score
divisions) for contract output — emit the raw double; identical division of
identical operands is bit-exact on both engines.  ROUND directly on 2dp
*source* data (or sums of it) remains safe: those values can't land on a
deeper half-boundary than the cast scale.

Scale note (100 TB): ``dec_avg``/``dec_sum`` keep the map-side partial-agg
shape — a decimal accumulator instead of a double, same shuffle volume.
``fold_avg`` buffers one group's values (collect_list), so it is reserved
for groups bounded by the schema (<= a few thousand rows), never for
unbounded fan-in; use ``dec_avg`` there.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec_avg(col: Column, scale: int = 6, precision: int = 18) -> Column:
    """Order-independent mean: exact DECIMAL sum divided by count."""
    s = F.sum(col.cast(f"decimal({precision},{scale})")).cast("double")
    # try_divide: an all-NULL group has count 0 — yield NULL (like AVG and
    # the DuckDB oracle) instead of an ANSI divide-by-zero error.
    return F.try_divide(s, F.count(col))


#: DuckDB/ANSI rendering of :func:`dec_avg` (format with c=column, s=scale).
DEC_AVG_SQL = "(CAST(SUM(CAST({c} AS DECIMAL(18,{s}))) AS DOUBLE) / COUNT({c}))"


def dec_sum(col: Column, scale: int = 2, precision: int = 18) -> Column:
    """Order-independent sum through an exact DECIMAL, emitted as DOUBLE."""
    return F.sum(col.cast(f"decimal({precision},{scale})")).cast("double")


#: DuckDB/ANSI rendering of :func:`dec_sum`.
DEC_SUM_SQL = "CAST(SUM(CAST({c} AS DECIMAL(18,{s}))) AS DOUBLE)"


def fold_avg(col: Column) -> Column:
    """Order-independent mean of derived doubles in a schema-bounded group:
    sequential left fold over the ascending-sorted values.  NULLs are
    dropped (collect_list skips them), matching ``AVG``/``COUNT(col)``."""
    arr = F.array_sort(F.collect_list(col))
    total = F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)
    # try_divide: all-NULL group -> empty array -> NULL, matching AVG/oracle.
    return F.try_divide(total, F.size(arr))


#: DuckDB rendering of :func:`fold_avg` — the ordered aggregate feeds SUM's
#: accumulator in ascending order, i.e. the same sequential fold.
FOLD_AVG_SQL = "(SUM({c} ORDER BY {c}) / COUNT({c}))"


def fold_sum(col: Column) -> Column:
    """Order-independent sum of derived doubles: sequential left fold over
    the ascending-sorted values. NULLs dropped (collect_list skips them).
    Empty/all-NULL groups yield 0.0 where DuckDB's ordered SUM yields NULL
    — callers must pre-filter NULLs or guarantee non-empty groups.

    Building block for the *two-level fold*: when a group's fan-in is
    data-bounded (not schema-bounded), fold per (group, hash-bucket)
    first — the per-bucket buffer is fan-in/B — then fold the <= B bucket
    sums and divide by the summed counts. Each level is a pure function
    of its input multiset, so determinism is preserved, and B is a knob
    sized so per-bucket collect_list fits executor memory at target
    scale."""
    arr = F.array_sort(F.collect_list(col))
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


#: DuckDB rendering of :func:`fold_sum`.
FOLD_SUM_SQL = "SUM({c} ORDER BY {c})"


def half_round(col: Column, digits: int) -> Column:
    """``ROUND(col, digits)`` half away from zero, spelled as IEEE double
    operations that Spark and DuckDB perform bit-identically:
    ``sign(x) * floor(|x| * 10^d + 0.5) / 10^d``.

    Plain ``ROUND`` of a derived double diverges between the engines on
    a decimal half-boundary: Spark rounds the shortest repr HALF_UP,
    DuckDB rounds the float product ``x * 10^d``. A mean of 6dp values
    lands there (``(96.013224 + 12.886776) / 2`` is the double
    ``54.449999999999996``: Spark ``ROUND(.., 1)`` gives 54.4, DuckDB
    54.5). Use this where a contract output must round a derived double;
    a tiny negative still rounds to ``-0.0``, so add ``+ 0.0`` after it."""
    p = F.lit(float(10 ** digits))
    return F.signum(col) * F.floor(F.abs(col) * p + F.lit(0.5)) / p


#: DuckDB rendering of :func:`half_round` (format with c=column, d=digits).
HALF_ROUND_SQL = ("(SIGN({c}) * FLOOR(ABS({c}) * CAST(1e{d} AS DOUBLE)"
                  " + CAST(0.5 AS DOUBLE)) / CAST(1e{d} AS DOUBLE))")


def spark_pct_sql(lst: str, cnt: str, p: float) -> str:
    """DuckDB SQL for an exact percentile that is bit-identical to
    Spark ``F.percentile`` BY CONSTRUCTION — for use in oracles whose
    raw-emitted percentiles range over DISCRETE data (integer counts,
    2dp money), where duplicate values can land on the interpolation
    bracket.

    Round-8 finding (tests/test_round7.py pins it): Spark and DuckDB
    share the interpolation arithmetic ``(ceil(pos)-pos)*lo +
    (pos-floor(pos))*hi`` with ``pos = p*(n-1)`` — distinct brackets
    are bit-identical cross-engine — but on a DUPLICATE bracket
    ``[x, x]`` Spark short-circuits to the stored ``x`` while DuckDB's
    ``quantile_cont`` runs the arithmetic, which drifts one ulp at
    non-dyadic fractions (e.g. ``(1-f)*x + f*x != x`` for
    ``x=1.19073486328125e-05, f=1/3``). Duplicate brackets DO occur on
    the driver data (events.value is 2dp-quantized — counted per SF by
    ``tools/percentile_bracket_audit.py``), so every oracle percentile
    at a non-dyadic fraction uses this rendering; only dyadic p=0.5
    oracles keep ``quantile_cont`` (exact even on duplicates).

    ``lst`` must be a sorted DOUBLE list expression (``list_sort(
    list(CAST(x AS DOUBLE)))``), ``cnt`` its element count. The CASE's
    equal-value branch also covers an integral ``pos`` (lo == hi index
    → same element). Oracle-side only: the list materializes one
    group in memory, which is exactly what Spark's exact ``percentile``
    buffer does too — the 100 TB path swaps both for the GK sketch."""
    # CAST the fraction to DOUBLE: DuckDB parses a bare decimal literal
    # as DECIMAL, making pos EXACT decimal arithmetic (1862.95) where
    # Spark computes the double 1862.9499999999998 — the bracket frac
    # must carry the same representation error on both engines.
    pos = f"(CAST({p!r} AS DOUBLE) * ({cnt} - 1))"
    lo = f"{lst}[CAST(FLOOR({pos}) AS BIGINT) + 1]"
    hi = f"{lst}[CAST(CEIL({pos}) AS BIGINT) + 1]"
    return (f"(CASE WHEN {lo} = {hi} THEN {lo} "
            f"ELSE (CEIL({pos}) - {pos}) * {lo} "
            f"+ ({pos} - FLOOR({pos})) * {hi} END)")
