"""Domain metric expressions — the formulas that ARE the product
(SURVEY.md §0).

All are pure Column arithmetic over exact percentiles; quantile parity
with np.quantile / PERCENTILE_CONT / DuckDB quantile_cont comes from
Spark's exact ``F.percentile`` (linear interpolation), NOT
``percentile_approx`` (SURVEY.md §4.3). ``approx_percentile`` is the
documented opt-in for the 100 TB path where a bounded-memory sketch is
preferred over a per-group shuffle of raw values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def percentiles(col, *ps: float) -> list[Column]:
    """Exact percentiles of ``col`` at each of ``ps`` from ONE ``Percentile``
    aggregate: ``F.percentile`` over the array of ``ps``, indexed. Use the
    returned columns in one ``agg``; Spark keeps one buffer (one copy of
    the group's value counts) for all of them, where a ``F.percentile``
    per fraction keeps and shuffles one each. Each element runs the same
    ``getPercentile`` as the scalar form, so values are bit-identical."""
    pct = F.percentile(col, list(ps))
    return [pct[i] for i in range(len(ps))]


def tti(p85: Column, p50: Column) -> Column:
    """Travel Time Index = p85/p50 (1_AWS/README.md:101-103)."""
    return p85 / p50


def pti(p95: Column, p50: Column) -> Column:
    """Planning Time Index = p95/p50 (1_AWS/README.md:103)."""
    return p95 / p50


def severity(tti_col: Column, pti_col: Column) -> Column:
    """(TTI + PTI) / 2 (2_Azure/READ.md:72)."""
    return (tti_col + pti_col) / F.lit(2.0)


def variability(tti_col: Column, pti_col: Column) -> Column:
    """PTI / TTI (2_Azure/READ.md:73)."""
    return pti_col / tti_col


def lottr(p80: Column, p50: Column) -> Column:
    """Level of travel-time reliability = p80/p50 (4_Snowflake/READ.md:74-83)."""
    return p80 / p50


def exceedance_flag(tti_col: Column, threshold: float = 1.5) -> Column:
    """Boolean exceedance -> int for mean-of-boolean rate semantics
    (3_BigQuery/READ.md:119-122; SURVEY.md §7.4 trap #5)."""
    return (tti_col > F.lit(threshold)).cast("int")


def speed_ratio(avg_speed: Column, speed_limit: Column) -> Column:
    """avg_speed / NULLIF(speed_limit, 0) (5_dbt/READ.md:461, :801)."""
    return avg_speed / F.nullif(speed_limit.cast("double"), F.lit(0.0))


def congestion_index(avg_speed: Column, volume: Column, speed_limit: Column,
                     lanes: Column) -> Column:
    """dbt ``calculate_congestion_index`` macro (5_dbt/READ.md:786-806):

    LEAST((1 - speed/NULLIF(limit,0)) * volume/NULLIF(2000*lanes,1), 1.0)
    — NULL-safe, clamped to 1.0.
    """
    ratio = F.lit(1.0) - (avg_speed / F.nullif(speed_limit.cast("double"), F.lit(0.0)))
    load = volume.cast("double") / F.nullif((F.lit(2000) * lanes).cast("double"), F.lit(1.0))
    return F.least(ratio * load, F.lit(1.0))


#: DuckDB/ANSI rendering for oracle SQL strings.
CONGESTION_INDEX_SQL = (
    "LEAST((1 - {speed} / NULLIF(CAST({limit} AS DOUBLE), 0))"
    " * (CAST({volume} AS DOUBLE) / NULLIF(CAST(2000 * {lanes} AS DOUBLE), 1)), 1.0)"
)
