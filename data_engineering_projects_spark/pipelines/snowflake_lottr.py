"""Project 4 — Snowflake LOTTR trend-tracking pipeline
(4_Snowflake/READ.md:44-121), Spark-first.

The reference's iterated per-period merge loop (4_Snowflake/READ.md:87-91)
is a pivot; its driver-side list of per-year dicts (:99-103) is just
another groupBy; its implicit-order ``pct_change`` (:115-118) is an
explicit year-ordered window (§7.4 trap #3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.temporal import period_bucket
from ..functions import metrics as M
from ..operators.pivot import pivot_agg
from ..operators.windows import pct_change

PERIODS = ("amp", "mid", "pmp", "we")


def snowflake_lottr(travel_times: DataFrame, tmc_shapes: DataFrame,
                    county: str = "HONOLULU") -> dict[str, DataFrame]:
    """Inputs: travel_times(tmc_code, measurement_tstamp,
    travel_time_seconds, year), tmc_shapes(tmc_code, county, ...).
    Outputs: tti_summary (per-segment LOTTR pivot by period, fillna 0 —
    column-scoped per §7.4 trap #7), tti_trends (per-year global means +
    pct_change per period column).
    """
    tt = (travel_times
          .withColumn("period", period_bucket(F.col("measurement_tstamp")))
          .filter(F.col("period").isNotNull()))
    lottr = (tt.groupBy("tmc_code", "year", "period")
               .agg(M.lottr(*M.percentiles("travel_time_seconds", 0.8, 0.5))
                    .alias("lottr")))
    lottr = (lottr.join(F.broadcast(tmc_shapes), "tmc_code", "left")
                  .filter(F.col("county") == county))
    lottr = lottr.cache()

    summary = pivot_agg(lottr, ["tmc_code", "year"], "period", list(PERIODS),
                        F.first("lottr"), fill=0.0)

    yearly = (lottr.groupBy("year")
                   .pivot("period", list(PERIODS)).agg(F.avg("lottr"))
                   .na.fill(0.0, subset=list(PERIODS)))
    trends = yearly
    for p in PERIODS:
        trends = pct_change(trends, p, "year", out_col=f"{p}_change")
    return {"tti_summary": summary, "tti_trends": trends}
