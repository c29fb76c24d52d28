"""Project 2 — Azure yearly severity/variability pipeline
(2_Azure/READ.md:40-107), Spark-first.

The reference's sequential year loop with driver-side list accumulation
(2_Azure/READ.md:45-90) becomes a ``year`` column on a single multi-year
relation: the per-year quantile agg and the cross-year mean are two
groupBys on one lazy plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import metrics as M
from ..operators.topk import topk_limit


def azure_yearly_severity(travel_times: DataFrame, tmc_shapes: DataFrame,
                          county: str = "HONOLULU", k: int = 10,
                          years_label: str | None = None) -> dict[str, DataFrame]:
    """Inputs: travel_times(tmc_code, measurement_tstamp,
    travel_time_seconds, year), tmc_shapes(tmc_code, county, ...).
    Outputs (2_Azure/READ.md:98-107): severity_summary (top-k per year,
    appended), variability_summary (top-k cross-year averages, replaced).
    """
    tt50, tt85, tt95 = M.percentiles("travel_time_seconds", 0.5, 0.85, 0.95)
    q = (travel_times.groupBy("tmc_code", "year")
         .agg(tt50.alias("tt50"), tt85.alias("tt85"), tt95.alias("tt95"))
         .withColumn("tti", M.tti(F.col("tt85"), F.col("tt50")))
         .withColumn("pti", M.pti(F.col("tt95"), F.col("tt50")))
         .withColumn("severity", M.severity(F.col("tti"), F.col("pti")))
         .withColumn("variability", M.variability(F.col("tti"), F.col("pti"))))
    enriched = (q.join(F.broadcast(tmc_shapes), "tmc_code", "left")
                 .filter(F.col("county") == county))

    # per-year top-k by severity (reference appends per-year nlargest,
    # 2_Azure/READ.md:82-86) — rank window partitioned by year, cut at k
    # with deterministic tie-break via row_number-style ordering
    from pyspark.sql import Window
    w = Window.partitionBy("year").orderBy(F.desc("severity"), "tmc_code")
    severity_summary = (enriched
                        .withColumn("__rn", F.row_number().over(w))
                        .filter(F.col("__rn") <= k).drop("__rn")
                        .select("tmc_code", "year", "severity"))

    # cross-year average variability, global top-k (2_Azure/READ.md:93-95)
    variability_summary = topk_limit(
        enriched.groupBy("tmc_code").agg(F.avg("variability").alias("variability")),
        k, F.desc(F.round("variability", 9)), F.col("tmc_code"))
    if years_label:
        variability_summary = variability_summary.withColumn("years", F.lit(years_label))
    return {"severity_summary": severity_summary,
            "variability_summary": variability_summary}
