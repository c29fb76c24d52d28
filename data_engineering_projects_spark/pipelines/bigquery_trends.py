"""Project 3 — BigQuery TTI trends/exceedance pipeline
(3_BigQuery/READ.md:44-124), Spark-first.

The reference computes per-period masks in a Python dict loop
(3_BigQuery/READ.md:66-87); here the period is a CASE column and one
groupBy covers all periods. The three sinks share one cached intermediate
instead of re-serializing through XCom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.temporal import period_bucket
from ..functions import metrics as M
from ..operators.topk import topk_limit, topk_keys_semijoin
from ..operators.windows import lag_diff


def bigquery_tti_trends(travel_times: DataFrame, tmc_shapes: DataFrame,
                        county: str = "HONOLULU", k: int = 10,
                        exceed_threshold: float = 1.5) -> dict[str, DataFrame]:
    """Inputs: travel_times(tmc_code, measurement_tstamp,
    travel_time_seconds, year), tmc_shapes(tmc_code, county, ...).
    Outputs: tti_summary, tti_top10_trends (lag diff), tti_exceedance.
    """
    tt = (travel_times
          .withColumn("period", period_bucket(F.col("measurement_tstamp")))
          .filter(F.col("period").isNotNull()))
    tt50, tt85 = M.percentiles("travel_time_seconds", 0.5, 0.85)
    tti = (tt.groupBy("tmc_code", "year", "period")
             .agg(tt50.alias("tt50"), tt85.alias("tt85"))
             .withColumn("tti", M.tti(F.col("tt85"), F.col("tt50"))))
    summary = (tti.join(F.broadcast(tmc_shapes), "tmc_code", "left")
                  .filter(F.col("county") == county)
                  .select("year", "tmc_code", "period", "tti"))
    # shared by two downstream sinks → cache once (replaces the XCom hop)
    summary = summary.cache()

    top_keys = topk_limit(
        summary.groupBy("tmc_code").agg(F.avg("tti").alias("m")),
        k, F.desc(F.round("m", 9)), F.col("tmc_code")).select("tmc_code")
    yearly = (topk_keys_semijoin(summary, top_keys, "tmc_code")
              .groupBy("tmc_code", "year").agg(F.avg("tti").alias("avg_tti")))
    trends = lag_diff(yearly, "avg_tti", "year", ["tmc_code"], out_col="tti_change")

    exceedance = (summary
                  .withColumn("exceed", M.exceedance_flag(F.col("tti"), exceed_threshold))
                  .groupBy("tmc_code", "year", "period")
                  .agg(F.avg("exceed").alias("exceed_rate")))
    return {"tti_summary": summary, "tti_top10_trends": trends,
            "tti_exceedance": exceedance}
