"""Project 1 — AWS monthly TTI/PTI top-10 pipeline
(1_AWS/README.md:40-146), Spark-first.

Reference shape: extract (S3 CSVs) → XCom JSON → transform (pandas) →
XCom JSON → load (Postgres). Here: one lazy plan, scan→derive→bucket→
exact-quantile agg→broadcast dim join→filter→top-k, with the month
parameterized instead of re-read per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.temporal import period_bucket
from ..functions import metrics as M
from ..operators.topk import topk_limit


def aws_monthly_tti(travel_times: DataFrame, tmc_shapes: DataFrame,
                    year: int, month: int, county: str = "HONOLULU",
                    k: int = 10) -> dict[str, DataFrame]:
    """Inputs (1_AWS/README.md:61-62):
    - travel_times(tmc_code, measurement_tstamp, travel_time_seconds)
    - tmc_shapes(tmc_code, county, ...)
    Outputs: top_k_tti, top_k_pti with the load-stage ``analysis_period``
    literal (1_AWS/README.md:130-131).
    """
    tt = (travel_times
          .withColumn("period", period_bucket(F.col("measurement_tstamp")))
          .filter(F.col("period").isNotNull()))
    tt50, tt85, tt95 = M.percentiles("travel_time_seconds", 0.5, 0.85, 0.95)
    agg = (tt.groupBy("tmc_code", "period")
             .agg(tt50.alias("tt50"), tt85.alias("tt85"), tt95.alias("tt95"))
             .withColumn("tti", M.tti(F.col("tt85"), F.col("tt50")))
             .withColumn("pti", M.pti(F.col("tt95"), F.col("tt50"))))
    enriched = (agg.join(F.broadcast(tmc_shapes), "tmc_code", "left")
                   .filter(F.col("county") == county)
                   .withColumn("analysis_period",
                               F.format_string("%d-%02d", F.lit(year), F.lit(month))))
    # head(10) semantics: exactly k rows, deterministic tie-break (§7.4 #4)
    top_tti = topk_limit(enriched, k, F.desc("tti"), F.col("tmc_code"), F.col("period"))
    top_pti = topk_limit(enriched, k, F.desc("pti"), F.col("tmc_code"), F.col("period"))
    return {"top_k_tti": top_tti, "top_k_pti": top_pti}
