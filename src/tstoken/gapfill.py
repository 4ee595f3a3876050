"""Calendar-spine gap-fill (SURVEY.md J1, reference analogue asfreq('D')
at diagnostics.py:339).

Per source, build a dense bucket axis from min to max observed bucket
with F.sequence + F.explode, left-join the rollup, and mark/zero-fill
the holes. The join is a per-key equi-join Catalyst plans as sort-merge
(or broadcast under AQE when the spine is small); the spine is generated
from a per-source aggregate, never collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rollup import ROLLUP_COLUMNS, SUM_MEASURES, TIER_SECONDS


def gap_fill(rollup: DataFrame, tier: str) -> DataFrame:
    """Densify a tier: emitted rows have gap_filled=true, zero
    sum-merged measures, null min/max."""
    secs = TIER_SECONDS[tier]
    bounds = rollup.groupBy("source").agg(
        F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi"))
    spine = bounds.select(
        "source",
        F.explode(
            F.sequence(
                F.col("lo").cast("long"), F.col("hi").cast("long"),
                F.lit(secs))).alias("epoch")) \
        .select("source", F.timestamp_seconds("epoch").alias("bucket_ts"))
    joined = spine.join(rollup, ["source", "bucket_ts"], "left") \
        .withColumn("gap_filled", F.col("n_docs").isNull())
    for name in SUM_MEASURES:
        joined = joined.withColumn(name, F.coalesce(name, F.lit(0)))
    return joined.select(*ROLLUP_COLUMNS)
