"""Windowed anomaly detection over event streams — per-(key, window)
z-score flagging, the telemetry-engine op downstream of the routed sinks
(engine breadth next to SURVEY §2.6's windows/top-k; the reference stops
at routing, a log analytics user's first question after "route it" is
"which values are abnormal").

Scale shape: ONE scan of the events, one shuffle total (VERDICT r3 #5
closed the double scan).  The projected event frame (id, key, value,
window start — the only columns either pass needs) is seam-materialized
once; pass 1 aggregates mean/stddev per (key, tumbling window) over it —
map-side combined, output is (keys x windows) rows: TINY next to the
events.  Pass 2 joins the stats back to the SAME materialized frame —
the stats side broadcasts, so the event table is never shuffled.

Determinism/oracle parity: population stddev (``stddev_pop``) and the
z-score are rounded to 6 dp on both engines; a window with stddev 0
(constant values) flags nothing rather than dividing by zero.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ulp_spark.session import seam

ROUND = 6
Z_THRESHOLD = 3.0


def value_anomalies(df: DataFrame) -> DataFrame:
    """Events whose ``value`` deviates more than ``Z_THRESHOLD`` population
    stddevs from their (event_type, 1-day window) mean.  Returns
    (event_id, event_type, w_day, value, zscore) for anomalous rows only;
    constant windows (std = 0) flag nothing.

    The projected event frame is seamed (lazily, session.seam) so the
    stats pass and the probe pass share ONE scan."""
    evw = seam(df.select(
        F.col("event_id"), F.col("event_type"),
        F.col("value").cast("double").alias("v"),
        F.window(F.col("ts"), "1 day")["start"].alias("w_start"),
    ))
    stats = (
        evw.groupBy("event_type", "w_start")
        .agg(
            F.round(F.avg("v"), ROUND).alias("mean"),
            F.round(F.stddev_pop("v"), ROUND).alias("std"),
        )
    )
    joined = evw.join(F.broadcast(stats), ["event_type", "w_start"])
    zscore = F.round(
        (F.col("v") - F.col("mean")) / F.col("std"), ROUND)
    return (
        joined.filter(F.col("std") > 0)
        .withColumn("zscore", zscore)
        .filter(F.abs(F.col("zscore")) > Z_THRESHOLD)
        .select(
            "event_id", "event_type",
            # rendered as a date string (repo TZ-safety convention for
            # window boundaries, same as events_tumbling_counts)
            F.date_format("w_start", "yyyy-MM-dd").alias("w_day"),
            F.col("v").alias("value"), "zscore")
    )


def value_anomalies_sql(table: str) -> str:
    """DuckDB twin (time_bucket == Spark's epoch-aligned tumbling window
    for day-granularity windows under UTC)."""
    return f"""
        WITH evw AS (
          SELECT event_id, event_type,
                 CAST(value AS DOUBLE) AS v,
                 time_bucket(INTERVAL '1 day', ts) AS w_start
          FROM {table}
        ),
        stats AS (
          SELECT event_type, w_start,
                 round(avg(v), {ROUND}) AS mean,
                 round(stddev_pop(v), {ROUND}) AS std
          FROM evw GROUP BY event_type, w_start
        )
        SELECT e.event_id, e.event_type,
               strftime(e.w_start, '%Y-%m-%d') AS w_day,
               e.v AS value,
               round((e.v - s.mean) / s.std, {ROUND}) AS zscore
        FROM evw e JOIN stats s USING (event_type, w_start)
        WHERE s.std > 0
          AND abs(round((e.v - s.mean) / s.std, {ROUND})) > {Z_THRESHOLD}
    """
