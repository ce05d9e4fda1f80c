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
the stats side broadcasts, so the event table is never shuffled.  This
is the batch form; the same groupBy over ``F.window`` runs as a
streaming aggregation with a watermark.

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


def window_stats(
    df: DataFrame, ts_col: str = "ts", key_col: str = "event_type",
    val_col: str = "value", window: str = "1 day",
) -> DataFrame:
    """Per-(key, window) population mean/stddev/count of ``val_col``."""
    return (
        df.groupBy(
            F.col(key_col),
            F.window(F.col(ts_col), window).alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.col(val_col).cast("double")), ROUND).alias("mean"),
            F.round(F.stddev_pop(F.col(val_col).cast("double")), ROUND)
            .alias("std"),
        )
        .select(key_col, F.col("w.start").alias("w_start"), "n", "mean", "std")
    )


def value_anomalies(
    df: DataFrame, ts_col: str = "ts", key_col: str = "event_type",
    val_col: str = "value", id_col: str = "event_id",
    window: str = "1 day", z: float = Z_THRESHOLD,
) -> DataFrame:
    """Rows whose value deviates more than ``z`` population stddevs from
    their (key, window) mean.  Returns (id, key, w_start, value, zscore)
    for anomalous rows only; constant windows (std = 0) flag nothing.

    The projected event frame is seamed (lazily, session.seam) so the
    stats pass and the probe pass share ONE scan."""
    evw = seam(df.select(
        F.col(id_col), F.col(key_col), F.col(val_col).cast("double").alias("v"),
        F.window(F.col(ts_col), window)["start"].alias("w_start"),
    ))
    stats = (
        evw.groupBy(key_col, "w_start")
        .agg(
            F.round(F.avg("v"), ROUND).alias("mean"),
            F.round(F.stddev_pop("v"), ROUND).alias("std"),
        )
    )
    joined = evw.join(F.broadcast(stats), [key_col, "w_start"])
    zscore = F.round(
        (F.col("v") - F.col("mean")) / F.col("std"), ROUND)
    return (
        joined.filter(F.col("std") > 0)
        .withColumn("zscore", zscore)
        .filter(F.abs(F.col("zscore")) > z)
        .select(
            id_col, key_col,
            # rendered as a date string (repo TZ-safety convention for
            # window boundaries, same as events_tumbling_counts)
            F.date_format("w_start", "yyyy-MM-dd").alias("w_day"),
            F.col("v").alias(val_col), "zscore")
    )


def value_anomalies_sql(
    table: str, ts_col: str = "ts", key_col: str = "event_type",
    val_col: str = "value", id_col: str = "event_id",
    window_sql: str = "INTERVAL '1 day'", z: float = Z_THRESHOLD,
) -> str:
    """DuckDB twin (time_bucket == Spark's epoch-aligned tumbling window
    for day-granularity windows under UTC)."""
    return f"""
        WITH evw AS (
          SELECT {id_col}, {key_col},
                 CAST({val_col} AS DOUBLE) AS v,
                 time_bucket({window_sql}, {ts_col}) AS w_start
          FROM {table}
        ),
        stats AS (
          SELECT {key_col}, w_start,
                 round(avg(v), {ROUND}) AS mean,
                 round(stddev_pop(v), {ROUND}) AS std
          FROM evw GROUP BY {key_col}, w_start
        )
        SELECT e.{id_col}, e.{key_col},
               strftime(e.w_start, '%Y-%m-%d') AS w_day,
               e.v AS {val_col},
               round((e.v - s.mean) / s.std, {ROUND}) AS zscore
        FROM evw e JOIN stats s USING ({key_col}, w_start)
        WHERE s.std > 0
          AND abs(round((e.v - s.mean) / s.std, {ROUND})) > {z}
    """
