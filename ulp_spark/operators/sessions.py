"""Gap-based sessionization — the log-analytics operator every event
pipeline needs (absent in the reference, SURVEY §2.6 engine breadth).

A session is a maximal run of a user's events where consecutive gaps stay
within 30 minutes: the classic two-window composition —

    is_new  = gap_to_previous > threshold      (lag over user window)
    session = running sum of is_new            (sum over the same window)

Both windows partition by the same key, so the plan shuffles ONCE on
user_id and evaluates both passes inside one WindowExec pipeline; the
final per-session aggregate reuses the same hash partitioning.  At 100 TB
the user_id shuffle is the cost; skewed "bot" users are bounded because a
window over one key streams, it does not buffer the partition in one
aggregation buffer.

All outputs are TIME-DIFFERENCE based (epoch-microsecond subtractions), so
results are independent of the session time zone regardless of how the
parquet timestamps were adjusted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GAP_US = 30 * 60 * 1_000_000  # 30 min, in exact microseconds


def _epoch_us(df: DataFrame):
    """Exact epoch microseconds of ``ts``; NTZ timestamps (the parquet
    naive form) use timestampdiff so no session-TZ interpretation ever
    happens."""
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        return F.expr(
            "timestampdiff(MICROSECOND, "
            "timestamp_ntz'1970-01-01 00:00:00', ts)")
    return F.unix_micros(F.col("ts"))


def sessionize(df: DataFrame) -> DataFrame:
    """Per-(user_id, session) stats: event count, first event id,
    duration.  Events are ordered by (ts, event_id); a gap over
    ``GAP_US`` starts a new session."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = _epoch_us(df)
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > GAP_US), 1).otherwise(0)
    flagged = df.select(
        "user_id", "event_id", "ts", is_new.alias("is_new"))
    sess = flagged.withColumn("session_no", F.sum("is_new").over(w))
    us2 = _epoch_us(sess)
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event_id"),
            (F.max(us2) - F.min(us2)).alias("duration_us"),
        )
    )


def _session_cte_sql(table: str) -> str:
    """Shared flagged/sess CTE body (strict > tie rule) used by BOTH
    session oracles — one place to edit the boundary semantics."""
    return f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {GAP_US}
             THEN 1 ELSE 0 END AS is_new
      FROM {table}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, ts,
             sum(is_new) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS session_no
      FROM flagged
    )
    """


def session_window_stats(df: DataFrame) -> DataFrame:
    """Same stats via Spark's NATIVE ``session_window`` — the streaming-
    capable form (swap ``df`` for a stream + watermark and this groupBy is
    a stateful session aggregation with no other change).

    Boundary semantics match :func:`sessionize` exactly, INCLUDING the tie
    rule: an event landing exactly at prev_ts + gap still merges (verified
    empirically — Spark's session end is inclusive; a new session needs
    diff > gap).  The unit test pins the exactly-at-gap case on both ops,
    so an upstream semantic change would be caught.
    """
    us = _epoch_us(df)
    return (
        df.groupBy("user_id",
                   F.session_window(F.col("ts"), "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event_id"),
            (F.max(us) - F.min(us)).alias("duration_us"),
        )
        .drop("w")
    )


def session_window_stats_sql(table: str) -> str:
    """DuckDB twin of :func:`session_window_stats` (same tie rule as
    :func:`sessionize_sql`; shared CTE builder)."""
    return f"""
    {_session_cte_sql(table)}
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           min(event_id) AS first_event_id,
           CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT)
             AS duration_us
    FROM sess GROUP BY user_id, session_no
    """


def sessionize_sql(table: str) -> str:
    """DuckDB twin of :func:`sessionize` (epoch_us = unix_micros)."""
    return f"""
    {_session_cte_sql(table)}
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*)::BIGINT AS n_events,
           min(event_id) AS first_event_id,
           CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT)
             AS duration_us
    FROM sess GROUP BY user_id, session_no
    """
