"""Structured Streaming skin over the batch DAG.

The reference is two-phase batch behind an always-on ingest API — no record
streaming (SURVEY §2.6).  This module is the Spark-native upgrade path the
rebuild gets for free: the SAME parse/route/sanitize expressions run under
``readStream``, so a continuously-arriving line feed flows through the
identical DAG with checkpointed exactly-once sinks.

* ``stream_lines_to_routes`` — file-source stream of raw lines ->
  parse -> route -> append sink partitioned by route.  The
  ``availableNow`` trigger drains everything present then stops
  (batch-equivalent semantics; resumable via the checkpoint dir — the
  streaming twin of S9).
* ``windowed_route_counts`` — event-time tumbling-window counts with a
  watermark for late data, over any timestamped stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ulp_spark.operators import parse
from ulp_spark.plans import pipeline


def stream_lines_to_routes(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Stream parquet files of (doc_id, line) through parse->route->sink."""
    lines = (
        spark.readStream.schema("doc_id string, line string").parquet(source_dir)
    )
    parsed = parse.parse_lines(lines)
    routed = parsed.withColumn("route", pipeline.route_expr(parsed))
    out = routed.select("doc_id", "route", "parser", "parse_error")
    return (
        out.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("route")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def windowed_route_counts(routed: DataFrame) -> DataFrame:
    """Event-time 1-minute tumbling counts per route over the ``ts``
    column, with a 2-minute late-data watermark.

    Works on both batch and streaming frames (same expression surface) —
    on a stream, state for windows older than the watermark is dropped.
    """
    with_ts = routed.withColumn(
        "__event_time",
        F.to_timestamp(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
    )
    if with_ts.isStreaming:
        with_ts = with_ts.withWatermark("__event_time", "2 minutes")
    return (
        with_ts.groupBy(F.window("__event_time", "1 minute").alias("w"),
                        "route")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.col("w.start").alias("window_start"), "route", "n_rows")
    )


def contamination_alerts(
    seq_stream: DataFrame, eval_grams: DataFrame,
) -> DataFrame:
    """Streaming decontamination monitor: one alert row (doc_id) per
    ingested (doc_id, tokens) sequence sharing ANY ``tokens.GRAM``-token
    window with the STATIC eval gram set —
    the always-on twin of tokens.token_contamination, run at ingest time
    so a contaminated shard is caught before it reaches training.

    ``eval_grams`` is a static (batch) 1-column frame of gram keys
    (tokens.token_grams md5 strings), e.g. the benchmark suite exported
    once — the stream-static broadcast join pattern: the static side is
    re-broadcast per micro-batch, the stream side never shuffles.
    dropDuplicates on the id bounds emission to once per sequence;
    its state grows with the CONTAMINATED set only (alerts are the
    anomaly, not the corpus — document the bound, don't hide it).

    Works on a batch frame too (same expression surface), where it
    degenerates to token_contamination's hit set.
    """
    from ulp_spark.operators.tokens import token_grams

    ex = seq_stream.select(
        F.col("doc_id"),
        F.explode(token_grams(F.col("tokens"))).alias("gk"),
    )
    hits = ex.join(F.broadcast(eval_grams.select(F.col("gk"))),
                   "gk", "left_semi")
    return hits.select("doc_id").dropDuplicates(["doc_id"])
