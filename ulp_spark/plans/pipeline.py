"""The flagship parse -> enrich -> route -> cast -> aggregate DAG.

This is the reference's whole program as one declarative plan
(SURVEY.md §3.1-3.2): both of ulp's phases (parse/infer and
route/cast/ingest), minus the HTTP shell, with the resume seam kept as a
checkpoint of the parsed table (S5's NDJSON intermediate).

Scale shape (the part that must survive 100 TB):
* exactly one wide shuffle per phase — the groupBy aggregations; parsing,
  sniffing, routing, enrichment (broadcast) and casting are all narrow;
* the token-payload join is doc_id-to-doc_id between two tables that share
  the key distribution — at cluster scale both sides come from Iceberg
  bucketed by hash(doc_id) so it's co-located (storage-partitioned join,
  no shuffle); on local parquet it's one shuffle pair, which AQE sizes;
* `source` is skewed (60% one key): per-sink histograms aggregate by
  (source, bucket) — the bucket dimension already splits the hot key.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ulp_spark import fixtures
from ulp_spark.functions import routes as routes_fn
from ulp_spark.functions import sanitize, sniff
from ulp_spark.functions.sqltext import ident, lit
from ulp_spark.operators import enrich, fanout, parse
from ulp_spark.session import seam

QUARANTINE = "quarantine"
ROUTE_TEMPLATES = {
    # J2: per-parser default route templates (reference src/lib.rs:48-56 —
    # evtx gets a field-extraction template, mft a literal).
    "kv_provider": "evtx_{{provider}}",
    "kv_plain": "evtx_{{provider}}",
}
HIST_BUCKET = 64  # tokens-per-source histogram bucket width


@dataclass
class Pipeline:
    """The built frames.  ``sequences``, ``routed_tokens`` and
    ``source_token_hist`` join the fixture token payload onto the routed
    lines by doc id; they are None for a file run (``lines_df`` given
    without ``sequences_df``), whose doc ids name no sequence."""
    sequences: DataFrame | None
    routed: DataFrame          # + fields, parser, parse_error, route
    route_counts: DataFrame    # (route, n_rows)
    routed_tokens: DataFrame | None   # route + token payload, bitwise invariant
    source_token_hist: DataFrame | None  # (source, bucket, n_rows, sum_tok)


def route_expr(parsed: DataFrame) -> Column:
    """Route column: per-parser template eval -> sanitize; parse errors are
    quarantined (deviation: the reference panics on unknown input,
    ``src/lib.rs:90`` — a 10^12-row job must not).  One ``F.expr`` over
    the composed SQL text of the template, sniff and sanitize builders."""
    fields = {f: (ident(f), ident(f"{f}__t"))
              for f in parse.all_fields(parse.DEFAULT_PATTERNS)}
    expr = "CAST(NULL AS STRING)"
    for parser_name, template in ROUTE_TEMPLATES.items():
        compiled = routes_fn.compile_template(template, fields)
        expr = (f"CASE WHEN `parser` = {lit(parser_name)} THEN {compiled}"
                f" ELSE {expr} END")
    return F.expr(f"CASE WHEN parse_error THEN {lit(QUARANTINE)}"
                  f" ELSE {sanitize.sanitize_sink_name(expr)} END")


def build(
    spark: SparkSession,
    n: int = 10_000,
    partitions: int | None = None,
    sequences_df: DataFrame | None = None,
    lines_df: DataFrame | None = None,
    checkpoint: str | None = None,
) -> Pipeline:
    """``lines_df``: the ``(doc_id, line)`` input, e.g. files read by
    :func:`ulp_spark.sources.registry.read_lines`; default the
    ``fixtures.raw_lines`` of ``n`` sequences.  ``sequences_df``: the token
    payload joined onto the routed lines; default ``fixtures.sequences``
    of ``n`` for a fixture run, none (the token frames are None) when
    ``lines_df`` is given alone.

    ``checkpoint``: None | "local".

    The reference materializes parse output as NDJSON between its two phases
    (S5, ``src/evtx.rs:52-53`` -> ``src/elastic.rs:83``) — that seam is both
    its resume point and its plan boundary.  ``routed`` is always that seam:
    the parsed+routed table read through :func:`ulp_spark.session.seam` (in
    executor storage, or as reliable checkpoint files once the session has
    a checkpoint dir — the durable, resumable form of the reference's
    architecture), so every consumer reads a scan of it and never re-plans
    the parse.  "local" fills the seam before ``build`` returns; None
    leaves it to the first action that reads it.
    """
    if checkpoint not in (None, "local"):
        raise ValueError(
            f"checkpoint must be None or 'local', got {checkpoint!r}")
    if lines_df is None:
        lines = fixtures.raw_lines(spark, n, partitions)
        seq = sequences_df if sequences_df is not None else fixtures.sequences(
            spark, n, partitions)
    else:
        lines, seq = lines_df, sequences_df

    parsed = parse.parse_lines(lines)
    enriched = enrich.enrich(parsed, fixtures.pattern_dict(spark), on="provider")
    routed = enriched.withColumn("route", route_expr(enriched))
    # Slim the materialized table: raw line kept only for quarantined
    # rows (its one consumer — forensics/re-parse).  Persisted width
    # drives the seam's write cost at every scale.
    routed = seam(routed.withColumn(
        "line", F.expr("CASE WHEN parse_error THEN line END")),
        eager=checkpoint == "local")

    route_counts = fanout.route_counts(routed)
    if seq is None:
        return Pipeline(sequences=None, routed=routed,
                        route_counts=route_counts, routed_tokens=None,
                        source_token_hist=None)

    # Token payload join (doc -> doc_id): bitwise-equality carrier.
    routed_tokens = (
        routed.filter(~F.col("parse_error"))
        .select("doc", "route", "parser", "category")
        .join(seq.select("doc_id", "tokens", "n_tok", "source"),
              F.col("doc") == F.col("doc_id"))
        .drop("doc")
    )

    source_token_hist = (
        routed_tokens.groupBy(
            "source",
            # clamp: the fixture guarantees n_tok >= 1, but an external
            # sequences_df with zero-token docs must land in bucket 0, not
            # a phantom bucket -1 (mirrored in pipeline.routed_sql's twin)
            F.greatest(
                F.floor((F.col("n_tok") - 1) / HIST_BUCKET), F.lit(0)
            ).cast("int").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("n_tok").alias("sum_tok"))
    )

    return Pipeline(
        sequences=seq,
        routed=routed,
        route_counts=route_counts,
        routed_tokens=routed_tokens,
        source_token_hist=source_token_hist,
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: the same route derivation as one SQL string
# ---------------------------------------------------------------------------

def routed_sql(n: int) -> str:
    """DuckDB SQL producing (doc_id, parser, route) for raw_lines(n)."""
    px = parse.parse_sql("line")
    provider_code = sniff.sniff_code_sql(px["provider"])
    part = routes_fn.field_part_sql(px["provider"], provider_code)
    sanitized = sanitize.sanitize_sink_name_sql(f"'evtx_' || ({part})")
    return f"""
    WITH lines AS ({fixtures.raw_lines_sql(n)})
    SELECT doc_id,
           {px['parser']} AS parser,
           CASE WHEN ({px['parser']}) IS NULL THEN '{QUARANTINE}'
                ELSE {sanitized} END AS route
    FROM lines
    """
