"""One-pass table profiling: per-column row/null/distinct counts and
min/max — the data-quality census a pipeline runs before committing a
mapping DDL (reference analog: the per-route schema/mapping derivation,
src/elastic.rs:11-36, generalized to column statistics).

Scale shape: ONE scan.  All per-column aggregates go into a single
``agg`` (partial aggregation map-side); the exact ``count(DISTINCT c)``
aggregates make Catalyst plan an Expand (one duplicated stream per
distinct aggregate), which is the exact-answer cost — bounded and
documented.  An HLL ``approx_count_distinct`` would drop the Expand, but
DuckDB's HLL sketches differ, so only the exact count can be oracle-gated.
The wide single-row result is reshaped to one row per column driver-side
free (it is ONE row), via an explode of per-column structs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


FLOAT_TYPES = {"float", "double"}


def _render(col: Column, is_float: bool) -> Column:
    # Float/double render differently across engines (Spark scientific
    # notation vs DuckDB decimal), so floating min/max round-trip through
    # decimal(38,6) — a documented precision bound; values outside the
    # decimal range render NULL (try_cast) rather than erroring under
    # ANSI.  Everything else casts to string directly (identical on both
    # engines for int/bigint/varchar/date/timestamp_ntz).
    if is_float:
        return col.try_cast("decimal(38,6)").cast("string")
    return col.cast("string")


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """(col_name, n_rows, n_nulls, n_distinct, min_val, max_val) per column;
    min/max rendered as strings so the output schema is uniform; the
    distinct count is exact."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        is_f = df.schema[c].dataType.typeName() in FLOAT_TYPES
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            _render(F.min(F.col(c)), is_f).alias(f"{c}__min"),
            _render(F.max(F.col(c)), is_f).alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("__n").alias("n_rows"),
            (F.col("__n") - F.col(f"{c}__nn")).alias("n_nulls"),
            F.col(f"{c}__nd").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_val"),
            F.col(f"{c}__max").alias("max_val"),
        )
        for c in cols
    ]
    return one.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def profile_table_sql(table: str, cols: list[str],
                      float_cols: set[str] | frozenset[str] = frozenset(),
                      ) -> str:
    """DuckDB twin: UNION ALL of per-column aggregates (DuckDB computes
    them in one scan per branch; equality of VALUES is what is gated).
    Pass the float/double column names in ``float_cols`` to get the same
    decimal(38,6) min/max rendering as :func:`profile_table`."""
    def render(expr: str, c: str) -> str:
        if c in float_cols:
            return f"CAST(TRY_CAST({expr} AS DECIMAL(38,6)) AS VARCHAR)"
        return f"CAST({expr} AS VARCHAR)"

    parts = [
        f"""SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
            (count(*) - count({c}))::BIGINT AS n_nulls,
            count(DISTINCT {c})::BIGINT AS n_distinct,
            {render(f'min({c})', c)} AS min_val,
            {render(f'max({c})', c)} AS max_val FROM {table}"""
        for c in cols
    ]
    return " UNION ALL ".join(parts)


def corpus_datacard(df: DataFrame) -> DataFrame:
    """Per-source DATASET-CARD summary over a (tokens, source) table: the
    one-page accounting a corpus release ships (sources, sizes, exact
    duplication) — one row per source with n_seqs, total_tokens,
    n_unique (distinct token-array fingerprints), dup_frac
    (1 - unique/n: the mass exact dedup would remove), mean/min/max
    sequence length.  NULL sources report under the '__null__' bucket
    (the mixing-plan convention, so the card covers every row).

    Scale shape: ONE scan — the fingerprint is computed in the scan
    projection (16-byte key; token arrays never shuffle) and all
    aggregates share a single groupBy(source) with map-side partials;
    count(DISTINCT fp) adds the exact-answer Expand like profile_table,
    exact because only the exact count can be oracle-gated.  Output is
    |sources| rows — driver-scale by definition.
    """
    from ulp_spark.operators.tokens import token_fingerprint

    src = F.coalesce(F.col("source"), F.lit("__null__"))
    n = F.size(F.col("tokens"))
    staged = df.select(
        src.alias("source"),
        token_fingerprint(F.col("tokens")).alias("__fp"),
        n.alias("__n"))
    return (
        staged.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_seqs"),
             F.sum(F.col("__n").cast("bigint")).alias("total_tokens"),
             F.countDistinct("__fp").alias("n_unique"),
             F.round(F.avg(F.col("__n").cast("double")), 6)
             .alias("mean_tok"),
             F.min("__n").alias("min_tok"),
             F.max("__n").alias("max_tok"))
        .select("source", "n_seqs", "total_tokens", "n_unique",
                F.round(F.lit(1.0) - F.col("n_unique")
                        / F.col("n_seqs").cast("double"), 6)
                .alias("dup_frac"),
                "mean_tok", "min_tok", "max_tok")
    )


def corpus_datacard_sql(table: str) -> str:
    """DuckDB twin: same staged fingerprint + one grouped aggregate."""
    from ulp_spark.operators.tokens import token_fingerprint_sql

    fp = token_fingerprint_sql("tokens")
    return f"""
        SELECT source,
               count(*)::BIGINT AS n_seqs,
               sum(n)::BIGINT AS total_tokens,
               count(DISTINCT fp)::BIGINT AS n_unique,
               round(1.0 - count(DISTINCT fp) / CAST(count(*) AS DOUBLE), 6)
                 AS dup_frac,
               round(avg(CAST(n AS DOUBLE)), 6) AS mean_tok,
               min(n)::INT AS min_tok,
               max(n)::INT AS max_tok
        FROM (SELECT coalesce(source, '__null__') AS source,
                     {fp} AS fp, len(tokens) AS n
              FROM {table})
        GROUP BY source
    """
