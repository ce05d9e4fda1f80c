"""Deterministic synthetic fixtures (FIXTURES.md T1-T3), generated twice:

* as pure Spark column expressions (scale-elastic — ``spark.range(N)`` plus
  ``transform``/``sequence``; no driver-side loops, so the same generator
  yields 10^4 rows for tests or 10^12 on a cluster), and
* as DuckDB SQL string builders producing bit-identical rows, so every
  pipeline query can have an independent DuckDB oracle.

Determinism rules (FIXTURES.md): seed-free integer arithmetic on the row
index only; no wall clock, no UUIDv4 (reference uses UUIDv4 per doc,
``src/elastic.rs:108`` — replaced by index-derived ids for reproducibility).

T1 ``sequences(doc_id string, tokens array<int32>, n_tok int32, source string)``
   is the BASELINE.json input_hint shape.  ``source`` is skewed (web 60%) to
   exercise salted-key aggregation.
T2 ``raw_lines(doc_id, line)`` renders one log line per sequence row with a
   90/5/3/2 split: grok-matchable / missing-provider (route -> NONE) /
   malformed (quarantined) / numeric provider (the silent-empty template
   quirk, reference ``src/type_map.rs:49-53``).
T3 ``pattern_dict`` is the broadcast enrichment dimension (<=100 rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ulp_spark.session import local_frame

TOKEN_VOCAB = 50257          # GPT-2-ish vocab size; tokens in [0, 50257)
MAX_TOKENS = 512             # n_tok in [1, 512]
EPOCH = "2022-03-23 00:00:00"  # matches reference date-sniff fixtures
NOISE_MICRO = 4800           # clustered_embeddings noise, millionths
EMB_DIM, EMB_CLUSTERS = 64, 20  # clustered_embeddings shape by default

PROVIDERS = [
    "Microsoft-Windows-Security-Auditing",
    "App Log/Main",
    "WEIRD:NAME*",
]
LEVELS = ["INFO", "WARN", "ERROR"]

# (provider, category, severity_weight) — enrichment payload for the
# broadcast join (reference per-row BTreeMap lookup, src/lib.rs:48-56).
PATTERN_DICT_ROWS = [
    ("Microsoft-Windows-Security-Auditing", "security", 3),
    ("App Log/Main", "application", 1),
    ("WEIRD:NAME*", "unknown", 2),
]


# --------------------------------------------------------------------------
# Spark-side generators (pure column expressions)
# --------------------------------------------------------------------------

def sequences(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """T1: the pre-tokenized training-sequence table.

    All columns derive from the row index, so regenerating at any scale or
    partitioning yields identical rows (bitwise, incl. int32 token arrays).
    """
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    return df.select(
        F.format_string("doc-%08d", F.col("id")).alias("doc_id"),
        F.expr(
            f"transform(sequence(0, int((id*7919) % {MAX_TOKENS})), "
            f"j -> cast((id*31 + j*17) % {TOKEN_VOCAB} as int))"
        ).alias("tokens"),
        F.expr(f"cast((id*7919) % {MAX_TOKENS} + 1 as int)").alias("n_tok"),
        _source_expr(F.col("id")).alias("source"),
        F.col("id").alias("seq_no"),
    )


def clustered_embeddings(
    spark: SparkSession, n: int, dim: int = EMB_DIM,
    clusters: int = EMB_CLUSTERS,
) -> DataFrame:
    """T4: deterministic CLUSTERABLE embeddings (vec_id, embedding, label).

    The sf* ``embeddings.parquet`` tables are isotropic noise (measured:
    within-label mean cosine 0.0012 vs 0.0010 across — the label column
    carries no geometric signal), which bounds ANY partition-and-probe
    ANN at recall ~= frac_scanned.  This fixture provides the clusterable
    regime: vector = integer-grid centroid of ``id % clusters`` plus
    deterministic per-(id, dim) uniform noise (``NOISE_MICRO``/1e6 per
    component, 0.0048 x 1000 = +-4.8 against centroid components
    in [-11, 11]), giving within-cluster cosine ~0.85, across ~0, and
    top-10 neighbors 100% within-cluster at n=2000 — the regime where an
    IVF index should shine and where recall targets are meaningful.

    Pure column expressions like every fixture here: same bits at any
    scale or partitioning.  The centroid grid uses mod 23 (not 19) so no
    two of the first 20 clusters share a centroid.
    """
    df = spark.range(0, n)
    return df.select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), j -> cast("
            f" ((id % {clusters})*41 + j*17) % 23 - 11"
            f" + (((id*96557 + j*40503) % 2000) - 1000) * {NOISE_MICRO}/1000000.0"
            f" as float))"
        ).alias("embedding"),
        (F.col("id") % clusters).cast("int").alias("label"),
    )


def _source_expr(id_col):
    b = id_col % 100
    return (
        F.when(b < 60, F.lit("web"))
        .when(b < 80, F.lit("books"))
        .when(b < 90, F.lit("code"))
        .when(b < 99, F.lit("wiki"))
        .otherwise(F.lit(None).cast("string"))
    )


def raw_lines(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """T2: rendered log lines, joinable back to T1 by doc_id."""
    seq = sequences(spark, n, partitions)
    i = F.col("seq_no")
    b = i % 100
    ts = F.date_format(
        F.expr(f"timestamp '{EPOCH}' + make_interval(0,0,0,0,0,0,seq_no)"),
        "yyyy-MM-dd'T'HH:mm:ss'Z'",
    )
    level = F.element_at(F.array(*[F.lit(x) for x in LEVELS]), (i % 3 + 1).cast("int"))
    provider = F.element_at(
        F.array(*[F.lit(x) for x in PROVIDERS]), (i % 3 + 1).cast("int")
    )
    src = F.coalesce(F.col("source"), F.lit(""))
    normal = F.format_string(
        '%s %s provider="%s" doc=%s src=%s n=%d', ts, level, provider,
        F.col("doc_id"), src, F.col("n_tok"),
    )
    no_provider = F.format_string(
        "%s %s doc=%s src=%s n=%d", ts, level, F.col("doc_id"), src, F.col("n_tok"),
    )
    corrupt = F.format_string("%s !!corrupt record %d", ts, i)
    numeric_provider = F.format_string(
        '%s %s provider="17" doc=%s src=%s n=%d', ts, level,
        F.col("doc_id"), src, F.col("n_tok"),
    )
    line = (
        F.when(b < 90, normal)
        .when(b < 95, no_provider)
        .when(b < 98, corrupt)
        .otherwise(numeric_provider)
    )
    return seq.select(F.col("doc_id"), line.alias("line"))


def nested_json(spark: SparkSession, n: int) -> DataFrame:
    """T7: mixed object/list/scalar JSON exercising the recursive-merge
    quirks (``type_casting/src/lib.rs:69-97``): key ``a`` alternates
    Object/List (index-stringification on merge), key ``b`` alternates
    List/scalar (index-0 fold), key ``c`` alternates null/number."""
    df = spark.range(0, n, 1)
    i = F.col("id")
    even = F.format_string('{"a": {"x": %d}, "b": [%d, "s"], "c": null}', i, i)
    odd = F.format_string('{"a": [true, 5], "b": %d.5, "c": %d}', i, i)
    return df.select(
        i.alias("doc_id"),
        F.when(i % 2 == 0, even).otherwise(odd).alias("doc"),
    )


def nested_json_sql(n: int) -> str:
    """DuckDB twin of :func:`nested_json`."""
    return f"""
    SELECT i AS doc_id,
      CASE WHEN i % 2 = 0
        THEN printf('{{"a": {{"x": %d}}, "b": [%d, "s"], "c": null}}', i, i)
        ELSE printf('{{"a": [true, 5], "b": %d.5, "c": %d}}', i, i)
      END AS doc
    FROM range(0, {n}) t(i)
    """


def pattern_dict(spark: SparkSession) -> DataFrame:
    """T3: tiny enrichment dimension — always broadcast."""
    return local_frame(
        spark, PATTERN_DICT_ROWS,
        "provider string, category string, severity_weight int")


# --------------------------------------------------------------------------
# DuckDB-side generators (oracle parity) — return SQL snippets
# --------------------------------------------------------------------------

def sequences_sql(n: int) -> str:
    """DuckDB SQL producing exactly `sequences(spark, n)` (incl. seq_no)."""
    return f"""
    SELECT
      printf('doc-%08d', i) AS doc_id,
      [CAST((i*31 + j*17) % {TOKEN_VOCAB} AS INTEGER)
         FOR j IN range(CAST((i*7919) % {MAX_TOKENS} + 1 AS BIGINT))] AS tokens,
      CAST((i*7919) % {MAX_TOKENS} + 1 AS INTEGER) AS n_tok,
      CASE
        WHEN i % 100 < 60 THEN 'web'
        WHEN i % 100 < 80 THEN 'books'
        WHEN i % 100 < 90 THEN 'code'
        WHEN i % 100 < 99 THEN 'wiki'
        ELSE NULL
      END AS source,
      i AS seq_no
    FROM range(0, {n}) t(i)
    """


def clustered_embeddings_sql(n: int) -> str:
    """DuckDB SQL producing exactly `clustered_embeddings(spark, n)` at its
    default ``EMB_DIM`` x ``EMB_CLUSTERS`` shape (bitwise: integer grid +
    exact-integer noise scaled by one correctly-rounded double division,
    cast to FLOAT in both engines)."""
    return f"""
    SELECT i AS vec_id,
           [CAST(((i % {EMB_CLUSTERS})*41 + j*17) % 23 - 11
                 + (((i*96557 + j*40503) % 2000) - 1000)
                   * {NOISE_MICRO}/1000000.0 AS FLOAT)
            FOR j IN range(0, {EMB_DIM})] AS embedding,
           CAST(i % {EMB_CLUSTERS} AS INT) AS label
    FROM range(0, {n}) t(i)
    """


def _dq(s: str) -> str:
    return s.replace("'", "''")


def raw_lines_sql(n: int) -> str:
    """DuckDB SQL producing exactly `raw_lines(spark, n)`."""
    providers = "[" + ", ".join("'" + _dq(p) + "'" for p in PROVIDERS) + "]"
    levels = "[" + ", ".join("'" + _dq(x) + "'" for x in LEVELS) + "]"
    return f"""
    WITH seq AS ({sequences_sql(n)})
    SELECT doc_id,
      CASE
        WHEN seq_no % 100 < 90 THEN printf(
          '%s %s provider="%s" doc=%s src=%s n=%d',
          strftime(TIMESTAMP '{EPOCH}' + seq_no * INTERVAL 1 SECOND, '%Y-%m-%dT%H:%M:%SZ'),
          {levels}[CAST(seq_no % 3 AS INTEGER) + 1],
          {providers}[CAST(seq_no % 3 AS INTEGER) + 1],
          doc_id, COALESCE(source, ''), n_tok)
        WHEN seq_no % 100 < 95 THEN printf(
          '%s %s doc=%s src=%s n=%d',
          strftime(TIMESTAMP '{EPOCH}' + seq_no * INTERVAL 1 SECOND, '%Y-%m-%dT%H:%M:%SZ'),
          {levels}[CAST(seq_no % 3 AS INTEGER) + 1],
          doc_id, COALESCE(source, ''), n_tok)
        WHEN seq_no % 100 < 98 THEN printf(
          '%s !!corrupt record %d',
          strftime(TIMESTAMP '{EPOCH}' + seq_no * INTERVAL 1 SECOND, '%Y-%m-%dT%H:%M:%SZ'),
          seq_no)
        ELSE printf(
          '%s %s provider="17" doc=%s src=%s n=%d',
          strftime(TIMESTAMP '{EPOCH}' + seq_no * INTERVAL 1 SECOND, '%Y-%m-%dT%H:%M:%SZ'),
          {levels}[CAST(seq_no % 3 AS INTEGER) + 1],
          doc_id, COALESCE(source, ''), n_tok)
      END AS line
    FROM seq
    """


def pattern_dict_sql() -> str:
    rows = ", ".join(
        f"('{_dq(p)}', '{_dq(c)}', {w})" for p, c, w in PATTERN_DICT_ROWS
    )
    return (
        f"SELECT * FROM (VALUES {rows}) "
        "AS t(provider, category, severity_weight)"
    )


# --------------------------------------------------------------------------
# T5: deterministic LINED documents (for line-level curation rules)
# --------------------------------------------------------------------------

_LINE_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon"]


def lined_docs(spark: SparkSession, n: int) -> DataFrame:
    """(doc_id, text) where text has newline-separated LINES — the unit the
    C4 line-level rules operate on (the sf documents tables are single-line
    by construction, so they cannot exercise a line filter).

    Doc i has ``i % 7 + 1`` lines; line j has ``(i*3 + j*5) % 8`` words
    drawn from a 5-word list, gains the blacklist word "javascript" when
    ``(i*5 + j) % 7 == 0``, and ends in '.' when ``(i + j) % 3 != 0`` —
    so terminal-punct, min-words, and blacklist rules all fire on
    disjoint-but-overlapping line subsets.  Pure column expressions:
    same bits at any scale or partitioning."""
    words_arr = ", ".join(f"'{w}'" for w in _LINE_WORDS)
    df = spark.range(0, n)
    # gate the 0-word case: sequence(1, 0) is DESCENDING [1, 0] in Spark
    # (the recorded trap), where DuckDB's range(1, 1) is empty
    nw = "(id*3 + j*5) % 8"
    line = (
        f"concat_ws(' ', transform("
        f"if({nw} = 0, array(), sequence(1, {nw})), "
        f"w -> element_at(array({words_arr}), "
        f"cast((id + j*3 + w) % 5 + 1 as int))))"
    )
    line = (f"concat({line}, "
            f"if((id*5 + j) % 7 = 0, ' javascript', ''), "
            f"if((id + j) % 3 != 0, '.', ''))")
    return df.select(
        F.format_string("ldoc-%06d", F.col("id")).alias("doc_id"),
        F.expr(
            f"array_join(transform(sequence(0, cast(id % 7 as int)), "
            f"j -> {line}), '\\n')"
        ).alias("text"),
    )


def lined_docs_sql(n: int) -> str:
    """DuckDB SQL producing exactly ``lined_docs(spark, n)``."""
    words_arr = ", ".join(f"'{w}'" for w in _LINE_WORDS)
    # coalesce: DuckDB's array_to_string([]) is NULL, Spark's concat_ws is ''
    line = (
        f"coalesce(array_to_string([[{words_arr}]"
        f"[CAST((i + j*3 + w) % 5 + 1 AS INT)] "
        f"FOR w IN range(1, (i*3 + j*5) % 8 + 1)], ' '), '') "
        f"|| (CASE WHEN (i*5 + j) % 7 = 0 THEN ' javascript' ELSE '' END) "
        f"|| (CASE WHEN (i + j) % 3 != 0 THEN '.' ELSE '' END)"
    )
    return f"""
    SELECT printf('ldoc-%06d', i) AS doc_id,
           array_to_string([{line} FOR j IN range(0, i % 7 + 1)], chr(10))
             AS text
    FROM range(0, {n}) t(i)
    """
