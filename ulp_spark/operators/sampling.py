"""Deterministic sampling & dataset splitting for training-data pipelines.

A training corpus needs REPRODUCIBLE subsetting: the same document must
land in the same split on every run, every engine, every cluster size —
so membership derives from a content-stable hash of the id, never from
``rand()``/``TABLESAMPLE`` (both partition-layout-dependent in Spark).

``hash_bucket`` maps an id to [0, buckets) via the first 8 md5 hex chars —
the same fold the dedup shingles use, identical in DuckDB.  Filtering by
bucket is a pure codegen'd predicate: at 100 TB a 1%% sample is a
scan-time filter (no shuffle, combine-friendly).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def hash_bucket(id_col: Column, buckets: int) -> Column:
    """Deterministic bucket in [0, buckets) from md5 of the id's string."""
    h = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10)
    return (h.cast("bigint") % buckets).cast("int")


def hash_bucket_sql(id_expr: str, buckets: int) -> str:
    return (
        f"CAST(CAST(('0x' || substr(md5(CAST({id_expr} AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % {buckets} AS INTEGER)"
    )


def stratified_keep(
    id_col: Column, strat_col: Column, rates_pct: dict[str, int],
) -> Column:
    """Per-stratum deterministic sampling predicate: keep iff
    hash_bucket(id) < rate(stratum); a stratum missing from ``rates_pct``
    keeps nothing. The standard corpus re-balancing move
    (downsample the over-represented language/domain) expressed as a pure
    scan filter: no shuffle, no rand(), identical membership at any
    parallelism — the property a 100-TB resample actually needs."""
    b = hash_bucket(id_col, 100)
    rate = F.lit(0)
    for key, pct in rates_pct.items():
        rate = F.when(strat_col == key, F.lit(pct)).otherwise(rate)
    return b < rate


def stratified_keep_sql(
    id_expr: str, strat_expr: str, rates_pct: dict[str, int],
) -> str:
    b = hash_bucket_sql(id_expr, 100)
    rate = "0"
    for key, pct in rates_pct.items():
        sk = key.replace("'", "''")
        rate = f"CASE WHEN {strat_expr} = '{sk}' THEN {pct} ELSE {rate} END"
    return f"(({b}) < ({rate}))"


def _uniform01(id_col: Column, seed: str) -> Column:
    """Deterministic uniform in (0,1) from md5(seed:id): 13 hex digits =
    52 bits, exactly representable in a double in BOTH engines (no
    bigint->double rounding divergence); +0.5 keeps it off 0 so ln() is
    finite."""
    h = F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(seed),
                                             id_col.cast("string"))), 1, 13),
               16, 10)
    return (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 52))


def _uniform01_sql(id_expr: str, seed: str) -> str:
    s = seed.replace("'", "''")
    return (
        f"((CAST(('0x' || substr(md5('{s}' || ':' || "
        f"CAST({id_expr} AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5) "
        f"/ {float(1 << 52)!r})"
    )


def weighted_sample(
    df, weight_col: str, id_col: str, k: int, seed: str,
) -> "DataFrame":
    """Weighted sampling WITHOUT replacement: k rows, inclusion odds
    proportional to ``weight_col`` (e.g. n_tok => token-proportional doc
    sampling, the standard corpus-subset move).  Efraimidis-Spirakis
    A-ES: key = u^(1/w) with u uniform in (0,1); the k largest keys ARE
    an exact weighted sample (Inf. Proc. Letters 97(5), 2006).  Ordering
    by ln(u)/w descending is the same order in log space without the
    pow() underflow for huge weights.

    Determinism: u derives from md5(seed:id) — same membership on every
    run, engine, and partitioning (the property rand() cannot give).
    Rows with weight <= 0 or NULL are excluded by contract.

    Scale shape: orderBy(key desc).limit(k) compiles to
    TakeOrderedAndProject — per-partition top-k heaps + a single k-row
    merge on the driver, NO global sort shuffle; at 100 TB the cost is
    one scan plus k*n_partitions rows of movement.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    w = F.col(weight_col).cast("double")
    key = F.log(_uniform01(F.col(id_col), seed)) / w
    return (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn("__es_key", key)
        # id tie-break matches the SQL twin: with duplicate ids (equal
        # key AND equal weight) membership stays partition-independent
        .orderBy(F.col("__es_key").desc(), F.col(id_col))
        .limit(k)
        .drop("__es_key")
    )


def weighted_sample_sql(
    table: str, weight_col: str, id_col: str, k: int, seed: str,
    cols: str = "*",
) -> str:
    u = _uniform01_sql(id_col, seed)
    return f"""
        SELECT {cols} FROM {table}
        WHERE {weight_col} IS NOT NULL AND {weight_col} > 0
        ORDER BY ln({u}) / CAST({weight_col} AS DOUBLE) DESC, {id_col}
        LIMIT {k}
    """
