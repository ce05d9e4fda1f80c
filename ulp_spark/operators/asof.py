"""As-of join — an operator Spark lacks natively, expressed as a
composition of built-ins (SURVEY §"custom operators" path (a)).

``asof_lookup(left, right, ...)`` attaches, to every left row, the most
recent right row with ``right.ts <= left.ts`` for the same key (inclusive,
standard ASOF semantics — DuckDB's ASOF JOIN is the oracle).

Shape: union the two sides with a side tag, one window pass per key doing
``last(value, ignorenulls=True)`` over rows ordered by (ts, side, seq),
keep the left rows.  Cost = ONE shuffle on the key (the union sorts within
partitions) — strictly better at scale than the naive range-join
(O(|left| x |right|) per key) and equal to what a native as-of physical
operator would shuffle.  Right-side ties on (key, ts) are resolved
deterministically by max sequence column before the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_lookup(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    ts: str,
    right_seq: str,
    right_vals: list[str],
) -> DataFrame:
    """Left frame + ``asof_<col>`` columns from the as-of right match
    (NULL when no right row precedes)."""
    # deterministic right side: one row per (keys, ts) — max seq wins
    w_dedup = Window.partitionBy(*keys, ts).orderBy(F.desc(right_seq))
    r = (
        right.withColumn("__rn", F.row_number().over(w_dedup))
        .filter(F.col("__rn") == 1)
        .select(*keys, ts, right_seq, *right_vals)
    )
    lhs = left.select(
        "*", F.lit(1).alias("__side"),
        *[F.lit(None).cast(dict(r.dtypes)[v]).alias(f"__v_{v}")
          for v in [right_seq, *right_vals]],
    )
    rhs_cols = [F.col(c) for c in keys] + [F.col(ts), F.lit(0).alias("__side")]
    rhs = r.select(
        *rhs_cols, *[F.col(v).alias(f"__v_{v}") for v in [right_seq, *right_vals]]
    )
    # align schemas: left keeps all its columns; right contributes nulls
    for c in lhs.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(dict(lhs.dtypes)[c]))
    unioned = lhs.unionByName(rhs.select(*lhs.columns))
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(f"__v_{v}", ignorenulls=True).over(w).alias(f"asof_{v}")
            for v in [right_seq, *right_vals]
        ],
    )
    drop = ["__side"] + [f"__v_{v}" for v in [right_seq, *right_vals]]
    return filled.filter(F.col("__side") == 1).drop(*drop)
