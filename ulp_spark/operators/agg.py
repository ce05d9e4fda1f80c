"""Skew-aware aggregation: two-level salted aggregates.

The fixture's ``source`` column is deliberately skewed (web=60%,
FIXTURES.md T1) — the analog of the reference's 1-file-=-1-task skew where
one huge file pegs one worker (``src/workerpool.rs:130``).  For algebraic
aggregates (count/sum/min/max/bit_or) the fix is classic salting:

    stage 1: groupBy(key, salt = hash(row) % S)  -- hot key splits S ways
    stage 2: groupBy(key) re-combine

Both stages are map-side-combined hash aggregations, so the extra shuffle
volume is |keys| x S rows — nothing — while the hot key's reduce work
fans out over S tasks instead of one.  (AQE's skew handling only splits
skewed *join* partitions — on by default in ``session._DEFAULTS``, so a
skewed join needs no salting here; skewed aggregation keys still do.)

``salted_agg`` takes (agg_col_expr, combine1, combine2) triples so any
algebraic aggregate decomposes correctly: count -> (count, sum), avg ->
(sum+count, sum/sum), etc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_BUCKETS = 32


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[tuple[str, Column, str]],
) -> DataFrame:
    """Two-level aggregation with a salt on the first level: a
    deterministic per-row salt in [0, SALT_BUCKETS), xxhash64 of the
    whole row (so every column must be hashable — no MapType).

    ``aggs``: (output name, partial aggregate over raw rows, final combine
    fn name); the final fn re-aggregates the partials, e.g.::

        salted_agg(df, ["source"], [
            ("n_rows", F.count(F.lit(1)), "sum"),
            ("sum_tok", F.sum("n_tok"), "sum"),
            ("max_tok", F.max("n_tok"), "max"),
        ])
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                  F.lit(SALT_BUCKETS))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(*[a.alias(n) for n, a, _ in aggs])
    )
    finals = [getattr(F, fn)(n).alias(n) for n, _, fn in aggs]
    return partial.groupBy(*keys).agg(*finals)

