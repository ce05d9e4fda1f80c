"""A3/P10 — per-partition lineage records and content digests.

Reference: per input file it records uuid, path, byte size, SHA256 and the
parser used (``src/type_map.rs:111-155``), appended under the global mutex;
completion is sent-vs-processed counting (``src/workerpool.rs:183-189``).

Spark shape: the "file" granularity becomes the partition.  Lineage is a
tiny aggregation keyed by ``spark_partition_id()`` — per partition we
record row count, byte volume and an ORDER-INSENSITIVE content digest
(sum of per-row xxhash64 in a big modulus).  Order insensitivity matters:
partition contents are deterministic under a fixed partitioner, but row
order within a scan is not guaranteed, and the digest must not depend on
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_M61 = (1 << 61) - 1  # Mersenne modulus keeps the digest sum in i64 range


def partition_lineage(df: DataFrame) -> DataFrame:
    """(partition_id, n_rows, n_bytes, digest) — one row per partition,
    over every column of ``df`` (project first to digest fewer)."""
    cs = df.columns
    row_hash = F.pmod(F.xxhash64(*[F.col(c) for c in cs]), F.lit(_M61))
    byte_len = sum(
        (F.coalesce(F.length(F.col(c).cast("string")), F.lit(0)) for c in cs),
        start=F.lit(0),
    )
    return (
        df.select(
            F.spark_partition_id().alias("partition_id"),
            # decimal(38,0) accumulator: summing 2^61-sized hashes overflows
            # int64 within ~4 rows under ANSI arithmetic
            row_hash.cast("decimal(38,0)").alias("h"),
            byte_len.alias("b"),
        )
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("b").alias("n_bytes"),
            (F.sum("h") % _M61).cast("long").alias("digest"),
        )
    )


