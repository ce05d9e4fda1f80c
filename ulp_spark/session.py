"""SparkSession construction with scale-appropriate defaults.

The reference's parallelism knob is ``ULP_WORKERS_N`` (default 8 OS threads,
``src/workerpool.rs:19-29``).  Here the knob is the Spark master / executor
count; these defaults are what we'd set on a real 1000-executor cluster too
(AQE on, Arrow on, sane shuffle partitioning), minus the cluster-only bits
(dynamic allocation, external shuffle service) which are deploy-time configs.

It also holds the two frame primitives every module shares: :func:`seam`,
the one materialization, and :func:`local_frame`, the one way a
driver-side table enters a plan.
"""

from __future__ import annotations

import operator
import os

from pyspark.sql import DataFrame, SparkSession

from ulp_spark.functions.sqltext import ident, lit

# At 100 TB these would be overridden by deploy config; the *ratios* are what
# matter: shuffle partitions ~ 2-3x total cores, 128 MiB scan splits,
# broadcast threshold large enough for dimension tables (pattern_dict,
# route->schema map are KiB-sized).
_DEFAULTS = {
    # Let AQE re-plan at runtime: coalesce tiny shuffle partitions, split
    # skewed ones (the reference's "1 file = 1 task" skew has no such escape).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for the Python stages: the IPv6 cast UDF and the
    # mapInPandas bodies of pack_bins, bpe_tokenize and the JSON type-tree
    # fold.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamp rendering regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 routes lower()/upper() through ICU case mappings by default;
    # profiling showed CollationSupport$Lower.execBinaryICU dominating the
    # sniff battery (~5x the whole regex stack).  The reference's semantics
    # are to_ascii_lowercase, so JVM case mapping is both faster AND closer.
    "spark.sql.icu.caseMappings.enabled": "false",
    # Scan splits: 128 MiB keeps partitions memory-safe at any input size.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Dimension tables here are tiny; 64 MiB broadcast headroom.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "64",
    # Generated-class cache (default 100, kept in 4 LRU segments of 25).
    # One training_chain iteration (tokenize -> census -> pack -> shard
    # write) makes ~90 distinct classes, so at 100 a steady iteration
    # evicted and recompiled 25-28 of them every time (CodegenMetrics
    # compilation count); at 1000 a repeat compiles none.  Static conf:
    # read once per JVM, when code generation first runs.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Quieter logs in tests.
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def seam(df, eager: bool = False):
    """The one materialization primitive: every frame in ``ulp_spark``
    that is checkpointed goes through here (the pipeline's S5 seam,
    generalized — any frame that several branches of a plan read).
    ``eager`` writes the frame before the call returns; otherwise the
    first action that reads it fills it.

    Storage tier is chosen by session config: when the SparkContext has a
    CHECKPOINT DIR configured, use a reliable ``checkpoint`` — blocks live
    on the checkpoint filesystem and survive executor loss /
    dynamic-allocation deallocation, the right form on a real cluster.
    Otherwise fall back to ``localCheckpoint`` — blocks live only in
    executor storage: fast and fine on local[] / static single-JVM runs,
    but executor loss makes the lineage unrecoverable, so cluster
    deployments should set ``sc.setCheckpointDir(...)``, which flips every
    seam to the durable path.  Nothing releases a seam explicitly yet: local
    blocks live until Spark's ContextCleaner collects an unreferenced
    frame, and reliable checkpoint files (the connected-components
    rounds' among them) are never cleaned up.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


# SQL text of one non-NULL value, per DDL scalar type.  A double goes in as
# its repr string, which the cast reads back exactly (``nan`` and ``inf``
# included); ints must be ints, not floats that happen to be whole.
_LITERALS = {
    "string": lit,
    "int": lambda v: str(operator.index(v)),
    "bigint": lambda v: str(operator.index(v)),
    "double": lambda v: lit(repr(float(v))),
}
_TYPES = {*_LITERALS, *(f"array<{t}>" for t in _LITERALS)}


def _value_sql(v, typ: str) -> str:
    """``v`` as a ``typ`` SQL expression: a CAST of a literal, or an
    ``array(...)`` of them for ``array<scalar>``."""
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ.startswith("array<"):
        elem = typ[len("array<"):-1]
        return (f"CAST(array({', '.join(_value_sql(x, elem) for x in v)})"
                f" AS {typ})")
    return f"CAST({_LITERALS[typ](v)} AS {typ})"


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """``rows`` (tuples in the order of ``ddl``'s columns) as a frame:
    the one way a driver-side table enters a plan in ``ulp_spark``.

    Not ``spark.createDataFrame``: for a Python list that call is
    ``sc.parallelize`` plus an identity ``map``, an RDD whose every
    evaluation — each broadcast of a 3-row dimension included — runs
    Python-worker tasks.  Here the rows become one ``VALUES`` inline
    table of SQL text, which the analyzer folds into a JVM
    ``LocalRelation`` (``LocalTableScan`` in the physical plan), so no
    Python worker ever reads them.

    Every value is a ``CAST`` of a literal to its column's DDL type:
    strings go through :func:`ulp_spark.functions.sqltext.lit` (the same
    under either setting of ``spark.sql.parser.escapedStringLiterals``),
    a double through its repr string (exact, ``NaN``/``±Infinity``
    included), a NULL as a typed NULL.  Types: string, int, bigint,
    double and ``array<>`` of those; any other raises.  Zero rows give
    an empty typed frame.  A column that holds a NULL is nullable; one
    that holds none may not be (``createDataFrame`` makes every column
    nullable)."""
    cols = []
    for spec in ddl.split(","):
        name, typ = spec.split()
        typ = typ.lower()
        if typ not in _TYPES:
            raise ValueError(f"local_frame: unsupported type {typ!r} in {ddl!r}")
        cols.append((name, typ))
    if not rows:
        nulls = ", ".join(f"CAST(NULL AS {t}) AS {ident(n)}" for n, t in cols)
        return spark.sql(f"SELECT {nulls} WHERE false")
    values = ", ".join(
        "(" + ", ".join(_value_sql(v, t)
                        for v, (_, t) in zip(row, cols, strict=True)) + ")"
        for row in rows)
    names = ", ".join(ident(n) for n, _ in cols)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({names})")


def get_spark(
    app_name: str = "ulp_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so the bench harness can pin parallelism for the
    N-vs-4N-core scaling measurement.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
