from __future__ import annotations

import uuid

import pytest

from ulp_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    """Module-scoped (NOT session-scoped): a fresh SparkContext per test
    file.  With one shared session the suite degrades superlinearly —
    by mid-suite the 8g driver heap sits at 99% old-gen with millions of
    retained Catalyst tree nodes and the JVM spends its time in
    concurrent GC (measured: the resume file alone 410s -> 900s+ as the
    suite grew).  Per-module isolation caps the snowball at file scope;
    the ~15s restart per file is far cheaper than the GC wall."""
    s = get_spark("ulp_spark-tests", master="local[4]",
                  extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture
def content_digest():
    """``content_digest(df)`` -> a whole-frame, order-insensitive digest:
    the sum of the rows' xxhash64 in a Mersenne modulus.  Equal frames, as
    multisets of rows, give equal digests whatever their partitioning —
    the resume tests' no-duplicate, no-loss check."""
    from pyspark.sql import functions as F

    m61 = (1 << 61) - 1  # keeps the digest sum in i64 range

    def digest(df):
        row_hash = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                          F.lit(m61))
        row = df.select(
            (F.sum(row_hash.cast("decimal(38,0)")) % m61).cast("long")
            .alias("d")).collect()[0]
        return int(row.d) if row.d is not None else 0

    return digest


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> ``(fn(), n)``, where ``n`` is the number of
    Spark jobs ``fn`` started: it runs under a fresh job group, and the
    group's jobs are read from the status tracker once the listener bus
    has delivered every event.  AQE submits each shuffle map stage as a
    job of its own, so ``n`` counts those too."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def count_compiles(spark):
    """``count_compiles(fn)`` -> ``(fn(), n)``, where ``n`` is the number
    of classes Spark's code generator compiled while ``fn`` ran (the
    ``CodegenMetrics.METRIC_COMPILATION_TIME`` count; on local[] the
    executors share the driver's JVM, so task-side compiles count too).
    A class served from the codegen cache is not compiled, so a repeat of
    the same plans reads 0 unless the cache evicted them."""
    metric = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
              .METRIC_COMPILATION_TIME())

    def run(fn):
        before = metric.getCount()
        out = fn()
        return out, metric.getCount() - before

    return run
