"""Fixture generators: Spark and DuckDB sides must agree bitwise.

This parity is the foundation of every oracle_sql() check: if the two
generators ever drift, all downstream correctness comparisons are void.
"""

from __future__ import annotations

import duckdb
import numpy as np

from ulp_spark import fixtures

N = 500


def test_sequences_parity(spark):
    got = fixtures.sequences(spark, N).orderBy("seq_no").collect()
    exp = duckdb.sql(fixtures.sequences_sql(N) + " ORDER BY seq_no").fetchall()
    assert len(got) == N == len(exp)
    for g, e in zip(got, exp):
        assert g.doc_id == e[0]
        assert g.tokens == e[1], g.doc_id
        assert g.n_tok == e[2] == len(g.tokens)
        assert g.source == e[3]


def test_sequences_tokens_are_int32(spark):
    # Bitwise int32 equality is the per-row invariant (BASELINE.json input_hint):
    # the Arrow schema must carry list<int32>, never upcast.
    tbl = fixtures.sequences(spark, 10).toArrow()
    import pyarrow as pa

    assert tbl.schema.field("tokens").type == pa.list_(pa.int32())
    assert tbl.schema.field("n_tok").type == pa.int32()


def test_sequences_partition_invariance(spark):
    a = fixtures.sequences(spark, N, partitions=1).orderBy("seq_no").collect()
    b = fixtures.sequences(spark, N, partitions=7).orderBy("seq_no").collect()
    assert a == b


def test_raw_lines_parity(spark):
    got = fixtures.raw_lines(spark, N).orderBy("doc_id").collect()
    exp = duckdb.sql(fixtures.raw_lines_sql(N) + " ORDER BY doc_id").fetchall()
    assert [(r.doc_id, r.line) for r in got] == [(e[0], e[1]) for e in exp]


def test_raw_lines_bucket_mix(spark):
    rows = fixtures.raw_lines(spark, 100).collect()
    normal = [r for r in rows if 'provider="' in r.line and 'provider="17"' not in r.line]
    missing = [r for r in rows if "provider=" not in r.line and "corrupt" not in r.line]
    corrupt = [r for r in rows if "!!corrupt" in r.line]
    numeric = [r for r in rows if 'provider="17"' in r.line]
    assert (len(normal), len(missing), len(corrupt), len(numeric)) == (90, 5, 3, 2)


def test_source_skew(spark):
    counts = dict(
        (r.source, r.cnt)
        for r in fixtures.sequences(spark, 1000).groupBy("source").count()
        .withColumnRenamed("count", "cnt").collect()
    )
    assert counts["web"] == 600 and counts["books"] == 200
    assert counts["code"] == 100 and counts["wiki"] == 90
    assert counts[None] == 10


def test_pattern_dict_parity(spark):
    got = sorted(map(tuple, fixtures.pattern_dict(spark).collect()))
    exp = sorted(map(tuple, duckdb.sql(fixtures.pattern_dict_sql()).fetchall()))
    assert got == exp


def test_routed_tokens_bitwise_equal_to_oracle(spark):
    """SURVEY §5.2: routed rows' token arrays are BITWISE equal to the
    reference oracle — compared as raw int32 buffers, not just values."""
    from array import array

    from ulp_spark.plans import pipeline

    n = 2_000
    p = pipeline.build(spark, n=n)
    got = {r.doc_id: r.tokens for r in p.routed_tokens.collect()}

    # pure-Python oracle of the generator + routing (parse misses excluded)
    def oracle_tokens(i):
        n_tok = (i * 7919) % 512 + 1
        return array("i", [(i * 31 + j * 17) % 50257 for j in range(n_tok)])

    expected_ids = {f"doc-{i:08d}" for i in range(n) if i % 100 < 95 or i % 100 >= 98}
    assert set(got) == expected_ids
    for i in range(n):
        doc_id = f"doc-{i:08d}"
        if doc_id not in got:
            continue
        exp = oracle_tokens(i)
        assert array("i", got[doc_id]).tobytes() == exp.tobytes(), doc_id


def test_local_frame_matches_create_data_frame(spark):
    """session.local_frame gives createDataFrame's rows, names and types
    for every type its callers use — quote, backslash, control and
    non-ASCII strings, int/bigint extremes, the awkward doubles, arrays,
    a NULL in every column, zero rows — under either setting of
    ``spark.sql.parser.escapedStringLiterals``.  Only nullability may
    differ, and only where no row holds a NULL."""
    import math

    import pytest
    from pyspark.sql.types import ArrayType

    from ulp_spark.session import local_frame

    ddl = "s string, i int, b bigint, d double, a array<double>"
    specials = [0.1, -0.0, 5e-324, math.nan, math.inf, -math.inf]
    rows = [
        ("it's", 2**31 - 1, 2**63 - 1, 0.1, specials),
        ("back\\slash", -(2**31), -(2**63), -0.0, [None, 1.5]),
        ("ctl\x01", 0, 0, 5e-324, []),
        ("näïve ✓ 日本", 7, 7, math.nan, [0.25]),
        ("", -1, -1, math.inf, [-math.inf]),
        ("x", 1, 1, -math.inf, [2.0]),
        (None, None, None, None, None),
    ]

    def shape(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema]

    def check(rows, ddl):
        got, exp = local_frame(spark, rows, ddl), spark.createDataFrame(rows, ddl)
        assert shape(got) == shape(exp)
        got_rows = got.collect()
        # repr keeps -0.0 apart from 0.0 and makes NaN equal to itself
        assert repr(got_rows) == repr(exp.collect())
        for f in got.schema:
            assert f.nullable or all(r[f.name] is not None for r in got_rows), f
            if isinstance(f.dataType, ArrayType):
                assert f.dataType.containsNull or all(
                    None not in (r[f.name] or []) for r in got_rows), f

    key = "spark.sql.parser.escapedStringLiterals"
    for setting in ("false", "true"):
        spark.conf.set(key, setting)
        try:
            check(rows, ddl)
            check(rows[:-1], ddl)   # no NULL column anywhere
            check([], ddl)
        finally:
            spark.conf.unset(key)

    with pytest.raises(ValueError):
        local_frame(spark, [({"k": 1},)], "m map<string,int>")
    with pytest.raises(ValueError):
        local_frame(spark, [(True,)], "f boolean")
    with pytest.raises(TypeError):
        local_frame(spark, [(1.5,)], "i int")
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2)], "i int")
