"""T5 — cast-matrix golden cases (reference ``type_casting/src/tests.rs`` +
``lib.rs:318-437``).  Each case: (raw string value, runtime code, target
code, expected value, expected error)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ulp_spark.functions import casts, sniff
from ulp_spark.functions.sniff import BOOL, DATE, FLOAT, INT, IPV4, IPV6, NULL, STR

I64_MAX = 9223372036854775807
I64_MIN = -9223372036854775808

# (value, runtime_code, target, expected, err)
CASES = [
    # null -> X (tests.rs:70-113)
    (None, NULL, BOOL, False, False),
    (None, NULL, INT, 0, False),
    (None, NULL, FLOAT, 0.0, False),
    (None, NULL, STR, "null", False),
    (None, NULL, DATE, None, True),          # lib.rs:328 error arm
    (None, NULL, IPV4, None, True),
    # bool -> X (tests.rs:114-174)
    ("false", BOOL, INT, 0, False),
    ("true", BOOL, INT, 1, False),
    ("false", BOOL, FLOAT, 0.0, False),
    ("true", BOOL, FLOAT, 1.0, False),
    ("false", BOOL, STR, "false", False),
    ("true", BOOL, STR, "true", False),
    ("true", BOOL, NULL, None, False),       # bool_null always Ok
    # int -> X (tests.rs:175-217)
    ("0", NULL, BOOL, False, False),         # "0" sniffs Null -> null_bool
    ("1", BOOL, BOOL, True, False),          # "1" sniffs Bool
    ("5", INT, BOOL, None, True),            # int_bool error for |i|>1
    (str(I64_MAX), INT, BOOL, None, True),
    (str(I64_MIN), INT, BOOL, None, True),
    (str(I64_MAX), INT, FLOAT, 2147483647.0, False),   # i32 clamp
    (str(I64_MIN), INT, FLOAT, -2147483648.0, False),
    ("7", INT, FLOAT, 7.0, False),
    ("7", INT, INT, 7, False),
    ("7", INT, STR, "7", False),
    ("7", INT, NULL, None, False),
    # float -> X
    ("2.6", FLOAT, INT, 3, False),           # round (types.rs:141-143)
    ("-2.5", FLOAT, INT, -3, False),         # half away from zero
    ("9.2e18", FLOAT, INT, 9200000000000000000, False),
    # a rounded float outside i64 is a cast error, not a job abort
    ("1e308", FLOAT, INT, None, True),
    ("-1e19", FLOAT, INT, None, True),
    ("99999999999999999999", FLOAT, INT, None, True),  # sniffs FLOAT
    ("1.7976931348623157e308", FLOAT, INT, None, True),
    ("2.5", FLOAT, FLOAT, 2.5, False),
    ("2.5", FLOAT, STR, "2.5", False),
    ("1.0", FLOAT, BOOL, True, False),
    ("0.0", FLOAT, BOOL, False, False),
    ("2.5", FLOAT, BOOL, None, True),
    # str -> X (nested battery quirks)
    ("0x1234", STR, INT, 4660, False),
    ("0X1234", STR, INT, 4660, False),
    ("true", STR, INT, 1, False),            # str_int bool fallback
    ("abc", STR, INT, None, True),
    ("2.5", STR, FLOAT, 2.5, False),
    ("abc", STR, FLOAT, None, True),
    ("inf", STR, FLOAT, None, True),         # Number::from_f64 gate (lib.rs:373)
    ("1e999", STR, FLOAT, None, True),       # overflow -> +inf -> from_f64 gate
    ("-1e999", STR, FLOAT, None, True),
    ("hello", STR, STR, "hello", False),
    ("null", STR, NULL, None, False),
    ("0", STR, NULL, None, False),
    ("x", STR, NULL, None, True),
    # str -> ip (tests.rs:497-547)
    ("1.0.2.4", STR, IPV4, "1.0.2.4", False),
    ("0x12.12.12.12", STR, IPV4, None, True),
    ("0:0:0:0:0:0:0:1", STR, IPV6, "::1", False),
    ("2001:db8::1", STR, IPV6, "2001:db8::1", False),
    ("1.0.0.0", STR, IPV6, None, True),
    # Rust std Display renders IPv4-MAPPED addresses in mixed notation
    ("::ffff:1.2.3.4", STR, IPV6, "::ffff:1.2.3.4", False),
    ("0:0:0:0:0:ffff:1.2.3.4", STR, IPV6, "::ffff:1.2.3.4", False),
    ("::1.2.3.4", STR, IPV6, "::102:304", False),  # ipv4-COMPATIBLE: hex form

    # str -> date (lib.rs:377; FIXTURES T5)
    ("2022-03-23T10:00:00+01:00", STR, DATE, "2022-03-23T09:00:00+00:00", False),
    ("2022-03-23T10:00:00Z", STR, DATE, "2022-03-23T10:00:00+00:00", False),
    ("2022-03-23 10:00:00", STR, DATE, None, True),
    ("2022-03-23t10:00:00z", STR, DATE, "2022-03-23T10:00:00+00:00", False),
    ("2024-02-31T10:00:00Z", STR, DATE, None, True),   # calendar-exact gate
]


@pytest.fixture(scope="module")
def results(spark):
    rows = []
    df = spark.createDataFrame(
        [(i, v, rc) for i, (v, rc, _, _, _) in enumerate(CASES)],
        "i int, v string, rc int",
    )
    # Build one select with a value+err pair per case (grouped by target);
    # an IPv6 value is the validated address, canonicalized by the UDF.
    cols = []
    for i, (_, _, target, _, _) in enumerate(CASES):
        val, err = casts.cast_field("v", "rc", target, sniff.sniff_code("v"))
        val = F.expr(val)
        if target == IPV6:
            val = casts.ipv6_canonical(val)
        cols.append(F.when(F.col("i") == i, val).alias(f"val_{i}"))
        cols.append(F.when(F.col("i") == i, F.expr(err)).alias(f"err_{i}"))
    out = df.select("i", *cols).orderBy("i").collect()
    for i, r in enumerate(out):
        rows.append((r[f"val_{i}"], bool(r[f"err_{i}"])))
    return rows


def test_cast_matrix(results):
    for (value, rcode, target, exp_val, exp_err), (got_val, got_err) in zip(CASES, results):
        label = f"cast({value!r}, rt={sniff.TYPE_NAMES[rcode]} -> {sniff.TYPE_NAMES[target]})"
        assert got_err == exp_err, f"{label}: err {got_err} != {exp_err}"
        if not exp_err:
            assert got_val == exp_val, f"{label}: {got_val!r} != {exp_val!r}"


def test_cast_to_int_sql_out_of_range_float_is_null():
    """The DuckDB twin of the INT cast: a rounded float outside i64 is
    NULL, not a ConversionException; in-range floats still round."""
    import duckdb

    values = ["9.2e18", "1e308", "-1e19", "99999999999999999999",
              "1.7976931348623157e308", "-2.5", "-9.223372036854775808e18"]
    rows = ", ".join(f"({i}, '{v}')" for i, v in enumerate(values))
    got = duckdb.sql(
        f"SELECT i, {casts.cast_to_int_sql('v', str(FLOAT))} "
        f"FROM (VALUES {rows}) t(i, v) ORDER BY i").fetchall()
    assert [r[1] for r in got] == [
        9200000000000000000, None, None, None, None, -3, I64_MIN]


def test_cast_field_has_one_package_caller():
    """One cast implementation: ``cast_field`` is called from exactly one
    function in ulp_spark/ — the single-pass cast's renderer; the typed
    per-route form projects that cast instead of composing its own."""
    import ast
    import pathlib

    import ulp_spark

    root = pathlib.Path(ulp_spark.__file__).parent
    callers = set()
    for p in sorted(root.rglob("*.py")):
        for top in ast.parse(p.read_text()).body:
            for node in ast.walk(top):
                func = getattr(node, "func", None)
                if isinstance(node, ast.Call) and "cast_field" in (
                        getattr(func, "attr", None), getattr(func, "id", None)):
                    callers.add(f"{p.relative_to(root)}:"
                                f"{getattr(top, 'name', '<module>')}")
    assert callers == {"operators/route_cast.py:_repr_str"}


def test_runtime_code_collapse(spark):
    df = spark.createDataFrame([(c,) for c in range(8)], "c int")
    got = [r[0] for r in df.select(F.expr(sniff.runtime_code("c"))).collect()]
    assert got == [NULL, BOOL, INT, FLOAT, STR, STR, STR, STR]
