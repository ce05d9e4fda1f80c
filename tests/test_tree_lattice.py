"""Recursive type-tree semantics: pure-Python oracle vs reference golden
cases (T6/type_casting tests), the distributed tree fold, and dotted-path
extraction (P3)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from ulp_spark import oracle
from ulp_spark.functions import fields, sniff
from ulp_spark.operators import lattice

S = sniff


def obj(**kw):
    return {"kind": S.OBJECT, "children": kw}


def lst(*items):
    return {"kind": S.LIST, "children": dict(enumerate(items))}


def test_get_type_reference_object():
    # tests.rs:10-54 — {"a":1,"b":2.0,"c":1} ⊔ {"a":1,"b":"2.a","c":"1.0.2.4"}
    t1 = oracle.get_type({"a": 1, "b": 2.0, "c": 1})
    t2 = oracle.get_type({"a": 1, "b": "2.a", "c": "1.0.2.4"})
    merged = oracle.merge_tree(t1, t2)
    assert oracle.tree_to_paths(merged) == {"a": S.INT, "b": S.STR, "c": S.STR}


def test_merge_null_identity_on_trees():
    t = oracle.get_type({"x": {"y": [1, "a"]}})
    assert oracle.merge_tree(S.NULL, t) == t
    assert oracle.merge_tree(t, S.NULL) == t


def test_positional_list_typing():
    t = oracle.get_type([1, "a", 2.5])
    assert t == lst(S.INT, S.STR, S.FLOAT)
    # List ⊔ scalar folds into index 0 (lib.rs:88-97)
    m = oracle.merge_tree(t, S.FLOAT)
    assert m["children"][0] == S.FLOAT


def test_object_list_merge_stringifies_indices():
    # lib.rs:69-86
    m = oracle.merge_tree(oracle.get_type({"0": 1}), oracle.get_type([2.5]))
    assert m["kind"] == S.OBJECT
    assert m["children"]["0"] == S.FLOAT  # Int ⊔ Float


def test_tree_codec_roundtrip():
    t = oracle.get_type({"a": [1, {"b": "x"}], "c": None})
    enc = json.loads(json.dumps(oracle.encode_tree(t)))
    assert oracle.decode_tree(enc) == t


def test_json_tree_schema_distributed_matches_oracle(spark):
    recs = [
        {"a": 1, "b": {"c": "2022-03-23T00:00:00Z", "d": [1, 2]}},
        {"a": 2.5, "b": {"c": "10.0.0.1", "d": [3, "x"]}},
        {"a": "null", "e": True},
    ]
    lines = [json.dumps(r) for r in recs] + ["{not json"]
    df = spark.createDataFrame([(ln,) for ln in lines], "line string").repartition(3)
    got = lattice.json_tree_schema(df, "line")
    exp = S.NULL
    for r in recs:
        exp = oracle.merge_tree(exp, oracle.get_type(r))
    assert got == exp
    paths = oracle.tree_to_paths(got)
    assert paths["a"] == S.FLOAT          # Int ⊔ Float ⊔ Null
    assert paths["b.c"] == S.STR          # Date ⊔ IPv4 -> Str
    assert paths["b.d.0"] == S.INT
    assert paths["b.d.1"] == S.STR        # Int ⊔ Str
    assert paths["e"] == S.BOOL


def test_dotted_path_extraction(spark):
    df = spark.createDataFrame(
        [('{"a": {"b": [ {"c": "apple"}, {"c": "pear"} ]}}',)], "j string")
    got = df.select(
        fields.json_path(F.col("j"), "a.b.0.c").alias("x"),
        fields.json_path(F.col("j"), "a.b.1.c").alias("y"),
        fields.json_path(F.col("j"), "a.nope").alias("z"),
    ).collect()[0]
    assert (got.x, got.y, got.z) == ("apple", "pear", None)


def test_json_field_schema_runtime_types(spark):
    """Types::get_type parity: JSON numbers/bools/null map directly to their
    codes (number 0 is Int, NOT the string-"0" Null quirk; 1 is Int, not
    Bool); only JSON strings run the sniff battery.  Spark (variant) and the
    DuckDB twin (json_each.type) must agree."""
    import duckdb

    from ulp_spark.operators import lattice as lat

    rows = [
        ('{"a": 0, "b": "0", "c": 1.5, "d": true, "e": null, '
         '"f": [1, 2], "g": {"x": 1}, "h": "42"}',),
        ('{"a": 1, "b": "null", "c": 2.5, "h": "hello"}',),
        # serde Number boundaries: Int iff value fits i64 OR u64
        ('{"u": 9223372036854775808, "o": 18446744073709551616, '
         '"m": -9223372036854775809}',),
        ("not json at all",),
        ('[1, 2, 3]',),           # top-level array: contributes no fields
        ("42",),                  # top-level scalar: ditto
    ]
    df = spark.createDataFrame(rows, "props string")
    got = {
        r.field: (r.type_code, r.n_values)
        for r in lat.json_field_schema(df, "props").collect()
    }
    assert got == {
        "a": (sniff.INT, 2),      # numbers 0 and 1: Int, never Null/Bool
        "b": (sniff.NULL, 2),     # strings "0"/"null": the content battery
        "c": (sniff.FLOAT, 2),
        "d": (sniff.BOOL, 1),
        "e": (sniff.NULL, 1),
        "f": (sniff.LIST, 1),
        "g": (sniff.OBJECT, 1),
        "h": (sniff.STR, 2),      # "42" Int ⊔ "hello" Str -> Str
        "u": (sniff.INT, 1),      # u64 range -> Int (serde is_u64)
        "o": (sniff.FLOAT, 1),    # beyond u64 -> f64
        "m": (sniff.FLOAT, 1),    # below i64::MIN -> f64
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (props VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", rows)
    sql = lat.json_field_schema_sql("t", "props")
    exp = {r[0]: (r[1], r[2]) for r in con.sql(sql).fetchall()}
    assert exp == got
