"""S1/S2 — glob scan + format detection + the kv_log line reader with
deterministic doc ids, plus the per-route typed cast (cast_per_route,
S8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ulp_spark.operators import lattice, parse, route_cast
from ulp_spark.plans import pipeline
from ulp_spark.sources import registry


def _mk(tmp_path, name, content: bytes):
    p = tmp_path / name
    p.write_bytes(content)
    return str(p)


def test_scan_plan_detection(tmp_path):
    _mk(tmp_path, "a.jsonl", b'{"x": 1}\n{"x": 2}\n')
    _mk(tmp_path, "b.log", b"2022-03-23T00:00:00Z INFO hello\n")
    _mk(tmp_path, "c.parquet", b"PAR1xxxxPAR1")
    _mk(tmp_path, "d.bin", b"\x00\x01\x02\x03")
    plan = registry.plan_scan(str(tmp_path / "*"))
    assert [p.split("/")[-1] for p in plan["ndjson"]] == ["a.jsonl"]
    assert [p.split("/")[-1] for p in plan["kv_log"]] == ["b.log"]
    assert [p.split("/")[-1] for p in plan["parquet"]] == ["c.parquet"]
    assert [p.split("/")[-1] for p in plan["unknown"]] == ["d.bin"]


def test_scan_empty_glob_is_empty_not_panic(tmp_path):
    plan = registry.plan_scan(str(tmp_path / "nope-*"))
    assert plan == {}


def test_read_lines_kv_log_with_deterministic_ids(spark, tmp_path):
    """Only the kv_log group is read; each line's doc_id is the sha-256 of
    (path, occurrence number among equal lines of its file, line), so
    equal lines of one file get different ids and a rerun or another
    partitioning gets the same ones."""
    import hashlib

    _mk(tmp_path, "a.jsonl", b'{"x": 1}\n{"x": 2}\n')
    _mk(tmp_path, "b.log", b"l1\nl2\nl1\n")
    df = registry.read_lines(spark, registry.plan_scan(str(tmp_path / "*")))
    rows = df.collect()
    assert sorted(r.line for r in rows) == ["l1", "l1", "l2"]
    path = rows[0].path
    assert path.endswith("/b.log") and {r.path for r in rows} == {path}

    def sha(k, line):
        return hashlib.sha256(f"{path}\0{k}\0{line}".encode()).hexdigest()

    assert sorted(r.doc_id for r in rows) == sorted(
        [sha(1, "l1"), sha(2, "l1"), sha(1, "l2")])
    assert sorted(r.doc_id for r in df.repartition(3).collect()) == \
        sorted(r.doc_id for r in rows)


def test_cast_per_route_typed_schemas(spark):
    p = pipeline.build(spark, n=500)
    ok = p.routed.filter(~F.col("parse_error"))
    fields = parse.all_fields(parse.DEFAULT_PATTERNS)
    schemas = lattice.route_schemas(ok, fields)
    tables = route_cast.cast_per_route(ok, schemas, fields)
    r = "evtx_microsoft-windows-security-auditing"
    t = tables[r]
    dt = dict(t.dtypes)
    assert dt["n"] == "bigint" and dt["ts"] == "string"
    rows = t.collect()
    assert all(not x.cast_error for x in rows)
    assert all(isinstance(x.n, int) for x in rows)
    assert all(x.ts.endswith("+00:00") for x in rows)  # RFC3339 UTC re-emit
    # evtx_: provider type Int per schema (numeric provider quirk rows)
    t2 = tables["evtx_"]
    assert dict(t2.dtypes)["provider"] == "bigint"
    assert all(x.provider == 17 for x in t2.collect())


def test_cast_single_pass_missing_field_error_is_false_not_null(spark):
    """Three-valued-logic regression: a route whose schema omits a field
    must yield cast_error = false for its rows, never NULL (a NULL error
    flag escapes BOTH filter(err) and filter(~err))."""
    from ulp_spark.functions import sniff as sn
    from ulp_spark.operators import route_cast

    df = spark.createDataFrame(
        [("A", "abc"), ("B", "abc")], "route string, f string")
    df = df.select("*", F.lit(sn.STR).alias("f__t"))
    schemas = {"A": {"f": sn.INT}, "B": {}}  # B has no target for f
    out = route_cast.cast_single_pass(df, schemas, ["f"])
    rows = {r.route: r.cast_error for r in out.collect()}
    assert rows == {"A": True, "B": False}  # B: no cast -> no error
    assert out.filter(F.col("cast_error")).count() \
        + out.filter(~F.col("cast_error")).count() == 2


def test_bool_cast_failure_is_null_in_both_cast_shapes(spark):
    """A value that cannot become a bool is NULL with cast_error set, in
    the single-pass string form as in the typed per-route form — never
    rendered as 'false'."""
    from ulp_spark.functions import sniff as sn
    from ulp_spark.operators import route_cast

    df = spark.createDataFrame(
        [(1, "A", "1", sn.INT), (2, "A", "5", sn.INT),
         (3, "A", "maybe", sn.STR)],
        "doc_id long, route string, f string, f__t int")
    schemas = {"A": {"f": sn.BOOL}}
    typed = {r.doc_id: (r.f, r.cast_error) for r in route_cast.cast_per_route(
        df, schemas, ["f"])["A"].collect()}
    assert typed == {1: (True, False), 2: (None, True), 3: (None, True)}
    single = {r.doc_id: (r.f__cast, r.cast_error) for r in
              route_cast.cast_single_pass(df, schemas, ["f"]).collect()}
    assert single == {1: ("true", False), 2: (None, True), 3: (None, True)}


def test_cast_per_route_matches_single_pass_for_every_target(spark):
    """One cast, every target: over an 8-target x 31-value grid, each
    route's typed frame has its target's native dtype, and its rows are
    the single-pass canonical strings CAST to that type, cast_error
    included."""
    from ulp_spark.functions import sniff as sn
    from ulp_spark.functions.sqltext import ident

    values = [
        None, "null", "0", "1", "true", "False", "7", "-42",
        "9223372036854775807", "-9223372036854775808", "0x1F", "2.5",
        "-2.5", "0.30000000000000004", "4.9e-324", "-0.0",
        "1.7976931348623157e308", "NaN", "inf", "-Infinity", "1e999",
        "1.2.3.4", "256.1.1.1", "::1", "0:0:0:0:0:0:0:1", "::ffff:1.2.3.4",
        "2001:DB8::1", "2022-03-23T10:00:00+01:00",
        "2022-03-23T10:00:00.123-05:30", "2022-03-23t10:00:00z",
        "hello world"]
    # the INT cast of a float outside i64 is pinned in test_casts.CASES
    rows = [(t * 100 + i, f"t{t}", v)
            for t in range(8) for i, v in enumerate(values)
            if not (t == sn.INT and v == "1.7976931348623157e308")]
    df = spark.createDataFrame(rows, "doc_id long, route string, f string")
    df = df.selectExpr("*", f"{sn.sniff_code(ident('f'))} AS f__t")
    schemas = {f"t{t}": {"f": t} for t in range(8)}
    native = {sn.NULL: "string", sn.BOOL: "boolean", sn.INT: "bigint",
              sn.FLOAT: "double", sn.IPV4: "string", sn.IPV6: "string",
              sn.DATE: "string", sn.STR: "string"}

    single = route_cast.cast_single_pass(df, schemas, ["f"])
    tables = route_cast.cast_per_route(df, schemas, ["f"])
    assert list(tables) == sorted(schemas)
    for t in range(8):
        typed = tables[f"t{t}"]
        assert typed.dtypes == [("doc_id", "bigint"), ("f", native[t]),
                                ("cast_error", "boolean")], t
        want = single.filter(F.col("route") == f"t{t}").selectExpr(
            "doc_id", f"CAST(f__cast AS {native[t]}) AS f", "cast_error")
        got = sorted(typed.collect())
        assert got == sorted(want.collect()), t
        assert len(got) == len(values) - (t == sn.INT), t
        ok = [r.f for r in got if not r.cast_error]
        assert ok and all((v is None) == (t == sn.NULL) for v in ok), t


def test_cast_single_pass_ipv6_branch(spark):
    """IPv6 is the one cast branch composed as a Column (its
    canonicalization is a pandas UDF); in a field whose routes also take
    SQL-text targets, every route still gets its own cast."""
    from ulp_spark.functions import sniff as sn
    from ulp_spark.operators import route_cast

    df = spark.createDataFrame(
        [("A", "0:0:0:0:0:0:0:1"), ("A", "::FFFF:1.2.3.4"),
         ("B", "0:0:0:0:0:0:0:1"), ("C", "12")], "route string, f string")
    df = df.select("*", F.lit(sn.STR).alias("f__t"))
    schemas = {"A": {"f": sn.IPV6}, "B": {"f": sn.STR}, "C": {"f": sn.INT}}
    out = route_cast.cast_single_pass(df, schemas, ["f"])
    assert sorted(tuple(r) for r in out.select(
        "route", "f__cast", "cast_error").collect()) == [
        ("A", "::1", False), ("A", "::ffff:1.2.3.4", False),
        ("B", "0:0:0:0:0:0:0:1", False), ("C", "12", False)]


def test_ivf_trained_fewer_rows_than_k(spark):
    from ulp_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, [float(i + 1), 0.5, -0.25]) for i in range(5)],
        "vec_id long, embedding array<float>")
    cents = similarity.ivf_centroids_trained(df, "embedding", "vec_id", k=8)
    assert 0 < len(cents) <= 8
    cells = [r.c for r in df.select(
        similarity.ivf_assign(F.col("embedding"), cents,
                              similarity.norm(F.col("embedding")))
        .alias("c")).collect()]
    assert all(0 <= c < len(cents) for c in cells)


def test_csv_and_gzip_detection_and_readers(spark, tmp_path):
    """Round-3 format breadth: csv/tsv classify as the csv group; gzip
    members classify as their INNER format (compression is storage, not
    format), and a .log.gz reads transparently through the line reader."""
    import gzip

    from ulp_spark.sources import registry

    (tmp_path / "a.csv").write_text("x,y\n1,foo\n2,bar\n")
    (tmp_path / "b.tsv").write_text("x\ty\n")
    with gzip.open(tmp_path / "c.ndjson.gz", "wt") as f:
        f.write('{"k": 1}\n{"k": 2}\n')
    with gzip.open(tmp_path / "d.log.gz", "wt") as f:
        f.write("2024-01-01T00:00:00 INFO doc=a src=b n=1\n")
    (tmp_path / "e.gz").write_bytes(gzip.compress(b"???"))  # no inner ext

    plan = registry.plan_scan(str(tmp_path / "*"))
    assert [p.split("/")[-1] for p in plan.get("csv", [])] == \
        ["a.csv", "b.tsv"]
    assert [p.split("/")[-1] for p in plan.get("ndjson", [])] == \
        ["c.ndjson.gz"]
    assert [p.split("/")[-1] for p in plan.get("kv_log", [])] == \
        ["d.log.gz"]
    assert [p.split("/")[-1] for p in plan["unknown"]] == ["e.gz"]

    lines = registry.read_lines(spark, plan)
    assert [r.line for r in lines.collect()] == \
        ["2024-01-01T00:00:00 INFO doc=a src=b n=1"]


def test_orc_detection_by_magic(spark, tmp_path):
    """Round-4 format breadth: ORC classifies by its 'ORC' magic, even
    with a lying extension."""
    from ulp_spark.sources import registry

    src = spark.createDataFrame([(1, "foo"), (2, "bar")], "x int, y string")
    orc_dir = tmp_path / "orcdata"
    src.coalesce(1).write.orc(str(orc_dir))
    part = next(p for p in orc_dir.iterdir() if p.name.endswith(".orc"))
    data = part.read_bytes()
    assert data.startswith(b"ORC")
    renamed = tmp_path / "mystery.bin"  # magic wins over extension
    renamed.write_bytes(data)

    plan = registry.plan_scan(str(tmp_path / "mystery.*"))
    assert [p.split("/")[-1] for p in plan.get("orc", [])] == \
        ["mystery.bin"]


def test_cast_per_route_reads_seam_not_derivation(spark):
    """cast_per_route over build's ``routed`` reads build's seam: each
    route's filter(route == r) runs over a scan of it, never over the
    parse derivation."""
    p = pipeline.build(spark, n=200)
    ok = p.routed.filter(~F.col("parse_error"))
    fields = parse.all_fields(parse.DEFAULT_PATTERNS)
    schemas = lattice.route_schemas(ok, fields)

    tables = route_cast.cast_per_route(ok, schemas, fields)
    one = next(iter(tables.values()))
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan  # reads the seam
    # the fixture generator (spark.range) never re-inlines below the seam
    assert "Range (" not in plan

