"""T7 — route-template compile/eval (reference ``src/type_map.rs:14-62``,
inline test ``src/type_map.rs:201-218``) and sink-name sanitization
(``src/elastic.rs:156-182``)."""

from __future__ import annotations

import re

import duckdb
from pyspark.sql import functions as F

from ulp_spark.functions import routes, sanitize, sniff


def test_split_template():
    assert routes.split_template("{{x.y}}_aaa_{{a.b}}_bbb") == [
        ("x.y", True), ("_aaa_", False), ("a.b", True), ("_bbb", False),
    ]
    assert routes.split_template("evtx_{{provider}}") == [
        ("evtx_", False), ("provider", True),
    ]
    assert routes.split_template("mft") == [("mft", False)]


def _eval_routes(spark, template, data, fields):
    """data: list of dicts name->(value, code); returns evaluated routes."""
    rows = [
        tuple(v for name in fields for v in (d.get(name, (None, sniff.NULL))))
        for d in data
    ]
    safe = {n: n.replace(".", "__") for n in fields}
    schema = ", ".join(f"{safe[n]}_v string, {safe[n]}_c int" for n in fields)
    df = spark.createDataFrame(rows, schema)
    col = F.expr(routes.compile_template(
        template, {n: (f"{safe[n]}_v", f"{safe[n]}_c") for n in fields}
    ))
    return [r[0] for r in df.select(col).collect()]


def test_route_reference_case(spark):
    # src/type_map.rs:201-218: "{{x.y}}_aaa_{{a.b}}_bbb" over nested values
    got = _eval_routes(
        spark,
        "{{x.y}}_aaa_{{a.b}}_bbb",
        [{"x.y": ("apple", sniff.STR), "a.b": ("pear", sniff.STR)}],
        ["x.y", "a.b"],
    )
    assert got == ["apple_aaa_pear_bbb"]


def test_route_quirks(spark):
    cases = [
        ({"provider": ("Microsoft", sniff.STR)}, "evtx_Microsoft"),
        ({}, "evtx_NONE"),                                  # missing -> NONE
        ({"provider": ("17", sniff.INT)}, "evtx_"),         # number -> silent
        ({"provider": ("2.5", sniff.FLOAT)}, "evtx_"),
        # non-finite Float sniffs are runtime STRINGS (JSON can't hold inf):
        # the reference's as_str() succeeds -> routes as the text
        ({"provider": ("inf", sniff.FLOAT)}, "evtx_inf"),
        ({"provider": ("1e999", sniff.FLOAT)}, "evtx_1e999"),
        ({"provider": ("true", sniff.BOOL)}, "evtx_"),
        ({"provider": ("0", sniff.NULL)}, "evtx_"),         # JSON null value
    ]
    got = _eval_routes(spark, "evtx_{{provider}}", [c for c, _ in cases], ["provider"])
    assert got == [e for _, e in cases]


def test_route_unknown_field_is_none(spark):
    got = _eval_routes(spark, "evtx_{{nope}}", [{}], ["provider"])
    assert got == ["evtx_NONE"]


SANITIZE_CASES = [
    ("evtx_App Log/Main", "evtx_app_logmain"),
    ("_WEIRD:NAME*", "weirdname"),
    ("evtx_NONE", "evtx_none"),
    ('A:B"C*D+E/F\\G|H?I#J%K>L<M', "abcdefghijklm"),
    # SEQUENTIAL leading trims ('_' then '.' then '-', the Rust order): a
    # mixed run is NOT fully stripped (round-1 regex ^[_.-]+ was wrong).
    ("...---___x", "___x"),
    ("-_foo", "_foo"),
    ("._foo", "_foo"),
    ("__..--x", "x"),
    # ASCII-only lowercase (make_ascii_lowercase): non-ASCII untouched
    ("ÉCLAIR cafe", "Éclair_cafe"),
    ("evtx_", "evtx_"),
]


def test_sanitize_spark(spark):
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(SANITIZE_CASES)],
                               "i int, s string")
    got = [r[0] for r in
           df.orderBy("i").select(F.expr(sanitize.sanitize_sink_name("s"))).collect()]
    assert got == [e for _, e in SANITIZE_CASES]


def test_sanitize_duckdb_twin():
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, s) for i, (s, _) in enumerate(SANITIZE_CASES)])
    got = [r[0] for r in con.sql(
        f"SELECT {sanitize.sanitize_sink_name_sql('s')} FROM t ORDER BY i"
    ).fetchall()]
    assert got == [e for _, e in SANITIZE_CASES]


def test_route_runtime_string_types(spark):
    # IPv4/IPv6/Date-sniffed values are runtime strings -> route as themselves
    # (found by driving: as_str() succeeds on them in the reference).
    cases = [
        ({"provider": ("10.0.0.1", sniff.IPV4)}, "evtx_10.0.0.1"),
        ({"provider": ("::1", sniff.IPV6)}, "evtx_::1"),
        ({"provider": ("2022-03-23T10:00:00Z", sniff.DATE)},
         "evtx_2022-03-23T10:00:00Z"),
    ]
    got = _eval_routes(spark, "evtx_{{provider}}", [c for c, _ in cases], ["provider"])
    assert got == [e for _, e in cases]


def test_parse_replace_guard_group_containing_separator(spark):
    """\\S-class groups CAN capture a literal 0x01; parse_lines must
    detect the shifted split and fall back to regexp_extract, never
    silently corrupting subsequent fields."""
    from ulp_spark.operators import parse as parse_op

    poisoned = f"2024-01-01T00:00:00Z INFO doc=a{parse_op.GROUP_SEP}b src=x n=5"
    clean = "2024-01-01T00:00:00Z WARN doc=plain src=y n=7"
    df = spark.createDataFrame([(poisoned,), (clean,)], "line string")
    a = parse_op.parse_lines(df)
    row = {r["line"]: r for r in a.collect()}[poisoned]
    assert row["parser"] == "kv_plain"
    assert row["doc"] == f"a{parse_op.GROUP_SEP}b"   # intact, not shifted
    assert row["src"] == "x" and row["n"] == "5"


def test_plan_construction_py4j_budget(spark, monkeypatch):
    """Planning build + cast_single_pass costs a few hundred Py4J round
    trips: each output column is one ``F.expr`` over composed SQL text.
    The Column-DSL form paid one round trip per expression node, ~16k."""
    import py4j.java_gateway as jg

    from ulp_spark import fixtures
    from ulp_spark.operators import lattice, parse, route_cast
    from ulp_spark.plans import pipeline

    fields = parse.all_fields(parse.DEFAULT_PATTERNS)
    lines = fixtures.raw_lines(spark, 50)
    seqs = fixtures.sequences(spark, 50)
    schemas = lattice.route_schemas(
        pipeline.build(spark, lines_df=lines, sequences_df=seqs)
        .routed.filter(~F.col("parse_error")), fields)

    calls = {"n": 0}
    send = jg.GatewayClient.send_command

    def counted(self, *a, **kw):
        calls["n"] += 1
        return send(self, *a, **kw)

    monkeypatch.setattr(jg.GatewayClient, "send_command", counted)
    p = pipeline.build(spark, lines_df=lines, sequences_df=seqs)
    route_cast.cast_single_pass(
        p.routed.filter(~F.col("parse_error")), schemas, fields)
    monkeypatch.undo()
    assert 0 < calls["n"] <= 1500, calls


def test_dimensions_are_local_table_scans(spark):
    """Both broadcast dimensions of ulp's job — enrich's pattern_dict and
    the cast's route -> schema map — are JVM ``LocalTableScan``s, so no
    Python worker runs for either: the enrich frame below build's seam
    scans no RDD, and the cast plan's one ``Scan ExistingRDD`` is the
    seam itself."""
    from ulp_spark import fixtures
    from ulp_spark.operators import enrich, lattice, parse, route_cast
    from ulp_spark.plans import pipeline

    fields = parse.all_fields(parse.DEFAULT_PATTERNS)
    lines = fixtures.raw_lines(spark, 50)
    enriched = enrich.enrich(parse.parse_lines(lines),
                             fixtures.pattern_dict(spark), on="provider")
    p = pipeline.build(spark, lines_df=lines,
                       sequences_df=fixtures.sequences(spark, 50))
    ok = p.routed.filter(~F.col("parse_error"))
    casted = route_cast.cast_single_pass(
        ok, lattice.route_schemas(ok, fields), fields)

    def formatted(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))

    def local_scans(plan):
        """The output lines of the formatted plan's LocalTableScans."""
        return re.findall(r"\) LocalTableScan\nOutput \[\d+\]: (.*)", plan)

    enrich_plan, cast_plan = formatted(enriched), formatted(casted)
    assert "Scan ExistingRDD" not in enrich_plan
    assert any("category#" in s for s in local_scans(enrich_plan))  # pattern_dict
    assert len(re.findall(r"\) Scan ExistingRDD\n", cast_plan)) == 1  # seam
    assert any("ts__target#" in s for s in local_scans(cast_plan))  # schema_dim


def test_cast_over_lazy_build_compiles(spark):
    """Both forms of ``build(...).routed`` are one checkpoint scan, so a
    cast and filter over the lazy form compile: over the unseamed parse
    derivation the stage's generated code outgrows Janino's 64 KB method
    limit, which codegen fallback would hide behind minutes of
    interpreted execution."""
    from ulp_spark.operators import lattice, parse, route_cast
    from ulp_spark.plans import pipeline

    fields = parse.all_fields(parse.DEFAULT_PATTERNS)
    not_err = ~F.col("parse_error")
    eager = pipeline.build(spark, n=200, checkpoint="local").routed
    schemas = lattice.route_schemas(eager.filter(not_err), fields)

    def n_cast(routed):
        return route_cast.cast_single_pass(
            routed.filter(not_err), schemas, fields
        ).filter(~F.col("cast_error")).count()

    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        lazy = pipeline.build(spark, n=200).routed
        assert n_cast(lazy) == n_cast(eager) > 0
        for routed in (lazy, eager):
            plan = routed._jdf.queryExecution().executedPlan().toString()
            assert "Scan ExistingRDD" in plan and "\n" not in plan.strip()
    finally:
        spark.conf.unset("spark.sql.codegen.fallback")


def test_file_run_has_no_fixture_frames(spark):
    """A file run (lines without sequences) builds no fixture token
    payload: the token frames are None, routing is unchanged."""
    from ulp_spark import fixtures
    from ulp_spark.plans import pipeline

    lines = fixtures.raw_lines(spark, 200)
    p = pipeline.build(spark, lines_df=lines)
    assert (p.sequences, p.routed_tokens, p.source_token_hist) == (
        None, None, None)
    fx = pipeline.build(spark, n=200)
    assert sorted(map(tuple, p.route_counts.collect())) == sorted(
        map(tuple, fx.route_counts.collect()))
    assert fx.source_token_hist is not None
