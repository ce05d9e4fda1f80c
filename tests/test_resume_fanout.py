"""S9/D1 — manifest-based resume, deterministic fan-out, lineage digests,
the scripts/run_pipeline.py script, and batch operators run unchanged
under Structured Streaming."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from ulp_spark.operators import fanout, lattice, lineage, parse
from ulp_spark.plans import manifest, pipeline

N = 1_000


def _routed(spark):
    return pipeline.build(spark, n=N).routed


def test_fanout_partitioned_write(spark, tmp_path):
    """Every route's sink holds exactly that route's rows, and the
    manifest's n_rows says so."""
    routed = _routed(spark)
    exp = dict((r.route, r.n_rows) for r in fanout.route_counts(routed).collect())
    base = str(tmp_path / "runs")
    m = manifest.new_manifest("run-000", N, {r: {} for r in exp})
    done = manifest.resume_fanout(routed.select("doc_id", "route"), m, base)
    for route, n in exp.items():
        back = spark.read.parquet(_glob_escaped(done["routes"][route]["path"]))
        assert back.filter(F.col("route") != route).count() == 0
        assert back.count() == n == done["routes"][route]["n_rows"]


def test_resume_skips_committed_routes(spark, tmp_path, content_digest):
    routed = _routed(spark).select("doc_id", "route", "parser").cache()
    fields = parse.all_fields(parse.DEFAULT_PATTERNS)
    schemas = lattice.route_schemas(pipeline.build(spark, n=N).routed, fields)
    schemas["quarantine"] = {}
    base = str(tmp_path / "runs")

    m = manifest.new_manifest("run-001", N, schemas)
    # phase 1: pretend we crashed after committing the first two routes
    routes_sorted = sorted(m["routes"])
    partial = dict(m, routes={r: dict(m["routes"][r]) for r in m["routes"]})
    first_two = routes_sorted[:2]
    for r in routes_sorted:
        if r in first_two:
            path = os.path.join(base, "run-001", "sinks", r)
            routed.filter(F.col("route") == r).write.mode("overwrite").parquet(path)
            partial["routes"][r].update(
                committed=True, path=path,
                n_rows=routed.filter(F.col("route") == r).count())
    manifest.save(base, "run-001", partial)

    # resume: only the remaining routes get written
    loaded = manifest.load(base, "run-001")
    assert loaded == partial
    before = {r: loaded["routes"][r]["committed"] for r in loaded["routes"]}
    assert sum(before.values()) == 2
    done = manifest.resume_fanout(routed, loaded, base)
    assert all(e["committed"] for e in done["routes"].values())

    # no dup/loss: union of sinks content-equal to the input frame
    paths = [e["path"] for e in done["routes"].values() if e["n_rows"]]
    union = spark.read.parquet(*paths).select("doc_id", "route", "parser")
    assert content_digest(union) == content_digest(routed)
    assert union.count() == routed.count()

    # idempotency: resuming a complete manifest writes nothing new
    snap = json.dumps(done, sort_keys=True)
    again = manifest.resume_fanout(routed, json.loads(snap), base)
    assert json.dumps(again, sort_keys=True) == snap


def test_resume_fanout_single_count_action(spark, tmp_path, monkeypatch):
    """Row counts must come from ONE groupBy aggregate, never a per-route
    DataFrame.count() (which re-scanned the routed frame once per route)."""
    from pyspark.sql import DataFrame

    routed = _routed(spark).select("doc_id", "route", "parser")
    fields = parse.all_fields(parse.DEFAULT_PATTERNS)
    schemas = lattice.route_schemas(pipeline.build(spark, n=N).routed, fields)
    base = str(tmp_path / "runs")
    m = manifest.new_manifest("run-002", N, schemas)
    manifest.save(base, "run-002", m)

    calls = {"n": 0}
    orig = DataFrame.count

    def counted(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(DataFrame, "count", counted)
    done = manifest.resume_fanout(routed, m, base)
    assert calls["n"] == 0
    assert all(e["committed"] for e in done["routes"].values())
    exp = {r.route: r.n for r in routed.groupBy("route")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    for route, e in done["routes"].items():
        assert e["n_rows"] == exp.get(route, 0)


def _glob_escaped(path):
    """Hadoop globs ``{}``/``[]`` in read paths; escape them to read a
    sink directory by its literal name."""
    return re.sub(r"([{}\[\]*?\\])", r"\\\1", path)


def test_resume_fanout_after_crash_mid_commit(spark, tmp_path, monkeypatch,
                                             content_digest):
    """A crash after the 2nd route commit leaves a stale ``_staging/``, a
    renamed-but-unrecorded 3rd sink and a half-committed manifest; the
    next call commits every route, the sinks hold exactly the input, the
    staging directory is gone and history has one snapshot per commit."""
    routed = _routed(spark).select("doc_id", "route", "parser")
    fields = parse.all_fields(parse.DEFAULT_PATTERNS)
    schemas = lattice.route_schemas(pipeline.build(spark, n=N).routed, fields)
    schemas["quarantine"] = {}
    base = str(tmp_path / "runs")
    m = manifest.new_manifest("run-003", N, schemas)
    manifest.save(base, "run-003", m)
    staging = os.path.join(base, "run-003", "_staging")

    save = manifest.save
    commits = {"n": 0}

    def crash_after_two(*a, **kw):
        commits["n"] += 1
        if commits["n"] > 2:
            raise RuntimeError("driver lost")
        return save(*a, **kw)

    monkeypatch.setattr(manifest, "save", crash_after_two)
    with pytest.raises(RuntimeError, match="driver lost"):
        manifest.resume_fanout(routed, m, base)
    monkeypatch.undo()
    assert os.path.isdir(staging)
    loaded = manifest.load(base, "run-003")
    routes = sorted(loaded["routes"])
    assert [r for r in routes if loaded["routes"][r]["committed"]] == routes[:2]

    done = manifest.resume_fanout(routed, loaded, base)
    assert all(e["committed"] for e in done["routes"].values())
    union = spark.read.parquet(
        *[_glob_escaped(e["path"]) for e in done["routes"].values()]
    ).select("doc_id", "route", "parser")
    assert content_digest(union) == content_digest(routed)
    assert union.count() == routed.count()
    assert not os.path.exists(staging)
    assert [h["committed"] for h in done["history"]] == [
        routes[:k] for k in range(len(routes) + 1)]


def test_resume_fanout_escaped_route_names_and_empty_route(spark, tmp_path):
    """Spark %XX-escapes ``= { [`` in partition directory names; each
    staged directory maps back to its route by unescaping.  A pending
    route with no rows commits an empty, readable sink."""
    rows = [("d0", "a=b"), ("d1", "a=b"), ("d2", "x{y}"), ("d3", "[z]"),
            ("d4", "[z]"), ("d5", "[z]")]
    routed = spark.createDataFrame(rows, "doc_id string, route string")
    base = str(tmp_path / "runs")
    m = manifest.new_manifest(
        "run-004", len(rows), {r: {} for r in ("a=b", "x{y}", "[z]", "none")})
    manifest.save(base, "run-004", m)
    done = manifest.resume_fanout(routed, m, base)
    for route in ("a=b", "x{y}", "[z]", "none"):
        e = done["routes"][route]
        exp = sorted(r for r in rows if r[1] == route)
        assert e["committed"] and e["n_rows"] == len(exp)
        assert e["path"] == os.path.join(base, "run-004", "sinks", route)
        back = spark.read.parquet(_glob_escaped(e["path"]))
        assert back.columns == ["doc_id", "route"]
        assert sorted(tuple(r) for r in back.collect()) == exp


def test_partition_lineage_totals(spark):
    seq = pipeline.build(spark, n=N).sequences.repartition(7)
    rows = lineage.partition_lineage(seq.select("doc_id", "n_tok")).collect()
    assert sum(r.n_rows for r in rows) == N
    assert len(rows) <= 7


def test_content_digest_partition_invariant(spark, content_digest):
    a = pipeline.build(spark, n=N).sequences.repartition(3)
    b = pipeline.build(spark, n=N).sequences.repartition(11)
    cols = ["doc_id", "n_tok", "source"]
    a, b = a.select(*cols), b.select(*cols)
    assert content_digest(a) == content_digest(b)
    c = pipeline.build(spark, n=N - 1).sequences.select(*cols)
    assert content_digest(c) != content_digest(a)


def test_streaming_vocab_counts_match_batch(spark, tmp_path):
    """Streaming word counts (complete mode, checkpointed state carried
    across two availableNow rounds) equal the batch vocabulary over the
    same files — vocab.word_counts works unchanged on a stream."""
    from ulp_spark.operators import vocab

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.mode("append").parquet(src)

    def run(name):
        stream = spark.readStream.schema("doc_id long, text string") \
            .parquet(src)
        q = (vocab.word_counts(stream, "text")
             .writeStream.format("memory").queryName(name)
             .outputMode("complete").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    write([(1, "the cat sat"), (2, "The cat")])
    run("vocab_r1")
    write([(3, "a cat ran"), (4, "the end")])
    run("vocab_r2")
    got = {r.word: r.n for r in spark.sql("SELECT * FROM vocab_r2").collect()}
    exp = {r.word: r.n
           for r in vocab.word_counts(spark.read.parquet(src), "text").collect()}
    assert got == exp and got["the"] == 3 and got["cat"] == 3


def test_job_status_summary(tmp_path):
    """GET /job analog (reference src/api.rs:79-88): status is the
    manifest + derived summary, None when there is no job (the 204
    case)."""
    base = str(tmp_path / "runs")
    assert manifest.job_status(base, "nope") is None  # 204

    m = manifest.new_manifest("run-js", 10, {"a": {}, "b": {}})
    m["routes"]["a"].update(committed=True, n_rows=7, path="x")
    manifest.save(base, "run-js", m)

    st = manifest.job_status(base, "run-js")
    assert st["summary"] == {"n_routes": 2, "n_committed": 1,
                             "n_pending": 1, "total_rows": 7, "done": False}


def test_run_pipeline_script_fixture_resume_and_input(tmp_path):
    """scripts/run_pipeline.py end to end in its own process: the fixture
    run prints the job status read back from the manifest, lineage
    included; a --resume rerun writes no route and keeps the recorded
    lineage; and --input over the same lines, split
    between a plain .log and a .log.gz next to a file of unknown format,
    routes the same rows and lists the unknown file."""
    import gzip
    import subprocess
    import sys

    import duckdb

    from ulp_spark import fixtures

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = str(tmp_path / "runs")

    def run(*args):
        res = subprocess.run(
            [sys.executable, os.path.join(repo, "scripts", "run_pipeline.py"),
             "--master", "local[2]", "--base", base, *args],
            capture_output=True, text=True, timeout=600, cwd=repo)
        assert res.returncode == 0, res.stderr[-3000:]
        return json.loads(res.stdout.strip().splitlines()[-1])

    fx = run("--n", "2000", "--run-id", "fx")
    st = manifest.job_status(base, "fx")
    assert fx["status"] == st["summary"]
    assert fx["rows_per_route"] == {
        r: e["n_rows"] for r, e in st["routes"].items()}
    assert fx["status"]["done"] and fx["status"]["total_rows"] == 2000
    assert fx["routes_written_this_run"] == fx["status"]["n_routes"] > 1
    # the run's lineage is recorded in the manifest and covers every row
    assert len(st["lineage"]) == fx["lineage_partitions"] > 0
    assert sum(r["n_rows"] for r in st["lineage"]) == 2000

    again = run("--n", "2000", "--run-id", "fx", "--resume")
    assert again["routes_written_this_run"] == 0
    assert again["rows_per_route"] == fx["rows_per_route"]
    assert manifest.job_status(base, "fx")["lineage"] == st["lineage"]

    lines = [r[0] for r in duckdb.sql(
        f"SELECT line FROM ({fixtures.raw_lines_sql(2000)}) ORDER BY doc_id"
    ).fetchall()]
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.log").write_text("\n".join(lines[:1200]) + "\n")
    with gzip.open(src / "b.log.gz", "wt") as f:
        f.write("\n".join(lines[1200:]) + "\n")
    (src / "c.bin").write_bytes(b"\x00\x01\x02")
    inp = run("--input", str(src / "*"), "--run-id", "in")
    assert inp["rows_per_route"] == fx["rows_per_route"]
    assert inp["skipped_files"] == {"unknown": [str(src / "c.bin")]}
    assert inp["n"] is None and inp["status"]["done"]
    assert sum(r["n_rows"] for r in
               manifest.job_status(base, "in")["lineage"]) == 2000


def test_streaming_rewrites_match_batch(spark, tmp_path):
    """The token rewrites (span corruption, UL2 denoiser mix) are pure
    map-only expression stages, so the SAME operator runs unchanged
    under Structured Streaming and — because every random decision is an
    md5 uniform keyed on (seed, id), not rand() — the streamed rows are
    BITWISE the batch rows regardless of micro-batch boundaries."""
    from ulp_spark import fixtures
    from ulp_spark.operators import tokens as toks

    n = 300
    seq = fixtures.sequences(spark, n).select("doc_id", "tokens")
    batch = {r.doc_id: (tuple(r.inputs), tuple(r.targets), r.n_spans,
                        r.mode)
             for r in toks.denoiser_mix(seq).collect()}

    src = str(tmp_path / "rw_src"); sink = str(tmp_path / "rw_sink")
    ckpt = str(tmp_path / "rw_ckpt")

    def run(batch_df):
        batch_df.write.mode("append").parquet(src)
        s = spark.readStream.schema(
            "doc_id string, tokens array<int>").parquet(src)
        q = (
            toks.denoiser_mix(s)
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    # two micro-batch rounds with an uneven split
    run(seq.filter(F.col("doc_id") < "doc-00000100"))
    run(seq.filter(F.col("doc_id") >= "doc-00000100"))
    got = {r.doc_id: (tuple(r.inputs), tuple(r.targets), r.n_spans, r.mode)
           for r in spark.read.parquet(sink).collect()}
    assert got == batch
