"""Unit tests for the training-data operators (dedup, similarity,
textstats, curation, tokens, packing, sharding, ...) — edge cases the
sf0.01 corpus doesn't hit — and the repo guards: dead defs, unused
options, benchmark call binding."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ulp_spark.operators import dedup, similarity, textstats


def test_shingles_short_and_null(spark):
    # sequence(1,0) descending-trap regression: <5 chars must be empty.
    df = spark.createDataFrame(
        [(1, ""), (2, "ab"), (3, None), (4, "hello"), (5, "hello!")],
        "id long, text string")
    got = {r.id: r.n for r in df.select(
        "id", F.size(dedup.shingle_hashes(F.col("text"))).alias("n")).collect()}
    assert got == {1: 0, 2: 0, 3: 0, 4: 1, 5: 2}


def test_minhash_identical_docs_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"),
         (3, "completely different text")],
        "id long, text string")
    sig = df.select("id", *dedup.minhash_signature(
        dedup.shingle_hashes(F.col("text"))))
    rows = {r.id: tuple(r)[1:] for r in sig.collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_minhash_candidates_find_clones(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    rows = [(i, base) for i in range(4)] + [(9, "zzz completely other doc zzz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_candidates(df, "text", "doc_id").collect()
    got = sorted((r.id_a, r.id_b) for r in pairs)
    assert got == [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]


def test_jaccard_empty_sets(spark):
    df = spark.createDataFrame([(1, "", "")], "i long, a string, b string")
    j = df.select(dedup.jaccard_distinct(
        dedup.shingle_hashes(F.col("a")), dedup.shingle_hashes(F.col("b"))))
    assert j.collect()[0][0] == 0.0


def test_srp_bucket_pref_matches_duckdb(spark):
    vecs = [[((i * 7 + j * 3) % 11 - 5) / 10.0 for j in range(8)] for i in range(20)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id long, v array<double>")
    got = {r.id: r.b for r in df.select(
        "id", similarity.srp_signature(F.col("v"), dim=8).alias("b")
    ).collect()}
    sql = similarity.srp_signature_sql("v", 8)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, v DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(vecs)))
    exp = dict(con.sql(f"SELECT id, {sql} FROM t").fetchall())
    assert got == exp


def test_token_counts():
    texts = ["hello world", "", "  a  b  ", "a,b c3d!"]
    con = duckdb.connect()
    got = [con.execute(f"SELECT {textstats.token_count_ws_sql('text')} "
                       "FROM (SELECT ? AS text)", [t]).fetchone()[0]
           for t in texts]
    assert got == [2, 0, 2, 2]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello,  WORLD!"), (2, "hello world"), (3, "different")],
        "id long, text string")
    got = {r.id: r.fp for r in df.select(
        "id", textstats.fingerprint(F.col("text")).alias("fp")).collect()}
    assert got[1] == got[2] != got[3]


def test_minhash_candidates_degenerate_bucket_capped(spark):
    """A degenerate bucket (5k empty-text docs share the sentinel signature)
    is dropped by the pre-count semi-join BEFORE pair materialization; the
    plan must never hold whole posting lists (no collect_list buffers)."""
    clones = [(i, "the quick brown fox jumps over the lazy dog") for i in range(3)]
    empties = [(1000 + i, "") for i in range(5000)]
    df = spark.createDataFrame(clones + empties, "doc_id long, text string")
    cand = dedup.minhash_candidates(df, "text", "doc_id")
    plan = cand._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan
    got = sorted((r.id_a, r.id_b) for r in cand.collect())
    assert got == [(0, 1), (0, 2), (1, 2)]


def test_bucket_pairs_cap_boundary(spark):
    """The shared skew cap is inclusive: a bucket of exactly ``cap`` ids
    yields all C(cap, 2) pairs, a bucket of ``cap + 1`` ids and a
    singleton yield none.  Every pair is ordered id_a < id_b and carries
    each payload column as ``<col>_a`` / ``<col>_b``.  The key is compound:
    (1, "hot") is a singleton even though band 0 has a "hot" bucket."""
    cap = 5
    rows = ([(0, "hot", i, 10 * i) for i in range(cap)]
            + [(0, "over", 100 + i, 0) for i in range(cap + 1)]
            + [(1, "hot", 200, 0)])
    keyed = spark.createDataFrame(rows, "band int, bk string, id long, p long")
    out = dedup._bucket_pairs(keyed, ["band", "bk"], cap, payload=("p",))
    assert sorted(out.columns) == ["band", "bk", "id_a", "id_b", "p_a", "p_b"]
    got = sorted(tuple(r) for r in
                 out.select("band", "bk", "id_a", "id_b", "p_a", "p_b").collect())
    want = [(0, "hot", a, b, 10 * a, 10 * b)
            for a in range(cap) for b in range(a + 1, cap)]
    assert len(want) == cap * (cap - 1) // 2
    assert got == want
    assert all(r[2] < r[3] for r in got)


def test_embedding_near_dup_degenerate_bucket_capped(spark):
    """Zero vectors all land in SRP bucket 0; a 3k-row bucket must be capped
    out by the count pre-filter, while the genuine near-dup pair survives."""
    zeros = [(i, [0.0] * 8) for i in range(3000)]
    a = [1.0, 0.2, -0.3, 0.5, 0.1, -0.2, 0.4, 0.05]
    b = [x * 1.001 for x in a]
    df = spark.createDataFrame(
        zeros + [(9001, a), (9002, b)], "vec_id long, embedding array<float>")
    pairs = similarity.embedding_near_dup(
        df, "embedding", "vec_id", dim=8, threshold=0.95)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan
    got = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert got == [(9001, 9002)]


def _patch_parallelism(monkeypatch, n):
    """Make ``SparkContext.defaultParallelism`` (a property) read ``n``:
    the bucket count of ``global_cumsum`` and the partition count of
    ``spark.range`` without an explicit one."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda self: n))


def test_global_cumsum_partition_invariant(spark, monkeypatch):
    """The two-phase prefix sum must equal the single-node cumsum at any
    bucket count, and the plan must never collapse to one task (no
    partition-less Window over the whole frame)."""
    from ulp_spark.operators import packing

    df = spark.range(0, 3000).select(
        F.format_string("d-%05d", F.col("id")).alias("k"),
        ((F.col("id") * 7) % 100 + 1).alias("v"))
    exp, acc = {}, 0
    for i in range(3000):
        exp[f"d-{i:05d}"] = acc
        acc += (i * 7) % 100 + 1
    for parts in (1, 3, 16):
        _patch_parallelism(monkeypatch, parts)
        got = {r.k: r.tok_offset for r in packing.global_cumsum(
            df, "k", "v").collect()}
        assert got == exp, f"buckets={parts}"
    # INPUT-partitioning invariance: same answer from a reshuffled input
    # (the data-derived __pid must not depend on physical layout)
    _patch_parallelism(monkeypatch, 5)
    got = {r.k: r.tok_offset for r in packing.global_cumsum(
        df.repartition(11), "k", "v").collect()}
    assert got == exp
    # edge inputs of the boundary sampler: an empty frame, and fewer rows
    # (50) than the sample size (8 buckets x 100 keys) — taken whole
    _patch_parallelism(monkeypatch, 8)
    assert packing.global_cumsum(df.limit(0), "k", "v").collect() == []
    small = df.filter(F.col("id") < 50)
    got = {r.k: r.tok_offset for r in packing.global_cumsum(
        small, "k", "v").collect()}
    assert got == {k: v for k, v in exp.items() if int(k[2:]) < 50}


def test_global_cumsum_single_full_data_exchange(spark, monkeypatch):
    """The prefix sum's plan contains exactly ONE exchange over the full
    data, the window's hash partition by the data-derived bucket id, and
    no checkpoint or RDD scan: the bucket id is a pure expression over
    the key, so the totals pass and the window agree without one."""
    from ulp_spark.operators import packing

    df = spark.range(0, 5000).select(
        F.format_string("d-%05d", F.col("id")).alias("k"),
        (F.col("id") % 97 + 1).alias("v"))
    _patch_parallelism(monkeypatch, 8)
    out = packing.global_cumsum(df, "k", "v")
    plan = out._jdf.queryExecution().executedPlan().toString()
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, exchanges
    assert "hashpartitioning(__pid" in exchanges[0]
    assert "localCheckpoint" not in plan and "ExistingRDD" not in plan


# --------------------------------------------------------------------------
# curation: repetition / passage dedup / contamination / PII / stratified
# --------------------------------------------------------------------------

def test_repetition_edge_cases(spark):
    from ulp_spark.operators import curation

    df = spark.createDataFrame(
        [(1, ""), (2, "word"), (3, "a a a a"), (4, "a b c d"),
         (5, "x y x y x y")],
        "id long, text string")
    rows = {r.id: r for r in
            curation.repetition_stats(df, "text", "id").collect()}
    assert rows[1].n_words == 0 and rows[1].dup_word_frac == 0.0
    assert rows[2].dup_2gram_frac == 0.0          # < 2 tokens -> no grams
    assert rows[3].dup_word_frac == 0.75          # 4 occurrences, 1 distinct
    assert rows[3].dup_2gram_frac == pytest.approx(2 / 3, abs=1e-6)
    assert rows[4].dup_word_frac == 0.0
    assert rows[5].distinct_word_ratio == pytest.approx(2 / 6, abs=1e-6)
    # "x y" x3, "y x" x2 -> 5 bigrams, 2 distinct -> dup frac 3/5
    assert rows[5].dup_2gram_frac == pytest.approx(3 / 5, abs=1e-6)


def test_passage_dedup_counts_cross_and_within_doc(spark):
    from ulp_spark.operators import curation

    p = "one two three four five six seven eight"        # exactly 1 passage
    df = spark.createDataFrame(
        [(1, p), (2, p), (3, p + " " + p), (4, "totally unique passage here")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           curation.passage_dup_stats(df, "text", "doc_id").collect()}
    assert got[1].n_dup_passages == 1 and got[1].dup_frac == 1.0
    assert got[3].n_passages == 2 and got[3].n_dup_passages == 2
    assert got[4].n_dup_passages == 0 and got[4].dup_frac == 0.0


def test_redact_rules_and_counts(spark):
    from ulp_spark.operators import curation

    df = spark.createDataFrame(
        [(1, "mail a.b-c%d@sub.example.org and 10.0.0.1 plus 999.999.999.999"),
         (2, "no pii at all"), (3, "v1.2.3.4000 is a version, not an ip")],
        "id long, text string")
    red, counts = curation.redact(F.col("text"))
    rows = {r.id: r for r in df.select(
        "id", red.alias("t"),
        *[c.alias(f"n_{k}") for k, c in counts.items()]).collect()}
    assert rows[1].t == "mail <EMAIL> and <IP> plus <IP>"
    assert rows[1].n_email == 1 and rows[1].n_ipv4 == 2
    assert rows[2].t == "no pii at all"
    # "v1.2.3.4000": no \b before the 1 (v is a word char) and none inside
    # 4000, so the version string survives unredacted.
    assert rows[3].n_ipv4 == 0
    assert rows[3].t == "v1.2.3.4000 is a version, not an ip"


def test_stratified_keep_matches_duckdb(spark):
    from ulp_spark.operators import sampling

    rates = {"a": 10, "b": 90}
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(400)],
        "id long, strat string")
    kept = (df.filter(sampling.stratified_keep(F.col("id"), F.col("strat"), rates))
            .groupBy("strat").count().collect())
    got = {r.strat: r["count"] for r in kept}
    want = duckdb.sql(
        "SELECT strat, count(*) FROM (SELECT id, CASE WHEN id % 2 = 0 "
        "THEN 'a' ELSE 'b' END AS strat FROM range(400) t(id)) "
        f"WHERE {sampling.stratified_keep_sql('id', 'strat', rates)} GROUP BY strat"
    ).fetchall()
    assert got == dict(want)
    # rough rate sanity: stratum b keeps ~90%, stratum a ~10%
    assert got["b"] > got.get("a", 0)


def test_word_tokens_whitespace_class_matches_duckdb(spark):
    """Java \\s includes \\x0B (vertical tab); RE2's does not. word_tokens
    uses an explicit class so both engines split identically."""
    from ulp_spark.operators import curation

    texts = ["x\x0by vertical", "a\tb\nc", "  pad  ", "\x0b\x0b", "a\x0b",
             "mix \x0b\t\r\n end", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, text string")
    got = {r.id: (r.n, sorted(r.toks)) for r in df.select(
        "id", F.size(curation.word_tokens(F.col("text"))).alias("n"),
        curation.word_tokens(F.col("text")).alias("toks")).collect()}
    con = duckdb.connect()
    toks_sql = curation.word_tokens_sql("text")
    for i, t in enumerate(texts):
        row = con.execute(
            f"SELECT len({toks_sql}), {toks_sql} FROM (SELECT ? AS text)",
            [t]).fetchone()
        assert got[i] == (row[0], sorted(row[1])), (i, repr(t), got[i], row)


def test_token_count_ws_vertical_tab_matches_duckdb(spark):
    """The Spark token count, size(word_tokens), against its DuckDB twin
    token_count_ws_sql on vertical tabs."""
    from ulp_spark.operators import curation

    texts = ["x\x0by z", "a b", "\x0b", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, text string")
    got = {r.id: r.n for r in df.select(
        "id", F.size(curation.word_tokens(F.col("text"))).alias("n")
    ).collect()}
    con = duckdb.connect()
    for i, t in enumerate(texts):
        (n,) = con.execute(
            f"SELECT {textstats.token_count_ws_sql('text')} "
            "FROM (SELECT ? AS text)", [t]).fetchone()
        assert got[i] == n, (i, repr(t), got[i], n)


def test_stratified_keep_sql_escapes_quotes():
    from ulp_spark.operators import sampling

    sql = sampling.stratified_keep_sql("id", "strat", {"o'hara": 100})
    rows = duckdb.sql(
        "SELECT count(*) FROM (SELECT 1 AS id, 'o''hara' AS strat) "
        f"WHERE {sql}").fetchone()
    assert rows[0] == 1


def _forbid_conf_writes(monkeypatch):
    """Any session-conf write raises for the rest of the test."""
    from pyspark.sql.conf import RuntimeConfig

    def refuse(self, key, value):
        raise AssertionError(f"session conf write: {key} = {value}")

    monkeypatch.setattr(RuntimeConfig, "set", refuse)


def test_connected_components_chain_and_islands(spark, monkeypatch):
    """Transitivity beyond direct neighbors (a 6-node chain needs real
    propagation) plus a separate 2-node island; fixed point matches the
    DuckDB recursive-CTE closure.  The star rounds size their shuffles
    without writing session conf."""
    from ulp_spark.operators import dedup

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    _forbid_conf_writes(monkeypatch)
    got = {r.id: r.comp_id
           for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}
    con = duckdb.connect()
    vals = ", ".join(f"({a}, {b})" for a, b in edges)
    want = dict(con.sql(dedup.connected_components_sql(
        f"SELECT * FROM (VALUES {vals}) t(id_a, id_b)", id_alias="id"))
        .fetchall())
    assert got == want


def test_bpe_pair_counts_occurrences_and_weights(spark):
    """'aaa' yields pair 'aa' TWICE per occurrence; single-char words
    contribute no pairs; counts weighted by word frequency."""
    from ulp_spark.operators import vocab

    df = spark.createDataFrame(
        [(1, "aaa aaa b"), (2, "ab")], "doc_id long, text string")
    got = {r.pair: r.n for r in vocab.bpe_pair_counts(df, "text").collect()}
    assert got == {"aa": 4, "ab": 1}
    con = duckdb.connect()
    con.execute("CREATE VIEW d AS SELECT * FROM (VALUES (1, 'aaa aaa b'), "
                "(2, 'ab')) t(doc_id, text)")
    want = dict(con.sql(
        "SELECT pair, n FROM (" + vocab.bpe_pair_counts_sql("d", "text") + ")"
    ).fetchall())
    assert got == want


def test_connected_components_raises_without_convergence(spark, monkeypatch):
    import pytest as _pytest

    from ulp_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long")
    _forbid_conf_writes(monkeypatch)
    monkeypatch.setattr(dedup, "MAX_ROUNDS", 1)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs)


def test_connected_components_evaluates_pairs_once(spark):
    """``pairs`` is pinned once: a plan behind it (for the dedup groups,
    candidate generation plus Jaccard verification) runs one time, not
    once for the nodes and again for the edges."""
    from ulp_spark.operators import dedup

    evaluated = spark.sparkContext.accumulator(0)

    def seen(x):
        evaluated.add(1)
        return x

    edges = [(1, 2), (2, 3), (3, 3), (7, 8), (7, 8)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").select(
        F.udf(seen, "long")("id_a").alias("id_a"), "id_b")
    got = sorted(tuple(r) for r in
                 dedup.connected_components(pairs).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
    assert evaluated.value == len(edges)


def test_connected_components_job_budget_per_round(spark, count_jobs,
                                                   monkeypatch):
    """Jobs per star round, pinned on a small chain graph that one or two
    rounds cannot contract: the difference between stopping after two
    rounds and after one is one round's jobs.  Today a round runs 10, and
    the input pin and the first round together run 13."""
    from ulp_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long")

    def rounds(k):
        monkeypatch.setattr(dedup, "MAX_ROUNDS", k)
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.connected_components(pairs)

    _, one = count_jobs(lambda: rounds(1))
    _, two = count_jobs(lambda: rounds(2))
    assert one <= 13, one
    assert two - one <= 10, (one, two)


def test_ann_recall_floors(spark):
    """Measured recall@10 of the ANN stack vs brute-force ground truth on
    the sf0.01 embeddings (500 x 64-dim, 10 labeled clusters).  Floors sit
    just below the deterministic measured values (ivf_p1 .45, p2 .60,
    p4 .75, srp .15, srp_mp1 .26) so a semantic regression in signatures,
    assignment, or top-k merging trips the test while float jitter can't.
    Also pins the two structural facts a user relies on: recall grows
    monotonically with n_probe, and every method beats random scanning
    (recall >> fraction of table scanned)."""
    from ulp_spark.operators import similarity as S

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = S.ivf_centroids_trained(df, "embedding", "vec_id", k=8, rounds=1)
    qids = [0, 7, 23, 42, 99, 150, 211, 303, 404, 499]
    rep = {r.method: r for r in S.ann_recall(
        df, "embedding", "vec_id", qids, cents, dim=64, k=10,
        n_probes=(1, 2, 4)).collect()}
    assert rep["ivf_p1"].recall_at_k >= 0.40
    assert rep["ivf_p2"].recall_at_k >= 0.55
    assert rep["ivf_p4"].recall_at_k >= 0.70
    assert rep["srp"].recall_at_k >= 0.10
    assert rep["srp_mp1"].recall_at_k > rep["srp"].recall_at_k
    assert (rep["ivf_p1"].recall_at_k <= rep["ivf_p2"].recall_at_k
            <= rep["ivf_p4"].recall_at_k)
    for r in rep.values():
        assert r.recall_at_k > r.frac_scanned  # better than random scan
        assert r.n_queries == len(qids)


def test_passage_dedup_skew_paths_agree_on_degenerate_corpus(spark):
    """Skew drill: 20k docs all sharing ONE boilerplate passage (the
    worst-case hot key — at corpus scale this is the site chrome passage
    shared by millions of pages).  Both physical strategies must complete
    and agree exactly; the join path is the one whose hot key AQE can
    split, the window path buffers it in a single partition."""
    from ulp_spark.operators import curation

    n = 20_000
    boiler = "all your base are belong to us now and forever more ok"
    df = (
        spark.range(n).repartition(8)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit(boiler + " unique tail "),
                     F.col("id").cast("string"),
                     F.lit(" word word word word word word word")
                     ).alias("text"))
    )
    a = curation.passage_dup_stats(df, "text", "doc_id", via="join")
    b = curation.passage_dup_stats(df, "text", "doc_id", via="window")
    ra = {r.doc_id: (r.n_passages, r.n_dup_passages) for r in a.collect()}
    rb = {r.doc_id: (r.n_passages, r.n_dup_passages) for r in b.collect()}
    assert ra == rb
    assert len(ra) == n
    # every doc's first 8-word passage is the shared boilerplate
    assert all(v[1] >= 1 for v in ra.values())
    with pytest.raises(ValueError):
        curation.passage_dup_stats(df, "text", "doc_id", via="nope")


def test_shard_writer_roundtrip(spark, tmp_path):
    """write_shards: shard-partitioned parquet whose manifest, read back
    from the written files, equals the planned one row for row, with
    ``shard`` a bigint; every shard's token span starts inside its budget
    window (straddle rule: a sequence belongs to the shard of its FIRST
    token)."""
    from ulp_spark import fixtures
    from ulp_spark.operators import sharding

    seq = fixtures.sequences(spark, 2_000).select("doc_id", "n_tok")
    path = str(tmp_path / "shards")
    st = 64 * 1024
    mdf = sharding.write_shards(seq, path, shard_tokens=st)
    planned = sharding.shard_manifest(seq, shard_tokens=st)
    assert dict(mdf.dtypes)["shard"] == "bigint"
    assert mdf.dtypes == planned.dtypes
    manifest = sorted(tuple(r) for r in mdf.collect())
    assert manifest == sorted(tuple(r) for r in planned.collect())
    # straddle rule: total tokens of shard s, excluding its last sequence,
    # stays under the budget (only the final sequence may overhang)
    assigned = sharding.shard_assign(seq, shard_tokens=st)
    rows = assigned.orderBy("doc_id").collect()
    for r in rows:
        assert (r.tok_offset // st) == r.shard
    # partition directories exist on disk
    import os
    dirs = [d for d in os.listdir(path) if d.startswith("shard=")]
    assert len(dirs) == len(manifest)


def test_write_shards_empty_input(spark, tmp_path):
    """Zero rows in: the write succeeds and the manifest read back from
    the output holds no rows, with ``shard`` still a bigint."""
    from ulp_spark import fixtures
    from ulp_spark.operators import sharding

    seq = fixtures.sequences(spark, 10).select("doc_id", "n_tok").limit(0)
    mdf = sharding.write_shards(seq, str(tmp_path / "shards"),
                                shard_tokens=1000)
    assert dict(mdf.dtypes)["shard"] == "bigint"
    assert mdf.collect() == []


def test_write_shards_evaluates_input_once(spark, tmp_path):
    """write_shards pins its input: the plan behind it runs once, not
    once for the prefix sum's totals and again for its window."""
    from ulp_spark.operators import sharding

    evaluated = spark.sparkContext.accumulator(0)

    def seen(x):
        evaluated.add(1)
        return x

    n = 400
    seq = spark.range(0, n, numPartitions=3).select(
        F.format_string("d-%04d", "id").alias("doc_id"),
        F.udf(seen, "int")((F.col("id") % 50 + 1).cast("int"))
        .alias("n_tok"))
    manifest = sharding.write_shards(
        seq, str(tmp_path / "shards"), shard_tokens=1000).collect()
    assert sum(r.n_seqs for r in manifest) == n
    assert evaluated.value == n


def test_write_shards_job_budget(spark, tmp_path, count_jobs):
    """Jobs for one write_shards call over pack_sequences output (a join
    and a groupBy(bin_id) upstream), and for collecting its manifest.
    The call pins its input, so the upstream shuffles run once, and runs
    8 jobs (each shuffle map stage counts as one) for the pin, the prefix
    sum's sample and totals, and the write.  Collecting the manifest runs
    2: it aggregates the (order, length) columns of the written files."""
    from ulp_spark import fixtures
    from ulp_spark.operators import packing, sharding

    seq = fixtures.sequences(spark, 300).select("doc_id", "tokens", "n_tok")
    packed = packing.pack_bins(seq.select("doc_id", "n_tok"),
                               capacity=512, buckets=8)
    rows = packing.pack_sequences(seq, packed)
    manifest, call = count_jobs(lambda: sharding.write_shards(
        rows, str(tmp_path / "shards"), order_col="bin_id",
        shard_tokens=8 * 1024))
    got, collect = count_jobs(manifest.collect)
    assert sum(r.n_seqs for r in got) == rows.count()
    assert call <= 8, call
    assert call + collect <= 10, (call, collect)


def test_run_training_data_script_writes_token_shards(tmp_path):
    """scripts/run_training_data.py end to end in its own process: the
    shards carry the survivors' token arrays, their token count is the
    manifest's, and the mixing plan credits each source with the tokens
    its shard rows hold."""
    import os
    import re
    import subprocess
    import sys

    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "training")
    res = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "run_training_data.py"),
         "--n", "2000", "--master", "local[2]", "--out", out],
        capture_output=True, text=True, timeout=600, cwd=repo)
    assert res.returncode == 0, res.stderr[-3000:]
    n_tokens = int(re.search(r" tokens=(\d+) ", res.stdout).group(1))
    shards = pq.read_table(os.path.join(out, "shards"))
    assert "tokens" in shards.column_names
    assert sum(len(t) for t in shards.column("tokens").to_pylist()) \
        == n_tokens > 0
    per_source: dict[str, int] = {}
    for src, toks in zip(shards.column("source").to_pylist(),
                         shards.column("tokens").to_pylist()):
        key = "__null__" if src is None else src
        per_source[key] = per_source.get(key, 0) + len(toks)
    plan = {m.group(1): int(m.group(2)) for m in re.finditer(
        r"^  (\S+): n_tokens=(\d+) ", res.stdout, re.M)}
    assert plan == per_source


def test_repeat_training_iteration_does_not_recompile(
        spark, tmp_path, count_compiles):
    """A repeat of the tokenize -> census -> pack_bins -> pack_sequences
    -> write_shards + manifest chain finds its generated classes in the
    codegen cache.  One iteration makes ~90 classes; with Spark's default
    cache of 100 (4 LRU segments of 25) this repeat recompiled 46 of
    them, while ``session._DEFAULTS`` sizes the cache to hold them all."""
    import random

    from ulp_spark.operators import packing, sharding, tokenizer, tokens
    from ulp_spark.session import seam

    words = ["table", "value", "batch", "window", "spark", "query", "the",
             "row", "agg", "scan", "fast", "slow", "key", "part"]
    vocab = words + [" "] + [chr(c) for c in range(ord("a"), ord("z") + 1)]
    rng = random.Random(400)
    texts = [" ".join(rng.choice(words) for _ in range(rng.randint(10, 90)))
             for _ in range(360)]
    texts += texts[:40]                                 # exact duplicates
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")

    def iteration(it):
        tok = seam(tokenizer.tokenize(docs, "text", "doc_id", vocab))
        census = (
            tok.groupBy(tokens.token_fingerprint(F.col("tokens")).alias("fp"))
            .agg(F.min("doc_id").alias("doc_id"),
                 F.min("n_tok").alias("n_tok")))
        packed = seam(packing.pack_bins(census.select("doc_id", "n_tok"),
                                        capacity=2048))
        packed.count()
        rows = packing.pack_sequences(tok, packed)
        return sorted(sharding.write_shards(
            rows, str(tmp_path / f"it{it}"), order_col="bin_id",
            shard_tokens=1 << 13).collect())

    first, _ = count_compiles(lambda: iteration(0))
    second, repeat = count_compiles(lambda: iteration(1))
    assert first == second and first
    assert repeat <= 4, repeat


def test_token_fingerprint_collides_only_on_equal_arrays(spark):
    from ulp_spark.operators import tokens

    rows = [(1, [1, 2, 3]), (2, [1, 2, 3]), (3, [1, 23]),  # "1,23" vs "1,2,3"
            (4, []), (5, []), (6, [12, 3])]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    got = {r.doc_id: r.dup_count for r in tokens.sequence_exact_dedup(
        df, "tokens", "doc_id").collect()}
    # survivors: 1 (dups with 2), 3, 4 (dups with 5), 6
    assert got == {1: 2, 3: 1, 4: 2, 6: 1}


def test_seam_upgrades_to_reliable_checkpoint(spark, tmp_path):
    """localCheckpoint blocks die with their executor, so every seam must
    flip to a reliable checkpoint when the session has a checkpoint dir —
    one sc.setCheckpointDir call upgrades the whole repo, the pipeline's
    S5 seam (eager or filled by the first action) and the
    connected-components rounds included.  The resumable fan-out reads
    build's seam and pins nothing of its own."""
    import glob

    from ulp_spark.plans import manifest, pipeline
    from ulp_spark.session import seam

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    local = seam(df)  # no checkpoint dir in the test session
    assert local.count() == 100
    with pytest.raises(ValueError):  # no parquet-path form beside the seam
        pipeline.build(spark, n=10, checkpoint=str(tmp_path / "parquet"))

    def rdd_dirs(name):
        # reliable checkpoint = rdd-* block dirs under the checkpoint dir
        return glob.glob(str(tmp_path / name / "*" / "rdd-*"))

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    try:
        sc.setCheckpointDir(str(tmp_path / "seam"))
        reliable = seam(df, eager=True)
        assert reliable.count() == 100
        assert rdd_dirs("seam")

        sc.setCheckpointDir(str(tmp_path / "build"))
        p = pipeline.build(spark, n=200, checkpoint="local")
        assert rdd_dirs("build")

        sc.setCheckpointDir(str(tmp_path / "fanout"))
        routes = {r.route: {} for r in p.route_counts.collect()}
        m = manifest.new_manifest("run", 200, routes)
        m = manifest.resume_fanout(p.routed.select("doc_id", "route"), m,
                                   str(tmp_path / "runs"))
        assert sum(e["n_rows"] for e in m["routes"].values()) == 200
        assert rdd_dirs("fanout") == []

        sc.setCheckpointDir(str(tmp_path / "lazy"))
        lazy = pipeline.build(spark, n=200)
        assert rdd_dirs("lazy") == []
        assert lazy.routed.count() == 200
        assert rdd_dirs("lazy")

        sc.setCheckpointDir(str(tmp_path / "cc"))
        pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                      "id_a long, id_b long")
        got = sorted(tuple(r) for r in
                     dedup.connected_components(pairs).collect())
        assert got == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)]
        assert rdd_dirs("cc")
    finally:
        none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(none)
        assert sc.getCheckpointDir() is None  # later tests stay on local seams


def test_no_session_conf_writes():
    """No operator changes session-global config: a shuffle width or any
    other setting is applied to the plan that needs it."""
    import pathlib

    import ulp_spark

    root = pathlib.Path(ulp_spark.__file__).parent
    offenders = [str(p.relative_to(root)) for p in sorted(root.rglob("*.py"))
                 if "conf.set(" in p.read_text()]
    assert offenders == []


def test_no_python_local_frames():
    """Driver-side tables enter a plan only through session.local_frame
    (a JVM LocalRelation): no ``createDataFrame(`` or ``parallelize(`` in
    the package or __spark_entry__.py, whose RDDs would run Python-worker
    tasks on every evaluation."""
    import pathlib
    import re

    import ulp_spark

    root = pathlib.Path(ulp_spark.__file__).parent
    offenders = [
        p.name for p in sorted(root.rglob("*.py"))
        + [root.parent / "__spark_entry__.py"]
        if re.search(r"createDataFrame\(|parallelize\(", p.read_text())
    ]
    assert offenders == []


def test_seam_is_the_only_checkpoint_call():
    """session.seam is the one materialization primitive: no other module
    in the package checkpoints a frame itself."""
    import pathlib
    import re

    import ulp_spark

    root = pathlib.Path(ulp_spark.__file__).parent
    offenders = [
        str(p.relative_to(root)) for p in sorted(root.rglob("*.py"))
        if p != root / "session.py"
        and re.search(r"localCheckpoint\(|\.checkpoint\(", p.read_text())
    ]
    assert offenders == []


def _py_files(root):
    """The repo's .py files under ``root``, minus caches and dot-dirs."""
    return [p for p in sorted(root.rglob("*.py"))
            if not any(part.startswith(".") or part == "__pycache__"
                       for part in p.relative_to(root).parts)]


def _caller_files(repo):
    """The .py files whose code runs outside tests: the package,
    __spark_entry__.py, bench.py, bench_extra.py, scripts/ and
    perfbench/."""
    return (_py_files(repo / "ulp_spark") + _py_files(repo / "scripts")
            + _py_files(repo / "perfbench")
            + [repo / f for f in ("__spark_entry__.py", "bench.py",
                                  "bench_extra.py")])


def _with_child_scripts(tree):
    """``tree`` plus, recursively, every string constant under it that
    parses as Python once its str.format fields become names and its
    ``{{ }}`` braces literal — so the child scripts scaling_bench formats
    count as code, and so does a function named by a string."""
    import ast
    import re

    out = [tree]
    for n in ast.walk(tree):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            src = re.sub(r"(?<!\{)\{(\w+)(![rsa])?\}(?!\})", r"\1",
                         n.value).replace("{{", "{").replace("}}", "}")
            try:
                out += _with_child_scripts(ast.parse(src))
            except (SyntaxError, ValueError):
                pass
    return out


def _module_file(repo, dotted):
    """The file of package module ``dotted`` (``ulp_spark.x.y``), or None."""
    if dotted.split(".")[0] != "ulp_spark":
        return None
    base = repo.joinpath(*dotted.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _module_constants(tree):
    """Top-level names of ``tree`` assigned exactly once: name -> value."""
    import ast

    seen: dict[str, list] = {}
    for top in tree.body:
        if isinstance(top, ast.Assign):
            pairs = [(t, top.value) for t in top.targets]
        elif isinstance(top, ast.AnnAssign) and top.value is not None:
            pairs = [(top.target, top.value)]
        else:
            continue
        for target, value in pairs:
            if isinstance(target, ast.Name):
                seen.setdefault(target.id, []).append(value)
    return {k: v[0] for k, v in seen.items() if len(v) == 1}


class _Calls:
    """Every call in ``_caller_files`` (child scripts included) resolved to
    a public top-level def of ulp_spark/ through the caller's imports,
    import aliases and relative imports included."""

    def __init__(self, repo):
        import ast

        self.repo = repo
        self.trees = {p: ast.parse(p.read_text()) for p in _caller_files(repo)}
        # (file, name) -> FunctionDef, for the package's public defs
        self.defs = {
            (p, top.name): top for p, tree in self.trees.items()
            if repo / "ulp_spark" in p.parents
            for top in tree.body
            if isinstance(top, ast.FunctionDef) and top.name[0] != "_"}
        self.consts = {p: _module_constants(t) for p, t in self.trees.items()}
        self.bindings = {p: self._bindings(p, _with_child_scripts(t))
                         for p, t in self.trees.items()}

    def _bindings(self, path, trees):
        """Local name -> ("mod", file) or ("fn", file, name)."""
        import ast

        pkg_parts = path.relative_to(self.repo).with_suffix("").parts[:-1]
        out = {name: ("fn", p, name) for p, name in self.defs if p == path}
        for tree in trees:
            for n in ast.walk(tree):
                if isinstance(n, ast.Import):
                    for a in n.names:
                        local = a.asname or a.name.split(".")[0]
                        f = _module_file(self.repo,
                                         a.name if a.asname else local)
                        if f:
                            out[local] = ("mod", f)
                elif isinstance(n, ast.ImportFrom):
                    base = n.module or ""
                    if n.level:
                        base = ".".join(
                            pkg_parts[:len(pkg_parts) - n.level + 1]
                            + tuple(base.split(".") if base else ()))
                    mod = _module_file(self.repo, base)
                    for a in n.names:
                        local = a.asname or a.name
                        f = _module_file(self.repo, f"{base}.{a.name}")
                        if f:
                            out[local] = ("mod", f)
                        elif mod:
                            out[local] = ("fn", mod, a.name)
        return out

    def resolve(self, bindings, node):
        """The (file, name) an expression names through ``bindings``:
        ``f``, ``mod.f`` or ``pkg.mod.f``; None if it names no package
        module member."""
        import ast

        parts = []
        while isinstance(node, ast.Attribute):
            parts.append(node.attr)
            node = node.value
        if not isinstance(node, ast.Name) or node.id not in bindings:
            return None
        parts.reverse()
        b = bindings[node.id]
        if b[0] == "fn":
            return (b[1], b[2]) if not parts else None
        f = b[1]
        for part in parts[:-1]:
            if f is None or f.name != "__init__.py":
                return None
            f = next((q for q in (f.parent / f"{part}.py",
                                  f.parent / part / "__init__.py")
                      if q.is_file()), None)
        return (f, parts[-1]) if f is not None and parts else None

    def __iter__(self):
        """Yield (file, call, (target file, target name), enclosing public
        package def or None) for each resolved call."""
        import ast

        for path, tree in self.trees.items():
            around = {}
            for top in tree.body:
                if (path, getattr(top, "name", None)) in self.defs:
                    for n in ast.walk(top):
                        around[id(n)] = top
            for t in _with_child_scripts(tree):
                for n in ast.walk(t):
                    if isinstance(n, ast.Call):
                        key = self.resolve(self.bindings[path], n.func)
                        if key in self.defs:
                            yield path, n, key, around.get(id(n))


# Package defs no non-test code reaches, kept on purpose (reason each).
# Each counts as a root: a def kept on purpose keeps what it calls.
_DEF_ALLOW = {
    # typed per-route sinks: wired into the fan-out or deleted when the
    # sinks carry cast records
    "ulp_spark/operators/route_cast.py:cast_per_route",
    # ulp's nested-record lattice (type_casting/src/lib.rs); production
    # input is kv lines, so no nested JSON reaches it yet
    "ulp_spark/operators/lattice.py:json_tree_schema",
    # ulp's get_value (src/type_map.rs:65-88), the same gap
    "ulp_spark/functions/fields.py:json_path",
    # the T7 nested-record fixture and the leaf-path flattening that tests
    # compare json_tree_schema against
    "ulp_spark/fixtures.py:nested_json",
    "ulp_spark/oracle.py:tree_to_paths",
}

# __spark_entry__.py's driver contract: its other defs count as reached
# only through these.
_ENTRY_ROOTS = {"entry", "queries", "oracle_sql"}


def test_every_package_def_is_referenced():
    """Dead-code guard: every top-level def/class in ulp_spark/ and
    __spark_entry__.py is reachable from code that runs outside tests,
    or sits on the allow-list above.  The roots are every file of
    ``_caller_files`` except the defs of those two, plus
    their module-level statements, the entry module's contract functions
    (``_ENTRY_ROOTS``) and the allow-listed defs; a def is reached once a
    root or a reached def names it (Name, Attribute, import alias or a
    string that parses as one), and a ``<f>_sql`` def once ``<f>`` is:
    the DuckDB twin is the reference tests compare a live operator
    against.  A plain reference count would let two dead functions keep
    each other alive, and counting tests would let a test keep its own
    subject alive."""
    import ast
    import pathlib

    import ulp_spark

    pkg = pathlib.Path(ulp_spark.__file__).parent
    repo = pkg.parent
    entry_file = repo / "__spark_entry__.py"

    def names(node):
        out = set()
        for tree in _with_child_scripts(node):
            for n in ast.walk(tree):
                if isinstance(n, ast.Name):
                    out.add(n.id)
                elif isinstance(n, ast.Attribute):
                    out.add(n.attr)
                elif isinstance(n, ast.alias):
                    out.add(n.name.rsplit(".", 1)[-1])
        return out

    defs: dict[str, list] = {}   # name -> [(tag, node)]
    roots: set[str] = set()
    for p in _caller_files(repo):
        for top in ast.parse(p.read_text()).body:
            if (pkg in p.parents or p == entry_file) and isinstance(
                    top, (ast.FunctionDef, ast.AsyncFunctionDef,
                          ast.ClassDef)):
                defs.setdefault(top.name, []).append(
                    (f"{p.relative_to(repo)}:{top.name}", top))
            else:
                roots |= names(top)
    # a renamed contract function must not leave a root matching nothing
    entry_defs = {node.name for tagged in defs.values()
                  for tag, node in tagged if tag.startswith("__spark_entry__")}
    assert sorted(_ENTRY_ROOTS - entry_defs) == []

    def unreached(start):
        reached: set[str] = set()
        todo = sorted(start & defs.keys())
        while todo:
            name = todo.pop()
            if name not in reached:
                reached.add(name)
                for _, node in defs[name]:
                    todo += sorted((names(node) & defs.keys()) - reached)
                if f"{name}_sql" in defs:
                    todo.append(f"{name}_sql")
        return sorted(tag for name, tagged in defs.items()
                      if name not in reached for tag, _ in tagged)

    dead = unreached(roots | _ENTRY_ROOTS)
    print(f"{sum(map(len, defs.values()))} package defs, "
          f"{len(dead)} unreached, {len(_DEF_ALLOW)} allow-listed")
    # an allow-list entry must still name a def nothing else reaches
    assert sorted(_DEF_ALLOW - set(dead)) == []
    offenders = unreached(roots | _ENTRY_ROOTS
                          | {tag.split(":")[1] for tag in _DEF_ALLOW})
    assert offenders == [], "\n".join(offenders)


def test_every_option_has_a_non_test_caller():
    """Knob guard: non-test callers give every optional parameter of a
    public top-level function in ulp_spark/ at least two distinct values,
    and at least one of those calls leaves it out, or it is exempt.  With
    one value in use, the option is a constant; with its default unused,
    it is a required parameter.  The callers are the calls in
    ``_caller_files`` (child scripts included) that ``_Calls`` resolves.
    A call that leaves an option out passes its default; a literal or a
    module-level constant is its value; a bare name that is an option of
    the enclosing public package function passes that option's values
    (and its exemption); any other expression, and any ``*``/``**``
    expansion, is a value of its own (an expansion may also leave the
    option out).  An option bench.py or a perfbench/ file passes
    explicitly is exempt: those files pin the benchmark, and nothing
    else is."""
    import ast
    import pathlib

    import ulp_spark

    repo = pathlib.Path(ulp_spark.__file__).parent.parent
    calls = _Calls(repo)

    options = {}   # (file, function, param) -> (tag, position, default)
    for (p, name), fn in calls.defs.items():
        a = fn.args
        pos = a.posonlyargs + a.args
        first_opt = len(pos) - len(a.defaults)
        for i, x in enumerate(pos[first_opt:], first_opt):
            options[p, name, x.arg] = (i, a.defaults[i - first_opt])
        for x, d in zip(a.kwonlyargs, a.kw_defaults):
            if d is not None:
                options[p, name, x.arg] = (None, d)

    def tag(key):
        return f"{key[0].relative_to(repo)}:{key[1]}({key[2]})"

    def value(expr, path, enclosing):
        try:
            return repr(ast.literal_eval(expr))
        except (ValueError, TypeError, SyntaxError):
            pass
        if isinstance(expr, ast.Name) and enclosing is not None:
            ref = (path, enclosing.name, expr.id)
            if ref in options:
                return ("ref", ref)
        const = None
        if isinstance(expr, ast.Name) and expr.id in calls.consts[path]:
            const = (path, expr.id)
        elif isinstance(expr, (ast.Name, ast.Attribute)):
            const = calls.resolve(calls.bindings[path], expr)
        if const is not None and const[1] in calls.consts.get(const[0], {}):
            try:
                return repr(ast.literal_eval(calls.consts[const[0]][const[1]]))
            except (ValueError, TypeError, SyntaxError):
                return ("const", *const)
        return ("own", expr)

    values = {key: set() for key in options}
    exempt = set()
    defaulted = set()   # options some call leaves out (or may, via * / **)
    for path, call, fkey, enclosing in calls:
        pinned = path.name == "bench.py" or repo / "perfbench" in path.parents
        star = next((i for i, x in enumerate(call.args)
                     if isinstance(x, ast.Starred)), None)
        kw = {k.arg: k.value for k in call.keywords if k.arg is not None}
        double_star = any(k.arg is None for k in call.keywords)
        for key, (i, default) in options.items():
            if key[:2] != fkey:
                continue
            if key[2] in kw or (i is not None and i < len(call.args)
                                and (star is None or i < star)):
                expr = kw[key[2]] if key[2] in kw else call.args[i]
                values[key].add(value(expr, path, enclosing))
                if pinned:
                    exempt.add(key)
            elif (star is not None and i is not None and i >= star) \
                    or double_star:
                values[key].add(("own", call, key))
                defaulted.add(key)
            else:
                values[key].add(value(default, fkey[0], None))
                defaulted.add(key)

    # a passed-through option takes the values and exemption it passes
    while True:
        refs = {key: [v[1] for v in vals if v[0] == "ref"]
                for key, vals in values.items()}
        grown = {key: vals.union(*(values[r] for r in refs[key]))
                 for key, vals in values.items()}
        more = exempt | {key for key in options
                         if any(r in exempt for r in refs[key])}
        if grown == values and more == exempt:
            break
        values, exempt = grown, more
    n_values = {key: len({v for v in vals if v[0] != "ref"})
                for key, vals in values.items()}
    single = sorted(tag(key) for key in options
                    if key not in exempt
                    and (n_values[key] < 2 or key not in defaulted))
    print(f"{len(options)} optional parameters, "
          f"{sum(n >= 2 for n in n_values.values())} given two or more "
          f"values by non-test callers, {len(exempt)} exempt (passed by "
          f"bench.py or perfbench/)")
    assert single == [], (f"{len(single)} options with one value "
                          f"or an unused default:\n" + "\n".join(single))


def test_benchmark_calls_still_bind():
    """bench.py and perfbench/ pin the benchmark and change only with it:
    every call they make to a ulp_spark function must still bind to its
    signature (positional count and keyword names), import aliases
    included."""
    import ast
    import importlib
    import inspect
    import pathlib

    import ulp_spark

    repo = pathlib.Path(ulp_spark.__file__).parent.parent
    calls = _Calls(repo)
    checked = 0
    for path, call, (target, name), _ in calls:
        if path.name != "bench.py" and repo / "perfbench" not in path.parents:
            continue
        module = ".".join(target.relative_to(repo).with_suffix("").parts)
        fn = getattr(importlib.import_module(module.removesuffix(".__init__")),
                     name)
        starred = any(isinstance(a, ast.Starred) for a in call.args) or any(
            k.arg is None for k in call.keywords)
        args = [None] * sum(not isinstance(a, ast.Starred) for a in call.args)
        kwargs = {k.arg: None for k in call.keywords if k.arg is not None}
        sig = inspect.signature(fn)
        try:
            (sig.bind_partial if starred else sig.bind)(*args, **kwargs)
        except TypeError as e:
            raise AssertionError(
                f"{path.relative_to(repo)}:{call.lineno} {name}: {e}") from e
        checked += 1
    print(f"{checked} benchmark calls bind")
    assert checked > 0


def test_ivf_tuned_recall_meets_target_on_clusterable_fixture(spark):
    """VERDICT r3 #4: recall@10 >= 0.85 at frac_scanned <= 0.35.  The sf
    embeddings are isotropic noise (measured within-label cosine 0.0012 vs
    0.0010 across), which information-theoretically bounds ANY
    partition-and-probe ANN at recall ~= frac_scanned there — so the
    target is pinned on the CLUSTERABLE fixture (within-cluster cosine
    ~0.85, the regime an IVF index exists for): spherical-kmeans training
    + auto n_probe beats the target by a wide margin (measured 0.976
    recall at 3.6% scanned, n_probe=1 of 32 cells)."""
    from ulp_spark import fixtures
    from ulp_spark.operators import similarity as S

    emb = fixtures.clustered_embeddings(spark, 2000, dim=64, clusters=20)
    emb = emb.localCheckpoint()  # fixture reused by truth + every probe depth
    cents = S.ivf_train_spherical(emb, "embedding", "vec_id", k=32, rounds=10)
    assert len(cents) == 32 and all(len(c) == 64 for c in cents)
    qids = list(range(0, 2000, 397))  # 6 queries: keep the test fast
    res = S.tune_n_probe(emb, "embedding", "vec_id", qids, cents, dim=64,
                         target_recall=0.85, max_probe=4)
    assert res["met"], res
    assert res["recall_at_k"] >= 0.85, res
    assert res["frac_scanned"] <= 0.35, res
    assert res["n_probe"] <= 4, res


def test_clustered_embeddings_deterministic_and_clustered(spark,
                                                          monkeypatch):
    """The T4 fixture: partition-invariant bits; same-cluster vectors are
    geometrically close (cos > 0.6) and cross-cluster far (cos < 0.4)."""
    from ulp_spark import fixtures
    from ulp_spark.operators import similarity as S

    _patch_parallelism(monkeypatch, 3)
    a = fixtures.clustered_embeddings(spark, 200, dim=16, clusters=5)
    _patch_parallelism(monkeypatch, 7)
    b = fixtures.clustered_embeddings(spark, 200, dim=16, clusters=5)
    assert (a.rdd.getNumPartitions(), b.rdd.getNumPartitions()) == (3, 7)
    ra = {r.vec_id: (r.label, tuple(r.embedding)) for r in a.collect()}
    rb = {r.vec_id: (r.label, tuple(r.embedding)) for r in b.collect()}
    assert ra == rb
    pairs = (
        a.alias("x").crossJoin(b.alias("y"))
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            (F.col("x.label") == F.col("y.label")).alias("same"),
            (S.dot(F.col("x.embedding"), F.col("y.embedding"))
             / (S.norm(F.col("x.embedding")) * S.norm(F.col("y.embedding"))))
            .alias("c"))
        .groupBy("same").agg(F.avg("c").alias("mc"))
    )
    mc = {r.same: r.mc for r in pairs.collect()}
    assert mc[True] > 0.6 and mc[False] < 0.4


def test_source_temperature_weights_hand_computed(spark):
    """alpha=0.5 over token counts 100 ('a') and 400 (null source):
    sqrt weights 10 and 20 give temperature shares 1/3 and 2/3 vs natural
    shares 0.2 and 0.8 — the low-resource source is up-weighted 1.67x.
    budget_tokens uses floor on the IEEE product (identical both engines)."""
    import math

    from ulp_spark.operators import tokens

    rows = [(1, 60, "a"), (2, 40, "a"), (3, 400, None)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int, source string")
    got = {r.source: r for r in tokens.source_temperature_weights(
        df, budget=300).collect()}
    assert set(got) == {"a", "__null__"}
    a, nul = got["a"], got["__null__"]
    assert (a.n_tokens, nul.n_tokens) == (100, 400)
    assert a.p_natural == 0.2 and nul.p_natural == 0.8
    assert a.q_temp == round(10 / 30, 6) and nul.q_temp == round(20 / 30, 6)
    assert a.up_weight == round((10 / 30) / 0.2, 6)
    assert nul.up_weight == round((20 / 30) / 0.8, 6)
    assert a.budget_tokens == math.floor(10.0 / 30.0 * 300.0)
    assert nul.budget_tokens == math.floor(20.0 / 30.0 * 300.0)
    # shares always sum to 1 (up to rounding)
    assert abs(a.q_temp + nul.q_temp - 1.0) < 2e-6


# --------------------------------------------------------------------------
# round-4 additions: strip_boilerplate, epoch_order, balanced_writers,
# tokenizer apply
# --------------------------------------------------------------------------

def test_strip_boilerplate_drops_shared_chunk_only(spark):
    from ulp_spark.operators import curation

    boiler = "one two three four five six seven eight"   # exactly 8 words
    rows = [(1, boiler + " alpha beta"), (2, boiler + " gamma"),
            (3, "gamma delta"), (4, ""), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text, r.n_chunks, r.n_dropped)
           for r in curation.strip_boilerplate(
               df, "text", "doc_id").collect()}
    # the shared 8-word chunk vanishes from docs 1 and 2; tails survive
    assert got[1] == ("alpha beta", 2, 1)
    assert got[2] == ("gamma", 2, 1)
    # unique docs untouched (whitespace-normalized form)
    assert got[3] == ("gamma delta", 1, 0)
    assert got[4] == ("", 0, 0)
    assert got[5] == ("", 0, 0)


def test_strip_boilerplate_identity_when_threshold_unreachable(spark):
    from ulp_spark.operators import curation

    df = spark.createDataFrame(
        [(1, "  The   QUICK  brown fox "), (2, "lorem ipsum")],
        "doc_id long, text string")
    got = {r.doc_id: r.text for r in curation.strip_boilerplate(
        df, "text", "doc_id").collect()}
    # no passage is shared by two docs, so nothing qualifies as
    # boilerplate -> every doc comes back as its lowercased
    # whitespace-normalized self
    assert got == {1: "the quick brown fox", 2: "lorem ipsum"}


def test_epoch_order_is_permutation_and_partition_invariant(spark):
    from ulp_spark import fixtures
    from ulp_spark.operators import tokens

    a = tokens.epoch_order(
        fixtures.sequences(spark, 400, partitions=1), "doc_id", epoch=2)
    b = tokens.epoch_order(
        fixtures.sequences(spark, 400, partitions=13), "doc_id", epoch=2)
    ra = {r.doc_id: r.epoch_rank for r in a.collect()}
    rb = {r.doc_id: r.epoch_rank for r in b.collect()}
    assert sorted(ra.values()) == list(range(400))   # gap-free permutation
    assert ra == rb                                   # partitioning-invariant
    c = {r.doc_id: r.epoch_rank for r in tokens.epoch_order(
        fixtures.sequences(spark, 400), "doc_id", epoch=3).collect()}
    assert c != ra                                    # epochs re-permute


def test_balanced_writers_bounds_skew_on_adversarial_sizes(spark):
    from ulp_spark.operators import tokens

    # heavy-tailed: a few giants + many tiny rows
    rows = [(f"d{i:04d}", 500) for i in range(6)] + \
           [(f"t{i:04d}", 1 + i % 7) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int")
    assigned = tokens.balanced_writers(df, "n_tok", "doc_id", 4)
    out = assigned.collect()
    assert len(out) == len(rows)                      # every row assigned
    loads = {}
    for r in out:
        loads[r.writer] = loads.get(r.writer, 0) + r.n_tok
    assert set(loads) == {0, 1, 2, 3}
    assert max(loads.values()) - min(loads.values()) <= 500  # <= max n_tok


def test_tokenizer_greedy_longest_match_and_unk(spark):
    from ulp_spark.operators import tokenizer

    vocab = ["ab", "abc", "c", "x"]
    df = spark.createDataFrame([(1, "abcx"), (2, "abq")], "id long, t string")
    got = {r.id: list(r.tokens) for r in tokenizer.tokenize(
        df, "t", "id", vocab).collect()}
    # greedy takes "abc" (longest), not "ab"+"c"
    assert got[1] == [vocab.index("abc"), vocab.index("x")]
    assert got[2] == [vocab.index("ab"), tokenizer.UNK_ID]


def test_tokenizer_roundtrip_and_detok_paths_agree(spark):
    from ulp_spark.operators import tokenizer

    vocab = ["the", "ing", " "] + [chr(c) for c in range(ord("a"), ord("z") + 1)]
    rows = [(i, f"the thing number {chr(97 + i % 26)} ending") for i in range(300)]
    df = spark.createDataFrame(rows, "id long, t string")
    toks = tokenizer.tokenize(df, "t", "id", vocab)
    txt = {r.id: "".join(vocab[t] for t in r.tokens) for r in toks.collect()}
    for i, t in rows:
        assert txt[i] == t.lower()                    # full-coverage roundtrip


def test_tokenizer_rejects_bad_vocab(spark):
    from ulp_spark.operators import tokenizer

    df = spark.createDataFrame([(1, "x")], "id long, t string")
    with pytest.raises(ValueError):
        tokenizer.tokenize(df, "t", "id", [])
    with pytest.raises(ValueError):
        tokenizer.tokenize(df, "t", "id", ["a", "a"])
    with pytest.raises(ValueError):
        tokenizer.tokenize(df, "t", "id", ["a", ""])


def test_strip_boilerplate_seam_prunes_second_scan(spark):
    """Plan pin: the seamed form reads the full corpus ONCE (inside the
    seam); the only parquet scans in the final plan are column-pruned to
    the id column — the explode is never re-derived per consumer."""
    import re
    from ulp_spark.operators import curation

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = curation.strip_boilerplate(df, "text", "doc_id")
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert plan.count("Scan parquet") <= 2
    for m in re.finditer(r"ReadSchema: (.*)", plan):
        assert "text" not in m.group(1)   # no post-seam full-width scan


def test_pack_bins_invariants_and_determinism(spark):
    from ulp_spark import fixtures
    from ulp_spark.operators import packing

    CAP = 512
    a = packing.pack_bins(
        fixtures.sequences(spark, 600, partitions=2).select("doc_id", "n_tok"),
        capacity=CAP, buckets=16)
    b = packing.pack_bins(
        fixtures.sequences(spark, 600, partitions=11).select("doc_id", "n_tok"),
        capacity=CAP, buckets=16)
    ra = {r.doc_id: (r.bin_id, r.oversize) for r in a.collect()}
    rb = {r.doc_id: (r.bin_id, r.oversize) for r in b.collect()}
    assert len(ra) == 600                      # every doc exactly once
    assert ra == rb                            # input-partitioning-invariant
    # no regular bin over capacity; oversize only when the doc alone is
    loads: dict[int, int] = {}
    toks = {r.doc_id: r.n_tok for r in
            fixtures.sequences(spark, 600).select("doc_id", "n_tok").collect()}
    for d, (bin_id, over) in ra.items():
        assert over == (toks[d] > CAP)
        if not over:
            loads[bin_id] = loads.get(bin_id, 0) + toks[d]
    assert loads and max(loads.values()) <= CAP


def test_pack_bins_oversize_isolated_and_stats(spark):
    from ulp_spark.operators import packing

    rows = [("a", 600), ("b", 600), ("c", 100), ("d", 100), ("e", 300)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int")
    packed = packing.pack_bins(df, capacity=512, buckets=4)
    out = {r.doc_id: r for r in packed.collect()}
    assert out["a"].oversize and out["b"].oversize
    assert out["a"].bin_id != out["b"].bin_id      # oversize never co-packed
    by_bin: dict[int, list] = {}
    for r in out.values():
        by_bin.setdefault(r.bin_id, []).append(r)
    for rs in by_bin.values():
        if any(r.oversize for r in rs):
            assert len(rs) == 1                    # nothing joins an oversize bin
    st = packing.bin_stats(packed, capacity=512).collect()[0]
    assert st.n_docs == 5 and st.n_oversize == 2
    assert 0 < st.fill_frac <= 1.0


def _ffd_reference(rows, capacity):
    """Per-bucket first-fit-decreasing over ``(doc_id, n_tok, bucket)``
    rows: scan in (n_tok desc, doc_id asc) order, first fit, an oversize
    doc closes a bin of its own (remaining -1)."""
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r[2], []).append(r)
    out = []
    for b, docs in by_bucket.items():
        remaining: list[int] = []
        for d, t, _ in sorted(docs, key=lambda r: (-r[1], r[0])):
            over = t > capacity
            slot = next((i for i, rem in enumerate(remaining)
                         if not over and rem >= t), None)
            if slot is None:
                remaining.append(-1 if over else capacity - t)
                slot = len(remaining) - 1
            else:
                remaining[slot] -= t
            out.append((d, t, b, (b << 32) | slot, over))
    return sorted(out)


def test_pack_bins_matches_reference_ffd_across_batches(spark):
    """pack_bins equals a pure-Python per-bucket FFD row for row, with
    zero-token and oversize docs, many buckets per partition, and Arrow
    batches of 7 rows so buckets straddle batch boundaries."""
    import random

    from ulp_spark.operators import packing

    cap, buckets = 64, 12
    rnd = random.Random(11)
    docs = [(f"d{i:04d}", rnd.choice(
        [0, 0, rnd.randint(1, cap), rnd.randint(1, cap), rnd.randint(1, 16),
         rnd.randint(cap + 1, 3 * cap)])) for i in range(500)]
    df = spark.createDataFrame(docs, "doc_id string, n_tok int")
    keyed = [tuple(r) for r in df.select(
        "doc_id", "n_tok",
        F.pmod(F.xxhash64("doc_id"), F.lit(buckets)).cast("int")).collect()]
    want = _ffd_reference(keyed, cap)
    assert any(t == 0 for _, t, *_ in want)
    assert any(over for *_, over in want)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        for parts in (1, 13):
            got = sorted(tuple(r) for r in packing.pack_bins(
                df.repartition(parts), capacity=cap,
                buckets=buckets).collect())
            assert got == want, parts
    finally:
        spark.conf.set(key, old)


def test_pack_bins_rejects_nonpositive_capacity_and_buckets(spark):
    from ulp_spark.operators import packing

    df = spark.createDataFrame([("a", 1)], "doc_id string, n_tok int")
    with pytest.raises(ValueError, match="capacity"):
        packing.pack_bins(df, capacity=0)
    with pytest.raises(ValueError, match="buckets"):
        packing.pack_bins(df, buckets=0)


def test_source_mixing_plan_matches_duckdb_and_budget(spark):
    from ulp_spark import fixtures
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, 3000)
    got = sorted(map(tuple, tokens.source_mixing_plan(
        seq, budget=2_000_000).collect()))
    con = duckdb.connect()
    exp = sorted(con.sql(tokens.source_mixing_plan_sql(
        f"({fixtures.sequences_sql(3000)})")).fetchall())
    assert got == exp
    for _, n_tokens, budget_tokens, n_epochs, tail_frac in got:
        # plan reconstructs its own budget: epochs*n + tail*n ~= budget
        assert abs(n_epochs * n_tokens + tail_frac * n_tokens
                   - budget_tokens) <= n_tokens * 1e-5 + 1


def test_pack_sequences_boundaries_and_conservation(spark):
    from ulp_spark import fixtures
    from ulp_spark.operators import packing

    seq = fixtures.sequences(spark, 300).select("doc_id", "tokens", "n_tok")
    packed = packing.pack_bins(seq.select("doc_id", "n_tok"),
                               capacity=512, buckets=8)
    rows = packing.pack_sequences(seq, packed).collect()
    docs = {r.doc_id: r for r in seq.collect()}
    n_tok_by_id = {d: r.n_tok for d, r in docs.items()}
    assigned = {r.doc_id: r.bin_id for r in packed.collect()}
    seen_docs = 0
    for r in rows:
        assert r.n_tok == len(r.tokens) <= 512 or r.n_docs == 1  # oversize solo
        assert r.n_docs == len(r.doc_starts)
        assert list(r.doc_starts) == sorted(r.doc_starts)
        assert r.doc_starts[0] == 0
        # starts are the exclusive prefix sums of the member doc lengths
        members = sorted(d for d, b in assigned.items() if b == r.bin_id)
        exp_starts, off = [], 0
        for d in members:
            exp_starts.append(off)
            off += n_tok_by_id[d]
        assert list(r.doc_starts) == exp_starts
        assert off == r.n_tok
        # tokens are the member docs' tokens concatenated in id order
        assert list(r.tokens) == [t for d in members for t in docs[d].tokens]
        seen_docs += r.n_docs
    assert seen_docs == 300                      # every doc packed exactly once


def test_linear_classifier_scores_every_row(spark):
    import math

    from ulp_spark.operators import classifier

    df = spark.createDataFrame(
        [(1, "good solid text here"), (2, ""), (3, None)],
        "doc_id long, text string")
    got = {r.doc_id: (r.score_centi, r.prob)
           for r in classifier.linear_quality_score(
               df, "text", "doc_id").collect()}
    assert set(got) == {1, 2, 3}                  # every row comes back
    bias = classifier.BIAS_CENTI
    assert got[2] == (bias, round(1 / (1 + math.exp(-bias / 100)), 6))
    assert got[3] == got[2]                       # null == empty == bias only


def _greedy_ref(s, vocab):
    """Pure-Python greedy longest-match over the lowercased text: at each
    position the longest piece by slice probes, else -1 (the unk id) and
    one code point."""
    if s is None:
        return []
    s = s.lower()
    v = {p: i for i, p in enumerate(vocab)}
    max_len = max(map(len, vocab))
    ids, i = [], 0
    while i < len(s):
        ln = min(max_len, len(s) - i)
        while ln > 0 and s[i:i + ln] not in v:
            ln -= 1
        if ln == 0:
            ids.append(-1)
            i += 1
        else:
            ids.append(v[s[i:i + ln]])
            i += ln
    return ids


def test_tokenizer_matches_pure_python_reference_on_random_inputs(spark):
    """Randomized cross-check: Spark output == an independent per-string
    greedy implementation, 200 seeded strings in one job."""
    import random

    from ulp_spark.operators import tokenizer

    rng = random.Random(20260817)
    vocab = ["aa", "aab", "ba", "b", "a", "c", " ", "abc", "cab"]
    rows = [(i, "".join(rng.choice("abc xyB") for _ in range(rng.randint(0, 40))))
            for i in range(200)]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r.id: list(r.tokens) for r in tokenizer.tokenize(
        df, "t", "id", vocab).collect()}
    for i, s in rows:
        assert got[i] == _greedy_ref(s, vocab), (s, got[i])


# Pieces that are regex syntax (each metacharacter, the \Q...\E quote
# markers in both cases, a newline), multi-code-point pieces and non-BMP
# pieces.  Text is lowercased before matching, so the lowercase quote
# markers are the ones that match.
_ADVERSARIAL_VOCAB = [
    ".", "\\", "(", "|", "$", "\\E", "\\Q", "\n", "\r\n", "a.b", "(|",
    "\\Q.\\E", "[a]", "{2}", "^", "*+?", "e\u0301", "i\u0307", "\u00df",
    "\U0001F600", "\U0001F600\U0001F600", "ab", "b", "E", "Q",
    "\\e", "\\q", "\\q.\\e", "e", "q",
]


def test_tokenizer_adversarial_pieces_and_texts(spark):
    """Regex-syntax pieces match literally and the JVM regex walks code
    points like Python: CRLF, non-BMP emoji, combining marks, dotted
    capital I, sharp s, null and empty text all equal the pure-Python
    greedy reference; the output schema is the declared one."""
    import random

    from pyspark.sql import types as T

    from ulp_spark.operators import tokenizer

    texts = [
        None, "", "a.b\\Q.\\E(|)$^[a]{2}*+?", "\\E\\Q\\\\E", "x\r\ny\n\r",
        "\U0001F600\U0001F600\U0001F600 \U0001F601", "e\u0301E\u0301\u0301",
        "\u0130stanbul \u0130", "stra\u00dfe STRA\u1E9EE \u00df\u1E9E", "AB.b",
    ]
    rng = random.Random(9)
    pool = list(".\\(|$^[]{}*+?EQabe\n\r \u0301\u0130\u00df\u1E9E"
                "\U0001F600xA")
    texts += ["".join(rng.choice(pool) for _ in range(rng.randint(0, 30)))
              for _ in range(200)]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, t string")
    out = tokenizer.tokenize(df, "t", "id", _ADVERSARIAL_VOCAB)
    assert out.schema == T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
    ])
    got = {r.id: (list(r.tokens), r.n_tok) for r in out.collect()}
    assert len(got) == len(texts)
    for i, s in enumerate(texts):
        ref = _greedy_ref(s, _ADVERSARIAL_VOCAB)
        assert got[i] == (ref, len(ref)), (s, got[i], ref)


def test_tokenizer_final_sigma_deviation_is_pinned(spark):
    """The one documented deviation from Python lowercasing: next to a
    case-ignorable character such as ``^`` the JVM and CPython decide
    the final-sigma rule differently.  Java does not count ``^`` as
    case-ignorable, so a Σ after "a^" is not word-final to it (σ) and a
    Σ before "^b" is (ς); CPython decides the other way round both
    times.  Away from such characters they agree."""
    from ulp_spark.operators import tokenizer

    vocab = ["\u03c3", "\u03c2", "a", "b", "^", " "]
    rows = [(1, "a^\u03a3"), (2, "a\u03a3^b"), (3, "a\u03a3 b\u03a3a")]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r.id: list(r.tokens)
           for r in tokenizer.tokenize(df, "t", "id", vocab).collect()}
    sigma, final = vocab.index("\u03c3"), vocab.index("\u03c2")
    assert got[1] == [2, 4, sigma]          # CPython: ς
    assert got[2] == [2, final, 4, 3]       # CPython: σ
    assert _greedy_ref(rows[0][1], vocab) == [2, 4, final]
    assert _greedy_ref(rows[1][1], vocab) == [2, sigma, 4, 3]
    assert got[3] == _greedy_ref(rows[2][1], vocab) == [
        2, final, 5, 3, sigma, 2]


def test_tokenize_scale_guard_large_vocab(spark, monkeypatch):
    """A 5,000-piece vocab: planning ``tokenize`` stays a fixed handful of
    Py4J calls (the pattern and the piece -> id map are SQL text in one
    expression), and running it needs no codegen fallback: with
    ``spark.sql.codegen.fallback`` off and codegen-only projections, a
    class that failed to compile would raise, and every whole-stage
    codegen subtree of the executed plan compiles within the huge-method
    limit (above it Spark silently runs the subtree interpreted)."""
    import random
    import threading

    import py4j.java_gateway as jg

    from ulp_spark.operators import tokenizer

    rng = random.Random(5000)
    alphabet = "abcdefghijklmnopqrstuvwxyz.$(|\\ "
    vocab = set()
    while len(vocab) < 5000:
        vocab.add("".join(rng.choice(alphabet)
                          for _ in range(rng.randint(1, 6))))
    vocab = sorted(vocab)
    rows = [(i, "".join(rng.choice(alphabet) for _ in range(200)))
            for i in range(64)]
    df = spark.createDataFrame(rows, "id long, t string")

    calls = []
    send = jg.GatewayClient.send_command
    this_thread = threading.get_ident()

    def counted(self, command, *a, **kw):
        if threading.get_ident() == this_thread:
            calls.append(command.split("\n", 2)[:2])
        return send(self, command, *a, **kw)

    monkeypatch.setattr(jg.GatewayClient, "send_command", counted)
    out = tokenizer.tokenize(df, "t", "id", vocab)
    monkeypatch.undo()
    assert 0 < len(calls) <= 24, calls

    jvm = spark._jvm
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen
    conf = {"spark.sql.codegen.fallback": "false",
            "spark.sql.codegen.factoryMode": "CODEGEN_ONLY"}
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        got = {r.id: list(r.tokens) for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan()
        limit = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit"))
        stages, todo = [], [plan]
        while todo:
            node = todo.pop()
            if node.getClass().getSimpleName() == "WholeStageCodegenExec":
                code = node.doCodeGen()._2()
                stages.append(
                    codegen.CodeGenerator.compile(code)._2().maxMethodCodeSize())
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert stages and all(size <= limit for size in stages), (stages, limit)
    for i, s in rows[:8]:
        assert got[i] == _greedy_ref(s, vocab), s


def test_pack_bins_zero_token_doc_never_joins_oversize_bin(spark):
    # ADVICE r4: rem >= t with t == 0 used to land a zero-token doc in an
    # oversize bin's remaining==0 slot; the -1 sentinel closes that hole.
    from ulp_spark.operators import packing

    rows = [("big", 600), ("z1", 0), ("z2", 0), ("s", 10)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int")
    packed = packing.pack_bins(df, capacity=512, buckets=1)
    out = {r.doc_id: r for r in packed.collect()}
    assert out["big"].oversize
    by_bin: dict[int, list] = {}
    for r in out.values():
        by_bin.setdefault(r.bin_id, []).append(r)
    for rs in by_bin.values():
        if any(r.oversize for r in rs):
            assert len(rs) == 1            # oversize bins stay singleton
    # zero-token docs co-pack fine with each other / regular docs
    assert not out["z1"].oversize and not out["z2"].oversize
    st = packing.bin_stats(packed, capacity=512).collect()[0]
    assert st.n_docs == 4 and st.n_oversize == 1


def test_bin_stats_all_oversize_fill_frac_is_zero(spark):
    # ADVICE r4: no regular bins used to make fill_frac NULL; now 0.0.
    from ulp_spark.operators import packing

    df = spark.createDataFrame(
        [("a", 900), ("b", 700)], "doc_id string, n_tok int")
    packed = packing.pack_bins(df, capacity=512, buckets=2)
    st = packing.bin_stats(packed, capacity=512).collect()[0]
    assert st.n_oversize == 2 and st.n_bins == 2
    assert st.fill_frac == 0.0


def _bpe_ref(s, merges, vocab):
    """Independent pure-Python merge-loop oracle (Sennrich 2016) over the
    lowercased text: lowest rank present wins each iteration, all
    occurrences merged L->R; an unknown symbol maps to -1."""
    if s is None:
        return []
    s = s.lower()
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    big = len(ranks) + 1
    word = list(s)
    while len(word) >= 2:
        best, br = None, big
        for i in range(len(word) - 1):
            r = ranks.get((word[i], word[i + 1]), big)
            if r < br:
                best, br = (word[i], word[i + 1]), r
        if best is None or br == big:
            break
        l, rt = best
        out, i = [], 0
        while i < len(word):
            if i < len(word) - 1 and word[i] == l and word[i + 1] == rt:
                out.append(l + rt)
                i += 2
            else:
                out.append(word[i])
                i += 1
        word = out
    vm = {p: i for i, p in enumerate(vocab)}
    return [vm.get(w, -1) for w in word]


_BPE_MERGES = [("b", "c"), ("a", "b"), ("bc", "d")]
_BPE_VOCAB = ["a", "b", "c", "d", "ab", "bc", "bcd"]


def test_bpe_tokenize_matches_reference_and_duckdb(spark):
    from ulp_spark.operators import tokenizer

    rows = [("r1", "abc"), ("r2", "abcd"), ("r3", ""), ("r4", None),
            ("r5", "xbca"), ("r6", "aaabcbc"), ("r7", "bcdbcd"),
            ("r8", "ABcD")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: (list(r.tokens), r.n_tok)
           for r in tokenizer.bpe_tokenize(
               df, "text", "doc_id", _BPE_MERGES, _BPE_VOCAB).collect()}
    exp = {k: (_bpe_ref(v, _BPE_MERGES, _BPE_VOCAB),
               len(_bpe_ref(v, _BPE_MERGES, _BPE_VOCAB))) for k, v in rows}
    assert got == exp
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    sql = tokenizer.bpe_tokenize_sql(
        "t", "text", "doc_id", _BPE_MERGES, _BPE_VOCAB)
    oracle = {r[0]: (list(r[1]), r[2]) for r in con.sql(sql).fetchall()}
    assert oracle == exp


def test_bpe_tokenize_diverges_from_greedy_where_documented(spark):
    """The tokenize docstring's concession, exhibited: greedy longest-match
    picks [ab, c] on 'abc'; merge-rank BPE with (b,c) ranked first gives
    [a, bc]."""
    from ulp_spark.operators import tokenizer

    gv = ["a", "b", "c", "ab", "bc"]
    df = spark.createDataFrame([("x", "abc")], "doc_id string, text string")
    greedy = list(tokenizer.tokenize(df, "text", "doc_id", gv)
                  .collect()[0].tokens)
    bpe = list(tokenizer.bpe_tokenize(
        df, "text", "doc_id", [("b", "c"), ("a", "b")], gv)
        .collect()[0].tokens)
    assert greedy == [3, 2]        # [ab, c]
    assert bpe == [0, 4]           # [a, bc]
    assert greedy != bpe


def test_bpe_tokenize_randomized_against_reference(spark):
    import random

    from ulp_spark.operators import tokenizer

    rng = random.Random(7)
    merges = [("a", "a"), ("b", "a"), ("aa", "b"), ("c", "aab"), ("b", "b")]
    vocab = ["a", "b", "c", "aa", "ba", "aab", "caab", "bb"]
    rows = [(i, "".join(rng.choice("abc") for _ in range(rng.randrange(0, 40))))
            for i in range(200)]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r.id: list(r.tokens) for r in tokenizer.bpe_tokenize(
        df, "t", "id", merges, vocab).collect()}
    for i, s in rows:
        assert got[i] == _bpe_ref(s, merges, vocab), (s, got[i])


def test_bpe_learn_apply_bridge(spark):
    """vocab.bpe_top_merges -> (left, right) merges -> bpe_tokenize closes
    the learn->apply loop; the applied merges are the learned ranking."""
    from ulp_spark.operators import tokenizer, vocab as V

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(4)],
        "doc_id long, text string")
    pairs = [r.pair for r in V.bpe_top_merges(docs, "text", k=4).collect()]
    assert all(len(p) == 2 for p in pairs)
    merges = [(p[0], p[1]) for p in pairs]
    base = sorted(set("the cat sat on the mat"))
    vocab = base + sorted({l + r for l, r in merges} - set(base))
    out = tokenizer.bpe_tokenize(docs, "text", "doc_id", merges, vocab)
    got = {r.doc_id: list(r.tokens) for r in out.collect()}
    exp = _bpe_ref("the cat sat on the mat", merges, vocab)
    assert all(t == exp for t in got.values())
    # learned merge symbols actually fire: some emitted id is a merge piece
    merged_ids = {vocab.index(l + r) for l, r in merges if l + r in vocab}
    assert merged_ids & set(exp)


def test_ivf_sampled_training_holds_recall_at_scale(spark):
    """VERDICT r4 #5: the train-on-sample design under actual stress — a
    20k-vector corpus trained on a strict 10% sample (2k rows collected
    to the driver, the FAISS bounded-memory pattern) must still meet the
    recall>=0.85 @ frac_scanned<=0.35 target.  The 50k-vector measurement
    lives in bench.py (ann.tuned); this pins the floor at suite-scale
    (10k vectors keeps it ~1 min — recall cost is linear in n)."""
    from ulp_spark import fixtures
    from ulp_spark.operators import similarity as S

    n = 10_000
    emb = fixtures.clustered_embeddings(spark, n, dim=64, clusters=20)
    emb = emb.localCheckpoint()
    cents = S.ivf_train_spherical(
        emb, "embedding", "vec_id", k=32, rounds=10, sample=1_000)
    assert len(cents) == 32
    qids = list(range(0, n, n // 6))[:6]
    res = S.tune_n_probe(emb, "embedding", "vec_id", qids, cents, dim=64,
                         target_recall=0.85, max_probe=4)
    assert res["met"], res
    assert res["recall_at_k"] >= 0.85, res
    assert res["frac_scanned"] <= 0.35, res


def test_chunk_sequences_sliding_windows_hand_computed(spark):
    """CHUNK_LEN=128, CHUNK_STRIDE=96 over 300 tokens: starts 0,96,192,288
    -> windows [0:128],[96:224],[192:300],[288:300]; CHUNK_MIN_TOKENS=16
    drops the final 12-token tail.  Overlap must be exact (each chunk
    re-reads its left context).  A 20-token doc is one short window; a
    10-token doc and an empty doc produce no rows."""
    from ulp_spark.operators import tokens

    assert (tokens.CHUNK_LEN, tokens.CHUNK_STRIDE,
            tokens.CHUNK_MIN_TOKENS) == (128, 96, 16)
    df = spark.createDataFrame(
        [("a", list(range(300))), ("b", list(range(20))),
         ("c", list(range(10))), ("empty", [])],
        "doc_id string, tokens array<int>")
    out = tokens.chunk_sequences(df, "tokens", "doc_id")
    got = {(r.doc_id, r.chunk_idx): (list(r.tokens), r.n_tok)
           for r in out.collect()}
    assert got == {
        ("a", 0): (list(range(0, 128)), 128),
        ("a", 1): (list(range(96, 224)), 128),
        ("a", 2): (list(range(192, 300)), 108),
        ("b", 0): (list(range(20)), 20),
    }


def test_chunk_sequences_no_shuffle_and_token_conservation(spark):
    """Plan pin: the explode is narrow — no Exchange anywhere (output
    co-partitions with the input).  The chunks hold exactly the tokens
    the sliding-window reference puts in them."""
    from ulp_spark import fixtures
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, 300)
    out = tokens.chunk_sequences(seq, "tokens", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    tot = out.agg(F.sum("n_tok").alias("s")).collect()[0].s
    exp = sum(n for r in seq.select("tokens").collect()
              for _, _, n in _chunk_ref(
                  r.tokens, tokens.CHUNK_LEN, tokens.CHUNK_STRIDE,
                  tokens.CHUNK_MIN_TOKENS))
    assert tot == exp


def test_weighted_sample_proportional_and_deterministic(spark):
    """Efraimidis-Spirakis correctness signals: (a) exact k rows, (b) the
    same seed reproduces the same membership at different partitioning,
    (c) heavier rows are sampled at measurably higher rate (w=9 vs w=1
    at a 50% sampling frac must separate decisively), (d) non-positive /
    NULL weights never appear."""
    from ulp_spark.operators import sampling

    rows = [(f"h{i:04d}", 9) for i in range(500)] + \
           [(f"l{i:04d}", 1) for i in range(500)] + \
           [("z0", 0), ("z1", None)]
    df = spark.createDataFrame(rows, "doc_id string, w int")
    got = sampling.weighted_sample(df, "w", "doc_id", k=500, seed="t")
    ids = {r.doc_id for r in got.collect()}
    assert len(ids) == 500
    assert not any(i.startswith("z") for i in ids)
    heavy = sum(1 for i in ids if i.startswith("h"))
    # E[heavy] ~ 450 of 500 under w=9:1 (ES inclusion ~ w-proportional
    # until saturation); a uniform sampler would land ~250.  >=350 is
    # ~10 sigma from uniform — deterministic given the fixed seed.
    assert heavy >= 350, heavy
    again = {r.doc_id for r in sampling.weighted_sample(
        df.repartition(7), "w", "doc_id", k=500, seed="t").collect()}
    assert again == ids                       # partitioning-invariant
    other = {r.doc_id for r in sampling.weighted_sample(
        df, "w", "doc_id", k=500, seed="u").collect()}
    assert other != ids                       # seed actually steers


def test_weighted_sample_topk_plan_and_validation(spark):
    """Plan pin: orderBy(key).limit(k) must compile to
    TakeOrderedAndProject (partition top-k heaps), NOT a global Sort —
    the difference between O(k) driver merge and a full sort shuffle."""
    from ulp_spark import fixtures
    from ulp_spark.operators import sampling

    seq = fixtures.sequences(spark, 1000)
    out = sampling.weighted_sample(seq, "n_tok", "doc_id", k=20, seed="ws0")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sampling.weighted_sample(seq, "n_tok", "doc_id", k=0, seed="ws0")


def test_length_bucket_stats_hand_computed(spark):
    """Buckets: 1,31,32 -> 32; 33,64 -> 64; 100 -> 128; 0/NULL excluded.
    pad = n_seqs*bucket - sum_tok per bucket, exact integers."""
    from ulp_spark.operators import packing

    df = spark.createDataFrame(
        [("a", 1), ("b", 31), ("c", 32), ("d", 33), ("e", 64),
         ("f", 100), ("g", 0), ("h", None)],
        "doc_id string, n_tok int")
    got = {r.bucket: (r.n_seqs, r.sum_tok, r.pad_tok)
           for r in packing.length_bucket_stats(df).collect()}
    assert got == {32: (3, 64, 32), 64: (2, 97, 31), 128: (1, 100, 28)}


def test_length_bucket_stats_power_of_two_edges_match_duckdb(spark):
    """The float-log bucket construction is guarded at exact powers of
    two; sweep every length 1..600 through BOTH engines and require
    bitwise-equal bucket tables (the oracle-parity property, stressed at
    the 2^k +/- 1 edges the sf fixture never hits)."""
    import duckdb
    from ulp_spark.operators import packing

    rows = [(f"d{i:04d}", i) for i in range(1, 601)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int")
    got = sorted(map(tuple, packing.length_bucket_stats(df)
                     .collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ",".join(f"('d{i:04d}', {i})" for i in range(1, 601))
                + ") v(doc_id, n_tok)")
    exp = sorted(map(tuple, con.sql(
        packing.length_bucket_stats_sql("t")).fetchall()))
    assert got == exp
    # and the buckets are the true integer-exact ceil-to-power-of-two:
    import math
    exp_buckets = {max(32, 1 << math.ceil(math.log2(i)))
                   for i in range(1, 601)}
    assert {b for b, *_ in got} == exp_buckets


def test_unigram_scores_hand_computed_and_partition_invariant(spark):
    """Two docs over three token ids: logp_micro and the exact bigint
    sums are hand-derivable; repartitioning must not move a single
    micro-nat (the integer-sum determinism contract)."""
    import math
    from ulp_spark.operators import tokens

    df = spark.createDataFrame(
        [("a", [0, 0, 1]), ("b", [1, 2])],
        "doc_id string, tokens array<int>")
    out = {r.doc_id: (r.n_tok, r.logp_micro_sum, r.ce_nats)
           for r in tokens.sequence_unigram_scores(df).collect()}
    N, V, a = 5, tokens.VOCAB_SIZE, tokens.LM_ALPHA
    lp = {t: round(math.log((c + a) / (N + a * V)) * 1e6)
          for t, c in {0: 2, 1: 2, 2: 1}.items()}
    exp_a = 2 * lp[0] + lp[1]
    exp_b = lp[1] + lp[2]
    assert out["a"] == (3, exp_a, round(-exp_a / 3e6, 6))
    assert out["b"] == (2, exp_b, round(-exp_b / 2e6, 6))
    again = {r.doc_id: r.logp_micro_sum
             for r in tokens.sequence_unigram_scores(
                 df.repartition(5)).collect()}
    assert again == {k: v[1] for k, v in out.items()}


def test_unigram_scores_separates_repetitive_from_rare(spark):
    """The quality-signal property: a stereotyped doc (all corpus-modal
    tokens) must score LOWER ce than a doc of corpus-rare tokens."""
    from ulp_spark.operators import tokens

    rows = [(f"common{i}", [7] * 20) for i in range(50)] + \
           [("rare0", list(range(100, 120)))]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {r.doc_id: r.ce_nats
           for r in tokens.sequence_unigram_scores(df).collect()}
    assert out["common0"] < out["rare0"]


def test_winnow_guarantee_and_edges(spark):
    """The SIGMOD-2003 winnowing guarantee, pinned: two docs sharing a
    substring of length >= w + k - 1 (= 12 at k=5, w=8) MUST share a
    fingerprint, whatever surrounds it.  Edges: empty and sub-k texts
    yield no fingerprints; a short-but-real text keeps its global min."""
    from ulp_spark.operators import dedup

    shared = "QUANTUMFLUX9"          # 12 chars = w + k - 1
    df = spark.createDataFrame(
        [(1, "aaaa prefix " + shared + " one tail"),
         (2, "completely other start " + shared + "zz"),
         (3, "no overlap with anyone here at all"),
         (4, ""), (5, "abc"), (6, "abcdefg")],   # 6: 3 grams < w
        "id long, text string")
    # the staged form winnow_candidates runs: hash array, then window-min
    staged = df.select(
        "id", dedup._positional_hashes(F.col("text")).alias("h"))
    fps = {r.id: set(r.f) for r in staged.select(
        "id", dedup._winnow_from_hashes(F.col("h")).alias("f")).collect()}
    assert fps[1] & fps[2]            # the guarantee
    assert not (fps[1] & fps[3])
    assert fps[4] == set() and fps[5] == set()
    assert len(fps[6]) == 1           # global min for n < w


def test_winnow_candidates_pairs_and_duckdb_twin(spark):
    """Candidate pairs on a constructed corpus, Spark == DuckDB twin
    bitwise; min_shared screens out single-fingerprint coincidences."""
    import duckdb
    from ulp_spark.operators import dedup

    para = "the common boilerplate paragraph that repeats everywhere"
    rows = [(1, para + " alpha variant"), (2, para + " beta variant"),
            (3, "entirely unrelated document body text"),
            (4, "another unrelated piece of writing")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = sorted(map(tuple, dedup.winnow_candidates(
        df, "text", "id").collect()))
    assert any(a == 1 and b == 2 for a, b, _ in got)
    assert not any(3 in (a, b) or 4 in (a, b) for a, b, _ in got)
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ",".join(f"({i}, '{x}')" for i, x in rows)
                + ") v(id, text)")
    exp = sorted(map(tuple, con.sql(
        dedup.winnow_candidates_sql("t", "text", "id")).fetchall()))
    assert got == exp


def test_repeated_suffix_hand_computed(spark):
    """[...1,2,1,2,1,2] -> period 2, 3 copies, trim 4; all-same -> the
    FUNDAMENTAL period 1; no-repeat / single / empty -> (0, 1, 0)."""
    from ulp_spark.operators import tokens

    df = spark.createDataFrame(
        [("loop", [5, 6, 1, 2, 1, 2, 1, 2]),
         ("same", [7, 7, 7, 7]),
         ("pair", [1, 2, 1, 2]),
         ("two",  [3, 3]),
         ("none", [1, 2, 3]),
         ("one",  [9]),
         ("empty", [])],
        "doc_id string, tokens array<int>")
    got = {r.doc_id: (r.n_tok, r.period, r.n_copies, r.trim_tokens)
           for r in tokens.repeated_suffix(df).collect()}
    assert got == {
        "loop": (8, 2, 3, 4),
        "same": (4, 1, 4, 3),
        "pair": (4, 2, 2, 2),
        "two":  (2, 1, 2, 1),
        "none": (3, 0, 1, 0),
        "one":  (1, 0, 1, 0),
        "empty": (0, 0, 1, 0),
    }


def test_repeated_suffix_matches_duckdb_on_random_arrays(spark):
    """200 seeded-random short arrays over a tiny alphabet (so periodic
    tails occur naturally) through BOTH engines — bitwise-equal rows,
    including the period tie-breaks."""
    import random

    import duckdb
    from ulp_spark.operators import tokens

    rng = random.Random(45)
    rows = [(f"r{i:03d}",
             [rng.randrange(3) for _ in range(rng.randrange(0, 14))])
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = sorted(map(tuple, tokens.repeated_suffix(df).collect()))
    con = duckdb.connect()
    vals = ",".join(
        f"('{i}', [{','.join(map(str, t))}]::INT[])" for i, t in rows)
    con.execute(f"CREATE TABLE t AS SELECT * FROM (VALUES {vals}) "
                "v(doc_id, tokens)")
    exp = sorted(map(tuple, con.sql(
        tokens.repeated_suffix_sql("t")).fetchall()))
    assert got == exp


def test_clustered_embeddings_sql_twin_bitwise(spark):
    """The T4 fixture and its new DuckDB twin must agree BITWISE on the
    float32 components (integer grid + one correctly-rounded double
    division, cast to float in both engines) — the precondition for any
    embedding-side oracle built on the fixture."""
    import duckdb
    from ulp_spark import fixtures

    got = {r.vec_id: (list(r.embedding), r.label)
           for r in fixtures.clustered_embeddings(spark, 50).collect()}
    con = duckdb.connect()
    exp = {v: (list(e), l) for v, e, l in con.sql(
        fixtures.clustered_embeddings_sql(50)).fetchall()}
    assert got == exp


def test_semantic_dedup_groups_respect_cluster_labels(spark):
    """Groups from SRP-bucketed cosine pairs at threshold 0.8 must never
    MERGE two different ground-truth clusters (across-cluster cosine ~0
    on the T4 fixture); under-merging is allowed by design (SRP recall
    bound, documented in the query docstring)."""
    from ulp_spark import fixtures
    from ulp_spark.operators import dedup, similarity

    emb = fixtures.clustered_embeddings(spark, 200, dim=64, clusters=10)
    pairs = similarity.embedding_near_dup(
        emb, "embedding", "vec_id", dim=64, threshold=0.8)
    cc = dedup.connected_components(pairs.select("id_a", "id_b"))
    rows = cc.collect()
    assert rows                                     # non-trivial
    label = {r.id: r.id % 10 for r in rows}
    comp_label = {}
    for r in rows:
        comp_label.setdefault(r.comp_id, set()).add(label[r.id])
    assert all(len(ls) == 1 for ls in comp_label.values())


# ---------------------------------------------------------------------------
# property-based cross-checks (hypothesis): one Spark job per example,
# a pure-Python reference per row — shrinking finds minimal counterexamples
# ---------------------------------------------------------------------------

def _chunk_ref(toks, cap, step, min_tok):
    out = []
    for ci, s in enumerate(range(0, len(toks), step)):
        c = toks[s:s + cap]
        if len(c) >= min_tok:
            out.append((ci, tuple(c), len(c)))
    return out


def _suffix_ref(toks, max_period=8):
    n = len(toks)
    best = (0, 0, 0, 1)  # (trim, -p, period, copies)
    for p in range(1, max_period + 1):
        L = 0
        while L < n - p and toks[n - 1 - L] == toks[n - 1 - L - p]:
            L += 1
        cand = ((L // p) * p, -p, p, L // p + 1)
        if cand[:2] > best[:2]:
            best = cand
    if best[0] == 0:
        return (0, 1, 0)
    return (best[2], best[3], best[0])


def test_chunk_sequences_hypothesis_vs_reference(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ulp_spark.operators import tokens

    @settings(max_examples=5, deadline=None)
    @given(arrays=st.lists(st.lists(st.integers(0, 9), max_size=400),
                           min_size=1, max_size=8))
    def check(arrays):
        rows = [(f"d{i}", a) for i, a in enumerate(arrays)]
        df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
        got = {}
        for r in tokens.chunk_sequences(df, "tokens", "doc_id").collect():
            got.setdefault(r.doc_id, []).append(
                (r.chunk_idx, tuple(r.tokens), r.n_tok))
        for i, a in enumerate(rows):
            exp = _chunk_ref(a[1], tokens.CHUNK_LEN, tokens.CHUNK_STRIDE,
                             tokens.CHUNK_MIN_TOKENS)
            assert sorted(got.get(a[0], [])) == sorted(exp), a

    check()


def test_repeated_suffix_hypothesis_vs_reference(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ulp_spark.operators import tokens

    @settings(max_examples=5, deadline=None)
    @given(arrays=st.lists(st.lists(st.integers(0, 2), max_size=30),
                           min_size=1, max_size=30))
    def check(arrays):
        rows = [(f"d{i}", a) for i, a in enumerate(arrays)]
        df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
        got = {r.doc_id: (r.period, r.n_copies, r.trim_tokens)
               for r in tokens.repeated_suffix(df).collect()}
        for did, a in rows:
            assert got[did] == _suffix_ref(a), (did, a, got[did])

    check()


def test_bigram_scores_hand_computed_and_order_sensitivity(spark):
    """Tiny corpus where the bigram table is hand-derivable; the
    order-sensitivity property: a doc whose TOKENS are corpus-common but
    whose TRANSITIONS are unique must out-ce the common docs (the
    unigram score cannot make that separation)."""
    import math
    from ulp_spark.operators import tokens

    rows = [(f"c{i}", [1, 2, 3]) for i in range(10)] + [("rev", [3, 2, 1])]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {r.doc_id: (r.n_bigrams, r.logp_micro_sum, r.ce_nats)
           for r in tokens.sequence_bigram_scores(df).collect()}
    a, V = tokens.LM_ALPHA, tokens.VOCAB_SIZE
    # pair counts: (1,2)x10 (2,3)x10 (3,2)x1 (2,1)x1; prev totals:
    # n_1(1)=10, n_1(2)=11 (ten (2,3) + one (2,1)), n_1(3)=1
    lp = {(1, 2): (10, 10), (2, 3): (10, 11), (3, 2): (1, 1),
          (2, 1): (1, 11)}
    mic = {k: round(math.log((n2 + a) / (n1 + a * V)) * 1e6)
           for k, (n2, n1) in lp.items()}
    exp_c = mic[(1, 2)] + mic[(2, 3)]
    exp_rev = mic[(3, 2)] + mic[(2, 1)]

    def r6(x):  # Spark/DuckDB round = HALF_UP for positives, NOT banker's
        from decimal import ROUND_HALF_UP, Decimal
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                                rounding=ROUND_HALF_UP))
    assert out["c0"] == (2, exp_c, r6(-exp_c / 2e6))
    assert out["rev"] == (2, exp_rev, r6(-exp_rev / 2e6))
    assert out["rev"][2] > out["c0"][2]        # order sensitivity
    # unigram CANNOT separate them: same token multiset
    uni = {r.doc_id: r.ce_nats for r in tokens.sequence_unigram_scores(
        df).collect()}
    assert uni["rev"] == uni["c0"]
    # short rows have no transitions and are omitted
    short = spark.createDataFrame(
        [("s", [5]), ("e", [])], "doc_id string, tokens array<int>")
    assert tokens.sequence_bigram_scores(short).count() == 0


def test_bigram_scores_partition_invariant(spark):
    from ulp_spark import fixtures
    from ulp_spark.operators import tokens

    a = {r.doc_id: r.logp_micro_sum for r in tokens.sequence_bigram_scores(
        fixtures.sequences(spark, 300, partitions=1)).collect()}
    b = {r.doc_id: r.logp_micro_sum for r in tokens.sequence_bigram_scores(
        fixtures.sequences(spark, 300, partitions=13)).collect()}
    assert a == b and len(a) > 0


def test_remove_duplicate_spans_hand_computed(spark):
    """Constructed corpus, GRAM=8 windows: the keeper occurrence
    survives, the other occurrence's span is cut, within-doc repeats are
    cut too, short rows pass through untouched."""
    from ulp_spark.operators import tokens

    assert tokens.GRAM == 8
    head = list(range(1, 9))
    rows = [
        # keeper of (1..8) — lexicographically smallest (id, pos) key
        ("a", head + [40, 50]),
        # (1..8) at pos 0 duplicates doc a's -> positions 0..7 removed
        ("b", head + [9, 9]),
        # (7 x8) x3 within one doc: pos 0 keeps, pos 1+2 cut -> [7]
        ("c", [7] * 10),
        # shorter than GRAM: no windows, unchanged
        ("d", [1, 2]),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = {r.doc_id: r for r in
           tokens.remove_duplicate_spans(df, "tokens", "doc_id").collect()}
    assert set(got) == {"a", "b", "c", "d"}
    assert (got["a"].n_removed, list(got["a"].tokens_clean)) == \
        (0, head + [40, 50])
    assert (got["b"].n_removed, list(got["b"].tokens_clean)) == (8, [9, 9])
    assert (got["c"].n_removed, list(got["c"].tokens_clean)) == (9, [7])
    assert (got["d"].n_removed, list(got["d"].tokens_clean)) == (0, [1, 2])
    assert all(r.n_tok_clean == len(r.tokens_clean) for r in got.values())


def test_remove_duplicate_spans_partition_invariant(spark):
    """The keeper rule orders on (id, zero-padded pos) strings, never on
    partition or arrival order: 1-partition and 16-partition runs agree
    row for row on the heavy-dup fixture stream."""
    from ulp_spark import fixtures
    from ulp_spark.operators import tokens

    def run(parts):
        seq = fixtures.sequences(spark, 200, partitions=parts)
        return {r.doc_id: (r.n_tok_clean, r.n_removed, tuple(r.tokens_clean))
                for r in tokens.remove_duplicate_spans(
                    seq, "tokens", "doc_id").collect()}

    assert run(1) == run(16)


def test_clean_lines_hand_computed(spark):
    """Each C4 rule in isolation: terminal punct, min words, blacklist,
    blank lines, null text, and the min_lines doc flag."""
    from ulp_spark.operators import curation

    rows = [
        ("a", "one two three.\nno terminal punct here\nfour five six!"),
        ("b", "too short.\n\n   \nthis javascript line is blacklisted."),
        ("c", None),
        ("d", 'quoted line stays."\nlorem ipsum dolor sit amet.'),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: r for r in
           curation.clean_lines(df, "text", "doc_id").collect()}
    # a: line 2 lacks terminal punct; lines 1+3 survive -> keep_doc
    assert got["a"].text_clean == "one two three.\nfour five six!"
    assert (got["a"].n_lines, got["a"].n_kept, got["a"].keep_doc) == (3, 2, True)
    # b: "too short." has 2 words; blanks don't count as lines;
    #    the javascript line is blacklisted -> nothing survives
    assert (got["b"].text_clean, got["b"].n_lines, got["b"].n_kept,
            got["b"].keep_doc) == ("", 2, 0, False)
    # c: null text behaves like empty
    assert (got["c"].text_clean, got["c"].n_lines, got["c"].n_kept,
            got["c"].keep_doc) == ("", 0, 0, False)
    # d: closing-quote terminal counts; lorem ipsum is blacklisted
    assert got["d"].text_clean == 'quoted line stays."'
    assert (got["d"].n_kept, got["d"].keep_doc) == (1, False)


def test_clean_lines_no_shuffle_plan(spark):
    """The rewrite is per-row array algebra: the executed plan must hold
    zero Exchanges (co-partitions with the input at any scale)."""
    from ulp_spark import fixtures
    from ulp_spark.operators import curation

    out = curation.clean_lines(
        fixtures.lined_docs(spark, 100), "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_lined_docs_fixture_bitwise_twin(spark):
    """lined_docs and lined_docs_sql must agree on every byte (the oracle
    for every line-level op rides this fixture)."""
    import duckdb

    from ulp_spark import fixtures

    got = {r.doc_id: r.text for r in
           fixtures.lined_docs(spark, 300).collect()}
    con = duckdb.connect()
    exp = dict(con.sql(fixtures.lined_docs_sql(300)).fetchall())
    assert got == exp


def _naive_bpe_train(rows, n_merges, min_count=2):
    """Recount-from-scratch BPE reference (independent of the incremental
    bookkeeping in vocab.bpe_merge_loop): each iteration recounts every
    pair over every word, merges the (count desc, pair asc) argmax
    everywhere L->R non-overlapping."""
    words = [(list(w), n) for w, n in rows]
    merges = []
    for _ in range(n_merges):
        counts = {}
        for s, n in words:
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        if counts[best] < min_count:
            break
        merges.append(best)
        l, r = best
        for wi, (s, n) in enumerate(words):
            out, j = [], 0
            while j < len(s):
                if j < len(s) - 1 and s[j] == l and s[j + 1] == r:
                    out.append(l + r)
                    j += 2
                else:
                    out.append(s[j])
                    j += 1
            words[wi] = (out, n)
    base = sorted({c for w, _ in rows for c in w})
    vocab, seen = [], set()
    for piece in base + [l + r for l, r in merges]:
        if piece not in seen:
            seen.add(piece)
            vocab.append(piece)
    return merges, vocab


def test_bpe_merge_loop_matches_naive_randomized():
    """200 random word-count tables: the incremental loop must equal the
    recount-from-scratch reference merge-for-merge (ties, stale-index
    rewrites, early stop included)."""
    import random

    from ulp_spark.operators.vocab import bpe_merge_loop

    rng = random.Random(0xB9E)
    for trial in range(200):
        n_words = rng.randint(1, 12)
        rows = sorted({
            "".join(rng.choice("abcde") for _ in range(rng.randint(1, 8)))
            for _ in range(n_words)})
        rows = [(w, rng.randint(1, 9)) for w in rows]
        n_merges = rng.randint(0, 12)
        got = bpe_merge_loop(rows, n_merges)
        exp = _naive_bpe_train(rows, n_merges, min_count=2)
        assert got == exp, f"trial {trial}: {rows} x{n_merges}"


def test_bpe_train_first_merge_matches_top_stats(spark):
    """bpe_train's first merge must be bpe_top_merges' head row (the
    frozen-statistics view and the live loop agree at step one)."""
    from ulp_spark import fixtures
    from ulp_spark.operators import vocab

    d = fixtures.lined_docs(spark, 300)
    trained = vocab.bpe_train(d, "text", n_merges=5)
    top = vocab.bpe_top_merges(d, "text", k=1).collect()[0]
    assert "".join(trained["merges"][0]) == top["pair"]
    assert trained["n_words_trained"] == trained["n_words_total"]
    assert trained["freq_mass_kept"] == 1.0


def test_bpe_train_apply_roundtrip(spark):
    """learn -> apply: tokenizing the training words with the learned
    merges+vocab yields no unk ids, and the vocab pieces concatenate
    back to each word (token-boundary conservation)."""
    from ulp_spark import fixtures
    from ulp_spark.operators import tokenizer, vocab

    d = fixtures.lined_docs(spark, 300)
    trained = vocab.bpe_train(d, "text", n_merges=12)
    words = (vocab.word_counts(d, "text").select(
        F.col("word").alias("doc_id"), F.col("word").alias("text")))
    out = tokenizer.bpe_tokenize(
        words, "text", "doc_id", trained["merges"], trained["vocab"])
    pieces = trained["vocab"]
    for r in out.collect():
        assert all(t >= 0 for t in r.tokens), r
        assert "".join(pieces[t] for t in r.tokens) == r.doc_id


def test_bpe_train_max_words_cap_is_loud(spark, monkeypatch):
    """Capping the trained vocabulary reports exactly what was dropped."""
    from ulp_spark import fixtures
    from ulp_spark.operators import vocab

    d = fixtures.lined_docs(spark, 300)
    monkeypatch.setattr(vocab, "BPE_MAX_WORDS", 2)
    trained = vocab.bpe_train(d, "text", n_merges=3)
    assert trained["n_words_trained"] == 2
    assert trained["n_words_total"] > 2
    assert 0.0 < trained["freq_mass_kept"] < 1.0


def test_resume_position_hand_computed(spark):
    """Shards of 10/5/20 seqs, batch 4: step 0 -> shard 0 skip 0;
    step 3 (12 eaten) -> shard 1 skip 2; step 8 (32 eaten) -> 35-seq
    epoch 0, shard 2 skip 17; step 9 (36 eaten) -> epoch 1, shard 0
    skip 1; exact epoch boundary lands on shard 0 skip 0."""
    from ulp_spark.operators import sharding

    man = spark.createDataFrame(
        [(0, 10), (1, 5), (2, 20)], "shard long, n_seqs long")

    def pos(step, bs=4):
        r = sharding.resume_position(man, step, bs).collect()
        assert len(r) == 1
        return (r[0].epochs_done, r[0].resume_shard, r[0].skip_seqs,
                r[0].total_seqs)

    assert pos(0) == (0, 0, 0, 35)
    assert pos(3) == (0, 1, 2, 35)
    assert pos(8) == (0, 2, 17, 35)
    assert pos(9) == (1, 0, 1, 35)
    assert pos(35, bs=1) == (1, 0, 0, 35)
    assert pos(70, bs=1) == (2, 0, 0, 35)
    with pytest.raises(ValueError):
        sharding.resume_position(man, -1, 4)
    with pytest.raises(ValueError):
        sharding.resume_position(man, 1, 0)
    # empty manifest -> empty result
    empty = spark.createDataFrame([], "shard long, n_seqs long")
    assert sharding.resume_position(empty, 5, 4).count() == 0


def test_trim_repeated_suffix_hand_computed(spark):
    """The rewrite drops floor(L/p)*p trailing tokens, keeping ONE copy
    of the repeating block; ties go to the fundamental period; rows
    without a repeat pass through."""
    from ulp_spark.operators import tokens

    rows = [
        ("a", [1, 2, 3, 4, 3, 4, 3, 4]),   # p=2, 3 copies -> keep [1,2,3,4]
        ("b", [5, 5, 5, 5]),               # p=1 (fundamental) -> [5]
        ("c", [1, 2, 3]),                  # no repeat
        ("d", [7]),                        # single token
        ("e", [2, 9, 1, 2, 9, 1]),         # p=3, 2 copies -> [2,9,1]
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = {r.doc_id: r for r in
           tokens.trim_repeated_suffix(df).collect()}
    assert (list(got["a"].tokens_clean), got["a"].trim_tokens,
            got["a"].period) == ([1, 2, 3, 4], 4, 2)
    assert (list(got["b"].tokens_clean), got["b"].trim_tokens,
            got["b"].period) == ([5], 3, 1)
    assert (list(got["c"].tokens_clean), got["c"].trim_tokens,
            got["c"].period) == ([1, 2, 3], 0, 0)
    assert (list(got["d"].tokens_clean), got["d"].trim_tokens,
            got["d"].period) == ([7], 0, 0)
    assert (list(got["e"].tokens_clean), got["e"].trim_tokens,
            got["e"].period) == ([2, 9, 1], 3, 3)
    assert all(r.n_tok_clean == len(r.tokens_clean) for r in got.values())


def test_trim_repeated_suffix_consistent_with_detector(spark):
    """Rewrite and detector must agree: n_tok_clean == n_tok -
    trim_tokens and the same period, on the augmented fixture stream."""
    from ulp_spark import fixtures
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, 300)
    aug = seq.select(
        "doc_id",
        F.concat(
            F.col("tokens"),
            F.flatten(F.array_repeat(
                F.slice(F.col("tokens"),
                        F.greatest(F.size("tokens") - 1, F.lit(1)), 2),
                (F.col("seq_no") % 4).cast("int")))).alias("tokens"))
    det = {r.doc_id: r for r in
           tokens.repeated_suffix(aug).collect()}
    trm = {r.doc_id: r for r in
           tokens.trim_repeated_suffix(aug).collect()}
    assert set(det) == set(trm)
    for k in det:
        assert trm[k].trim_tokens == det[k].trim_tokens
        assert trm[k].period == det[k].period
        assert trm[k].n_tok_clean == det[k].n_tok - det[k].trim_tokens


def test_token_entropy_hand_computed(spark):
    import math

    from ulp_spark.operators import tokens

    df = spark.createDataFrame(
        [("a", [7, 7, 7, 7]),            # one symbol -> H = 0
         ("b", [1, 2, 3, 4]),            # uniform   -> H = ln(4)
         ("c", [5, 5, 6, 6, 6, 9])],     # 2/6, 3/6, 1/6
        "doc_id string, tokens array<int>")
    got = {r.doc_id: r for r in
           tokens.sequence_token_entropy(df).collect()}
    assert (got["a"].n_tok, got["a"].n_types, got["a"].entropy_nats) == (4, 1, 0.0)
    assert got["b"].entropy_nats == round(math.log(4), 6)
    # H = ln(6) - (2*ln2 + 3*ln3)/6, via the same micro-nat quantization
    s = 2 * round(math.log(2) * 1e6) + 3 * round(math.log(3) * 1e6)
    assert got["c"].entropy_nats == round(math.log(6) - s / 6e6, 6)
    assert got["c"].n_types == 3


def test_token_entropy_partition_invariant(spark):
    from ulp_spark.fixtures import sequences
    from ulp_spark.operators import tokens

    a = tokens.sequence_token_entropy(sequences(spark, 300, 1))
    b = tokens.sequence_token_entropy(sequences(spark, 300, 13))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_zipf_fit_hand_computed(spark):
    """An exact power law count = 1000 * rank^-1 must fit slope ~ -1 with
    r2 ~ 1; the tiny deviation comes only from the integer counts."""
    from ulp_spark.operators import tokens

    rows = []
    for t in range(1, 21):                # token t has count 1000 // t
        rows.extend([(t,)] * (1000 // t))
    df = spark.createDataFrame(rows, "t int").select(
        F.array("t").alias("tokens"))
    r = tokens.zipf_fit(df).collect()[0]
    assert r.n_types == 20
    assert abs(r.slope - (-1.0)) < 0.01
    assert r.r2 > 0.9999
    assert abs(r.intercept_nats - 6.9078) < 0.01   # ln(1000)


def test_zipf_fit_degenerate_single_type(spark):
    from ulp_spark.operators import tokens

    df = spark.createDataFrame([([3, 3, 3],)], "tokens array<int>")
    r = tokens.zipf_fit(df).collect()[0]
    assert r.n_types == 1
    assert r.slope is None and r.r2 is None  # den = 0 -> undefined, not NaN


def test_cross_source_dup_matrix_hand_computed(spark):
    from ulp_spark.operators import tokens

    df = spark.createDataFrame(
        [("a", [1, 2], "web"), ("b", [1, 2], "books"),
         ("c", [1, 2], "books"),          # same-source copy: counted once
         ("d", [3, 4], "web"), ("e", [3, 4], "code"),
         ("f", [9, 9], "web"),            # unique to web
         ("g", [1, 2], None)],            # NULL source: excluded
        "doc_id string, tokens array<int>, source string")
    got = {(r.source_a, r.source_b): r.n_shared_fps
           for r in tokens.cross_source_dup_matrix(df).collect()}
    assert got == {("books", "web"): 1, ("code", "web"): 1}


def test_contamination_frac_hand_computed(spark):
    """GRAM=8 windows: train row 'x' shares 2 of its 3 windows with eval;
    'y' shares none; 'z' is too short for any window (frac = 0.0)."""
    from ulp_spark.operators import tokens

    assert tokens.GRAM == 8
    df = spark.createDataFrame(
        [("e1", list(range(1, 10)), "eval"),    # eval: (1..8), (2..9)
         ("x", list(range(1, 10)) + [99], "train"),  # 3 windows -> 2/3
         ("y", list(range(70, 80)), "train"),
         ("z", [5], "train")],
        "doc_id string, tokens array<int>, source string")
    got = {r.doc_id: r for r in tokens.contamination_coverage(
        df, "tokens", "doc_id", F.col("source") == "eval").collect()}
    assert set(got) == {"x", "y", "z"}
    assert (got["x"].n_windows, got["x"].n_contaminated) == (3, 2)
    assert got["x"].contamination_frac == round(2 / 3, 6)
    assert (got["y"].n_contaminated, got["y"].contamination_frac) == (0, 0.0)
    assert (got["z"].n_windows, got["z"].contamination_frac) == (0, 0.0)


def test_vocab_growth_hand_computed(spark):
    """doc order a,b,c -> token stream [0..999][7 x 8999, 5000]
    [1000..1499]; first-seen positions: t -> t for t < 1000, 5000 ->
    9999, 1000 + i -> 10000 + i.  GROWTH_CHECKPOINTS count the types first
    seen before 1k, 10k, 100k, 1M and 3M tokens."""
    from ulp_spark.operators import tokens

    assert tokens.GROWTH_CHECKPOINTS == (
        1_000, 10_000, 100_000, 1_000_000, 3_000_000)
    df = spark.createDataFrame(
        [("a", list(range(1000))), ("c", list(range(1000, 1500))),
         ("b", [7] * 8999 + [5000])],
        "doc_id string, tokens array<int>")
    got = {r.checkpoint: r.n_types for r in tokens.vocab_growth(df).collect()}
    assert got == {1_000: 1000, 10_000: 1001, 100_000: 1501,
                   1_000_000: 1501, 3_000_000: 1501}


def test_vocab_growth_partition_invariant(spark):
    from ulp_spark.fixtures import sequences
    from ulp_spark.operators import tokens

    a = tokens.vocab_growth(sequences(spark, 200, 1))
    b = tokens.vocab_growth(sequences(spark, 200, 7))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_sequence_minhash_identical_and_near(spark):
    from ulp_spark.operators import tokens

    base = list(range(100, 150))          # 50 tokens -> 43 windows
    near = base[:-1] + [999]              # one-token edit
    other = list(range(5000, 5050))
    df = spark.createDataFrame(
        [("a", base), ("b", base), ("c", near), ("d", other),
         ("s1", [1, 2]), ("s2", [1, 2])],  # < k: excluded, never paired
        "doc_id string, tokens array<int>")
    pairs = {(r.id_a, r.id_b) for r in
             tokens.sequence_minhash_candidates(df).collect()}
    assert ("a", "b") in pairs            # identical always collides
    assert not any("s1" in p or "s2" in p for p in pairs)
    assert not any("d" in p for p in pairs)


def test_token_shingle_hashes_short_rows_empty(spark):
    from ulp_spark.operators import tokens

    df = spark.createDataFrame(
        [("a", [1, 2, 3]), ("b", list(range(8)))],
        "doc_id string, tokens array<int>")
    got = {r.doc_id: r.n for r in df.select(
        "doc_id",
        F.size(tokens.token_shingle_hashes(F.col("tokens"))).alias("n"),
    ).collect()}
    assert got == {"a": 0, "b": 1}


def test_curriculum_stages_hand_computed(spark):
    from ulp_spark.operators import tokens

    df = spark.createDataFrame(
        [("a", 30), ("b", 10), ("c", 20), ("d", -5), ("e", 10), ("f", 40)],
        "doc_id string, score int")
    got = {r.doc_id: (r.curriculum_rank, r.stage) for r in
           tokens.curriculum_stages(df, "score", "doc_id", 3).collect()}
    # ascending order: d(-5) b(10) e(10) c(20) a(30) f(40); tie b<e by id
    assert got == {"d": (0, 0), "b": (1, 0), "e": (2, 1),
                   "c": (3, 1), "a": (4, 2), "f": (5, 2)}


def test_curriculum_stages_partition_invariant_and_validation(spark):
    from ulp_spark.fixtures import sequences
    from ulp_spark.operators import tokens

    a = tokens.curriculum_stages(
        sequences(spark, 300, 1).select("doc_id", "n_tok"),
        "n_tok", "doc_id", 5)
    b = tokens.curriculum_stages(
        sequences(spark, 300, 11).select("doc_id", "n_tok"),
        "n_tok", "doc_id", 5)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    with pytest.raises(ValueError):
        tokens.curriculum_stages(sequences(spark, 10), "n_tok", "doc_id", 0)


def test_apply_mixing_plan_reconstructs_budget(spark):
    """The materialized epoch's token mass per source must equal the
    plan's full-epoch mass plus a tail within binomial range, and
    unconditional copies must appear for EVERY sequence."""
    from ulp_spark.fixtures import sequences
    from ulp_spark.operators import tokens

    seq = sequences(spark, 1_000)
    plan = {r.source: r for r in tokens.source_mixing_plan(
        seq, budget=tokens.MIX_BUDGET).collect()}
    mixed = tokens.apply_mixing_plan(seq)
    per = mixed.groupBy("source", "doc_id").count()
    counts = {(r.source, r.doc_id): r["count"] for r in per.collect()}
    n_rows = {s: 0 for s in plan}
    for r in seq.select("doc_id", "source").collect():
        s = r.source if r.source is not None else "__null__"
        n_rows[s] += 1
        p = plan[s]
        c = counts.get((s, r.doc_id), 0)
        assert c in (p.n_epochs, p.n_epochs + 1)
    # tail admission rate ~ tail_frac per source (loose 3-sigma band)
    tails = {s: 0 for s in plan}
    for (s, _d), c in counts.items():
        tails[s] += c - plan[s].n_epochs
    for s, p in plan.items():
        n = n_rows[s]
        sd = (n * p.tail_frac * (1 - p.tail_frac)) ** 0.5
        assert abs(tails[s] - n * p.tail_frac) <= 3 * sd + 1


def test_apply_mixing_plan_partition_invariant(spark):
    from ulp_spark.fixtures import sequences
    from ulp_spark.operators import tokens

    a = tokens.apply_mixing_plan(sequences(spark, 400, 1))
    b = tokens.apply_mixing_plan(sequences(spark, 400, 9))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_sequence_dedup_groups_verify_kills_false_positives(spark):
    """a/b identical and c a one-token edit -> one cluster with canonical
    min id; d/e share NO windows but are forced into one LSH bucket via
    identical empty... instead: verify stage must drop a candidate pair
    whose true window Jaccard is below threshold (x shares exactly one
    window with a: jaccard ~ 1/85 << 0.8)."""
    from ulp_spark.operators import tokens

    base = list(range(100, 150))
    near = base[:-1] + [999]
    # x: shares base's first window only, rest disjoint
    x = base[:8] + list(range(9000, 9080))
    df = spark.createDataFrame(
        [("a", base), ("b", base), ("c", near), ("x", x)],
        "doc_id string, tokens array<int>")
    got = {r.doc_id: r.comp_id for r in
           tokens.sequence_dedup_groups(df).collect()}
    assert got.get("a") == "a" and got.get("b") == "a"
    assert "x" not in got or got["x"] == "x"  # never welded into a's cluster
    if "c" in got:
        assert got["c"] == "a"


def test_apply_mixing_plan_no_corpus_shuffle_plan(spark):
    """Plan pin: executing the mixing plan is a map-only stage over the
    corpus — the ONLY exchanges feed the |sources|-row plan aggregate
    and its broadcast; the corpus side must show no hash repartition."""
    from ulp_spark.fixtures import sequences
    from ulp_spark.operators import tokens

    out = tokens.apply_mixing_plan(sequences(spark, 500))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan          # the plan side
    # corpus side: a BroadcastHashJoin, never a SortMergeJoin/shuffle join
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_contamination_coverage_single_corpus_shuffle(spark):
    """Plan pin: eval grams broadcast; the train side's only corpus-scale
    exchange is the per-id collapse (plus the final join-back)."""
    from ulp_spark.fixtures import sequences
    from ulp_spark.operators import tokens

    out = tokens.contamination_coverage(
        sequences(spark, 500), "tokens", "doc_id",
        F.col("source") == "wiki")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan


def test_fim_transform_invariants(spark):
    """Structure: [PRE] p [SUF] s [MID] m with the non-sentinel token
    MULTISET preserved; untouched rows pass through."""
    from collections import Counter

    from ulp_spark.fixtures import sequences
    from ulp_spark.operators import tokens

    seq = sequences(spark, 300).select("doc_id", "tokens")
    orig = {r.doc_id: list(r.tokens) for r in seq.collect()}
    out = tokens.fim_transform(seq)
    n_fim = 0
    for r in out.collect():
        t = list(r.tokens_fim)
        if r.is_fim:
            n_fim += 1
            assert t[0] == tokens.FIM_PRE_ID
            assert r.n_tok_fim == len(orig[r.doc_id]) + 3
            i_suf = t.index(tokens.FIM_SUF_ID)
            i_mid = t.index(tokens.FIM_MID_ID)
            assert 0 < i_suf < i_mid
            body = t[1:i_suf] + t[i_mid + 1:] + t[i_suf + 1:i_mid]
            assert Counter(body) == Counter(orig[r.doc_id])
        else:
            assert t == orig[r.doc_id]
    assert tokens.FIM_RATE == 0.5
    assert 100 < n_fim < 200  # rate 0.5 over 300 rows, loose band


def test_fim_transform_partition_invariant_no_shuffle(spark):
    from ulp_spark.fixtures import sequences
    from ulp_spark.operators import tokens

    a = tokens.fim_transform(sequences(spark, 250, 1))
    b = tokens.fim_transform(sequences(spark, 250, 13))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_span_corruption_invariants(spark):
    """T5 layout: inputs replace corrupted block i with sentinel base+i,
    targets = [sentinel_i, block...] per span + closing sentinel; the
    non-sentinel multiset over inputs+targets equals the original
    tokens; rate 0/1 edges and validation."""
    from collections import Counter

    from ulp_spark.fixtures import sequences
    from ulp_spark.operators import tokens

    BASE = tokens.UL2_SENTINEL
    seq = sequences(spark, 300).select("doc_id", "tokens")
    orig = {r.doc_id: list(r.tokens) for r in seq.collect()}
    out = tokens.span_corruption(seq, rate=0.15, span_len=3)
    n_spans_total = 0
    for r in out.collect():
        inp, tgt = list(r.inputs), list(r.targets)
        ns = r.n_spans
        n_spans_total += ns
        body = [t for t in inp if t < BASE] + [t for t in tgt if t < BASE]
        assert Counter(body) == Counter(orig[r.doc_id])
        # sentinels in inputs are exactly base..base+ns-1 in order
        assert [t for t in inp if t >= BASE] == [BASE + i for i in range(ns)]
        # targets: per-span sentinel prefix + closing sentinel base+ns
        assert [t for t in tgt if t >= BASE] \
            == [BASE + i for i in range(ns + 1)]
        assert tgt[-1] == BASE + ns
        # spans between consecutive sentinels hold 1..span_len tokens
        sent_pos = [i for i, t in enumerate(tgt) if t >= BASE]
        for j in range(len(sent_pos) - 1):
            gap = sent_pos[j + 1] - sent_pos[j] - 1
            assert 1 <= gap <= 3
    assert n_spans_total > 0
    none = tokens.span_corruption(seq, rate=0.0)
    assert none.filter("n_spans > 0").count() == 0
    # rate 0: inputs == original tokens
    for r in none.collect():
        assert list(r.inputs) == orig[r.doc_id]
        assert list(r.targets) == [BASE]
    full = tokens.span_corruption(seq, rate=1.0, span_len=4)
    # every block corrupted: inputs are all sentinels
    for r in full.limit(20).collect():
        assert all(t >= BASE for t in r.inputs)
        assert r.n_spans == (len(orig[r.doc_id]) + 3) // 4
    with pytest.raises(ValueError):
        tokens.span_corruption(seq, rate=-0.1)
    with pytest.raises(ValueError):
        tokens.span_corruption(seq, span_len=0)


def test_span_corruption_partition_invariant_no_shuffle(spark):
    from ulp_spark.fixtures import sequences
    from ulp_spark.operators import tokens

    a = tokens.span_corruption(sequences(spark, 250, 1))
    b = tokens.span_corruption(sequences(spark, 250, 13))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_dsir_importance_direction_and_edges(spark):
    """Target-like docs must outscore non-target docs on average; empty
    text rows come back with n_feats 0 / weight 1.0; the trained lambda
    table stays bounded by dim."""
    from ulp_spark.operators import classifier

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.unionByName(
        spark.createDataFrame([(99990, None, "xx", "none", 0)],
                              schema=docs.schema))
    tgt = docs.filter("lang = 'en'")
    out = classifier.dsir_importance(docs, "text", "doc_id", tgt).collect()
    assert len(out) == docs.count()
    by_id = {r.doc_id: r for r in out}
    en = {r.doc_id for r in docs.filter("lang = 'en'").collect()}
    import statistics
    mean_en = statistics.mean(
        r.logratio_micro for r in out if r.doc_id in en)
    mean_other = statistics.mean(
        r.logratio_micro for r in out
        if r.doc_id not in en and r.n_feats > 0)
    assert mean_en > mean_other
    empty = by_id[99990]
    assert empty.n_feats == 0 and empty.logratio_micro == 0 \
        and empty.weight == 1.0


def test_dsir_importance_partition_invariant(spark):
    from ulp_spark.operators import classifier

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tgt = docs.filter("lang = 'en'")
    a = classifier.dsir_importance(
        docs.repartition(1), "text", "doc_id", tgt)
    b = classifier.dsir_importance(
        docs.repartition(13), "text", "doc_id", tgt)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_dsir_importance_target_needs_only_text(spark):
    """The target corpus contributes bucket counts only, so a target
    frame carrying just its text column gives the same weights."""
    from ulp_spark.operators import classifier

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat", "en"),
         (2, "der hund und die katze", "de"),
         (3, "the dog and the cat", "en"), (4, "", "en"), (5, None, "de")],
        "doc_id long, text string, lang string")
    tgt = docs.filter("lang = 'en'")
    full = classifier.dsir_importance(docs, "text", "doc_id", tgt)
    text_only = classifier.dsir_importance(
        docs, "text", "doc_id", tgt.select("text"))
    assert sorted(map(tuple, text_only.collect())) == \
        sorted(map(tuple, full.collect()))


def test_source_js_divergence_hand_case(spark):
    """Hand-computable 2-source case + identical-distribution zero +
    disjoint-vocab pair = ln 2; null source rides '__null__'."""
    import math

    from ulp_spark.operators import tokens

    rows = [
        ("a1", [1, 1, 2], "A"),
        ("b1", [1, 2, 2], "B"),
        ("c1", [9, 9, 9], "C"),
        ("n1", [1, 2], None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, source string")
    got = {(r.source_a, r.source_b): r for r in
           tokens.source_js_divergence(df).collect()}
    assert len(got) == 6  # C(4,2) incl. __null__
    # A vs B: p = (2/3, 1/3), q = (1/3, 2/3) over tokens {1,2}
    p, q = [2 / 3, 1 / 3], [1 / 3, 2 / 3]
    js = sum(0.5 * (pi * math.log(2 * pi / (pi + qi))
                    + qi * math.log(2 * qi / (pi + qi)))
             for pi, qi in zip(p, q))
    ab = got[("A", "B")]
    assert abs(ab.js_nats - js) < 2e-6 and ab.n_common_types == 2
    # A vs C: disjoint vocab -> exactly ln 2 (in micro-nats)
    ac = got[("A", "C")]
    assert ac.n_common_types == 0
    assert ac.js_micro == round(1e6 * math.log(2.0))
    # __null__ vs A present
    assert ("A", "__null__") in got
    # identical distributions -> 0
    df2 = spark.createDataFrame(
        [("x", [1, 2, 3], "X"), ("y", [1, 2, 3], "Y")],
        "doc_id string, tokens array<int>, source string")
    xy = tokens.source_js_divergence(df2).collect()[0]
    assert xy.js_micro == 0 and xy.n_common_types == 3


def test_source_js_divergence_partition_invariant(spark):
    from ulp_spark.fixtures import sequences
    from ulp_spark.operators import tokens

    a = tokens.source_js_divergence(sequences(spark, 800, 2))
    b = tokens.source_js_divergence(sequences(spark, 800, 11))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_denoiser_mix_modes_and_invariants(spark):
    """UL2 R/X/S routing: each row lands in exactly one mode, the mode
    token leads the inputs, S rows have the prefix-LM layout, and the
    non-sentinel multiset is preserved in every mode."""
    from collections import Counter

    from ulp_spark.fixtures import sequences
    from ulp_spark.operators import tokens

    BASE, R, X, S = 51000, 52000, 52001, 52002
    seq = sequences(spark, 300).select("doc_id", "tokens")
    orig = {r.doc_id: list(r.tokens) for r in seq.collect()}
    rows = tokens.denoiser_mix(seq).collect()
    assert len(rows) == 300  # every row exactly once
    modes = Counter(r.mode for r in rows)
    assert set(modes) == {"R", "X", "S"} and min(modes.values()) > 50
    for r in rows:
        inp, tgt = list(r.inputs), list(r.targets)
        body = [t for t in inp + tgt if t < BASE]
        assert Counter(body) == Counter(orig[r.doc_id])
        if r.mode == "R":
            assert inp[0] == R
        elif r.mode == "X":
            assert inp[0] == X
        else:
            assert inp[0] == S and r.n_spans == 1
            # prefix-LM: [S] prefix [sent] / [sent] suffix
            assert inp[-1] == BASE and tgt[0] == BASE
            assert inp[1:-1] + tgt[1:] == orig[r.doc_id]


def test_denoiser_mix_partition_invariant(spark):
    from ulp_spark.fixtures import sequences
    from ulp_spark.operators import tokens

    a = tokens.denoiser_mix(sequences(spark, 200, 1))
    b = tokens.denoiser_mix(sequences(spark, 200, 7))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_fertility_stats_hand_case_and_unk(spark):
    """Hand-computable fertility over a tiny vocab, incl. an UNK-heavy
    source and a null source riding '__null__'."""
    from ulp_spark.operators import tokenizer

    docs = spark.createDataFrame(
        [(1, "ab ab", "clean"), (2, "ab 99", "noisy"), (3, "ab", None)],
        "doc_id int, text string, source string")
    tok = tokenizer.tokenize(docs, "text", "doc_id", ["ab", " ", "9"])
    out = {r.source: r for r in
           tokenizer.fertility_stats(docs, tok).collect()}
    c = out["clean"]  # "ab ab" -> [ab,' ',ab]: 3 toks, 5 chars, 2 words
    assert (c.n_docs, c.n_tokens, c.n_unk, c.n_chars, c.n_words) \
        == (1, 3, 0, 5, 2)
    assert c.chars_per_token == round(5 / 3, 6)
    assert c.tokens_per_word == 1.5 and c.unk_frac == 0.0
    n = out["noisy"]  # "ab 99" -> [ab,' ','9','9']: 4 toks, 0 unk
    assert n.n_tokens == 4 and n.unk_frac == 0.0
    assert "__null__" in out
    # now an actually-unknown char
    docs2 = spark.createDataFrame([(1, "abz", "s")],
                                  "doc_id int, text string, source string")
    tok2 = tokenizer.tokenize(docs2, "text", "doc_id", ["ab"])
    r2 = tokenizer.fertility_stats(docs2, tok2).collect()[0]
    assert r2.n_tokens == 2 and r2.n_unk == 1 and r2.unk_frac == 0.5


def test_dsir_sample_prefers_target_like_docs(spark):
    """The resampling composition: sampled docs skew toward the target
    domain relative to the raw corpus base rate."""
    from ulp_spark.operators import classifier, sampling

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w = classifier.dsir_importance(
        docs, "text", "doc_id", docs.filter("lang = 'en'"))
    sampled = sampling.weighted_sample(w, "weight", "doc_id", k=60,
                                       seed="t")
    ids = [r.doc_id for r in sampled.collect()]
    assert len(ids) == 60
    en = {r.doc_id for r in docs.filter("lang = 'en'").collect()}
    frac_sampled = sum(1 for i in ids if i in en) / len(ids)
    frac_base = len(en) / docs.count()
    assert frac_sampled > frac_base


# --------------------------------------------------------------------------
# wave-5b: gram novelty, packed segments, Gopher rules
# --------------------------------------------------------------------------

def test_gram_novelty_first_occurrence_wins(spark):
    from ulp_spark.operators import tokens

    rows = [
        ("a", list(range(10))),            # arrives first: fully novel
        ("b", list(range(10))),            # exact repeat: zero novelty
        ("c", list(range(5, 15))),         # overlaps a's tail windows
        ("d", [1, 2, 3]),                  # shorter than k=8: omitted
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = {r.doc_id: r for r in
           tokens.gram_novelty(df, "tokens", "doc_id").collect()}
    assert set(got) == {"a", "b", "c"}
    assert got["a"].novel_frac == 1.0 and got["a"].n_grams == 3
    assert got["b"].novel_frac == 0.0
    # c has windows 5..12, 6..13, 7..14; none equal a's 0..7/1..8/2..9
    assert got["c"].novel_frac == 1.0


def test_gram_novelty_partition_invariant(spark):
    from ulp_spark import fixtures
    from ulp_spark.operators import tokens

    a = tokens.gram_novelty(
        fixtures.sequences(spark, 300, partitions=1), "tokens", "doc_id")
    b = tokens.gram_novelty(
        fixtures.sequences(spark, 300, partitions=13), "tokens", "doc_id")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pack_segments_invariants(spark):
    from ulp_spark import fixtures
    from ulp_spark.operators import packing
    from ulp_spark.operators.sampling import hash_bucket

    seq = fixtures.sequences(spark, 200)
    pk = seq.select("doc_id",
                    hash_bucket(F.col("doc_id"), 8).alias("bin_id"))
    out = packing.pack_segments(
        packing.pack_sequences(seq, pk)).collect()
    assert len(out) == 8
    for r in out:
        n = len(r.tokens)
        assert len(r.segment_ids) == n and len(r.pos_in_doc) == n
        # segment ids are a nondecreasing cover of 0..n_docs-1
        assert r.segment_ids[0] == 0 and r.segment_ids[-1] == r.n_docs - 1
        assert all(b - a in (0, 1) for a, b in
                   zip(r.segment_ids, r.segment_ids[1:]))
        # positions restart at 0 exactly at each doc_start
        for s_idx, start in enumerate(r.doc_starts):
            assert r.pos_in_doc[start] == 0
            assert r.segment_ids[start] == s_idx
        # within a segment positions increment by 1
        assert all((p2 == p1 + 1) or p2 == 0 for p1, p2 in
                   zip(r.pos_in_doc, r.pos_in_doc[1:]))


def test_pack_segments_empty_doc_guard(spark):
    from ulp_spark.operators import packing

    df = spark.createDataFrame(
        [(0, [1, 2, 3, 4], [0, 2, 2])],
        "bin_id int, tokens array<int>, doc_starts array<int>")
    r = packing.pack_segments(df).collect()[0]
    # middle doc is empty: its segment contributes no positions,
    # segment ids jump 0 -> 2 across the boundary
    assert r.segment_ids == [0, 0, 2, 2]
    assert r.pos_in_doc == [0, 1, 0, 1]


def test_gopher_rules_each_rule_fires(spark):
    from ulp_spark.operators import curation

    passing = ("the cat sat on the mat and it is a fine day to be out "
               "in the sun with friends enjoying wonderful evenings "
               "together outside ") * 4    # 96 words, mean word len 3.75
    docs = [
        ("ok", passing),
        ("null", None),
        ("short", "the and of it"),                     # word count
        ("symbols", "the and " + "# " * 60),            # symbol ratio
        ("bullets", "\n".join("- the and of it is in that it x y z a b"
                              for _ in range(10))),     # bullet frac
        ("ellipsis", "\n".join("the and of to is in that it keeps going..."
                               for _ in range(10))),    # ellipsis frac
        ("numeric", "the and " + "12345 " * 60),        # alpha frac
        ("nostop", "word " * 60),                       # stopwords
        ("longwords", "extraordinarily " * 60),         # mean word length
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {r.doc_id: r for r in
           curation.gopher_rules(df, "text", "doc_id").collect()}
    assert got["ok"].gopher_pass
    assert not got["null"].r_word_count
    assert not got["short"].r_word_count
    assert not got["symbols"].r_symbol
    assert not got["bullets"].r_bullet
    assert not got["ellipsis"].r_ellipsis
    assert not got["numeric"].r_alpha
    assert not got["nostop"].r_stopwords
    assert not got["longwords"].r_mean_word_len
    for k in got:
        if k != "ok":
            assert not got[k].gopher_pass, k


def test_gopher_rules_alpha_counts_unicode_letters(spark):
    """A word is alphabetic when it holds ANY Unicode letter, on both
    engines: accented Latin and CJK words count, digit-only words do
    not."""
    from ulp_spark.operators import curation

    docs = [("mixed", "café naïve 日本語 123"), ("upper", "Über CAFÉ 42")]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {r.doc_id: r for r in
           curation.gopher_rules(df, "text", "doc_id").collect()}
    assert got["mixed"].alpha_frac == 0.75        # 3 of 4 words
    assert got["upper"].alpha_frac == pytest.approx(2 / 3, abs=1e-6)
    con = duckdb.connect()
    con.execute("CREATE TABLE d AS SELECT * FROM (VALUES "
                "('mixed', 'café naïve 日本語 123'), "
                "('upper', 'Über CAFÉ 42')) t(doc_id, text)")
    want = {r[0]: tuple(r) for r in con.sql(
        curation.gopher_rules_sql("d", "text", "doc_id")).fetchall()}
    assert {k: tuple(r) for k, r in got.items()} == want


def test_connected_components_scrambled_path(spark, monkeypatch):
    """Region-chain regression: a PATH whose ids are md5-scrambled has
    ~n/3 local-min regions, the structure where min-label propagation
    moves the global min one region per round; the alternating-star
    algorithm must close it within MAX_ROUNDS.  Every pin carries real
    size stats: a pin's estimated size multiplying round over round
    (19 to 25 digits here without the persist) is what once wedged
    Catalyst's stats arithmetic."""
    from ulp_spark.operators.dedup import connected_components
    from ulp_spark.session import seam

    pins = []

    def recording_seam(df, eager=False):
        out = seam(df, eager=eager)
        if eager:
            pins.append(out)
        return out

    monkeypatch.setattr(dedup, "seam", recording_seam)
    n = 800
    base = spark.range(n).select(
        F.md5(F.col("id").cast("string")).alias("sid"), F.col("id"))
    order = {r.id: r.sid for r in base.collect()}
    edges = spark.createDataFrame(
        [(order[i], order[i + 1]) for i in range(n - 1)],
        "id_a string, id_b string")
    cc = connected_components(edges).collect()
    assert len(cc) == n
    root = min(order.values())
    assert {r.comp_id for r in cc} == {root}
    sizes = [int(str(p._jdf.queryExecution().optimizedPlan().stats()
                     .sizeInBytes())) for p in pins]
    assert len(sizes) > 2 and max(sizes) < 10**12, sizes


def test_connected_components_keeps_self_pair_nodes(spark):
    from ulp_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("c", "c")], "id_a string, id_b string")
    got = {r.id: r.comp_id for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_pack_segments_no_docs_row(spark):
    from ulp_spark.operators import packing

    df = spark.createDataFrame(
        [(0, [], [])],
        "bin_id int, tokens array<int>, doc_starts array<int>")
    r = packing.pack_segments(df).collect()[0]
    assert r.segment_ids == [] and r.pos_in_doc == []


def test_clean_lines_vertical_tab_parity(spark):
    """Java \\s includes \\x0B, RE2's does not — the word-count rule must
    ride SPLIT_WS on both engines (review r5).  A 2-word line welded by
    a vertical tab stays 3 words on BOTH engines."""
    import duckdb
    from ulp_spark.operators import curation

    text = "one\x0btwo three.\nshort."
    df = spark.createDataFrame([("d1", text)], "doc_id string, text string")
    got = curation.clean_lines(df, "text", "doc_id").collect()[0]
    con = duckdb.connect()
    lit = text.replace("\x0b", "' || chr(11) || '").replace("\n", "' || chr(10) || '")
    sql = curation.clean_lines_sql(
        f"(SELECT 'd1' AS doc_id, '{lit}' AS text)", "text", "doc_id")
    exp = con.sql(sql).fetchall()[0]
    assert got.text_clean == "one\x0btwo three."
    assert (got.text_clean, got.n_lines, got.n_kept, got.keep_doc) == \
        tuple(exp[1:])
