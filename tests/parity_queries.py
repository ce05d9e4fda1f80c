"""Parity cases for operators that production runs but no driver query
covers: each query runs against its DuckDB twin in test_entry_parity.py,
with the same rows + schema + values compare as the driver queries.
Table-backed queries read the sf parquet tables; fixture-backed ones
regenerate their rows inside the oracle SQL, as in __spark_entry__.py."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from __spark_entry__ import _STRAT_RATES, N_FIXTURE, _docs, _routed_cte
from ulp_spark import fixtures
from ulp_spark.functions import sanitize, sniff, sqltext
from ulp_spark.operators import (curation, dedup, lattice, similarity,
                                 textstats, tokens)
from ulp_spark.operators import vocab as _vocab
from ulp_spark.plans import pipeline
from ulp_spark.session import local_frame


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_routed_tokens_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level token-payload invariant, SQL-comparable form: per routed row
    the first/last token and the full-array sum (elementwise-sensitive)."""
    p = pipeline.build(spark, n=N_FIXTURE)
    t = F.col("tokens")
    return p.routed_tokens.select(
        "doc_id", "route", "n_tok",
        F.element_at(t, 1).alias("tok_first"),
        F.element_at(t, -1).alias("tok_last"),
        F.aggregate(t, F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x.cast("bigint")).alias("tok_sum"),
    )


def _q_sanitize_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.selectExpr(
            sanitize.sanitize_sink_name(
                f"concat({sqltext.lit('Sink/')}, event_type,"
                f" {sqltext.lit(' V1')})") + " AS sink_name"
        )
        .groupBy("sink_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _q_doc_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    sig = dedup.minhash_signature(dedup.shingle_hashes(F.col("text")))
    return d.select("doc_id", *sig[:4])


def _q_doc_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-collision candidates, oracle-gated by the DuckDB band
    self-join twin (dedup.minhash_candidates_sql)."""
    d = _docs(spark, sf_dir)
    return dedup.minhash_candidates(d, "text", "doc_id")


def _q_doc_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the minhash candidate
    pairs; comp_id = canonical (min) doc_id per cluster. Spark side is
    the alternating large-star/small-star edge rewrite (converged fixed
    point); oracle is the exact recursive-CTE transitive closure — both
    yield the unique min-id-per-component labeling."""
    pairs = dedup.minhash_candidates(_docs(spark, sf_dir), "text", "doc_id")
    cc = dedup.connected_components(pairs)
    return cc.select(F.col("id").alias("doc_id"), "comp_id")


def _q_emb_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embs(spark, sf_dir)
    sig = similarity.srp_signature(F.col("embedding"), dim=64)
    return e.select(sig.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"))


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    n_tok = F.size(curation.word_tokens(F.col("text")))
    feats = textstats.quality_features(F.col("text"), n_tok)
    return d.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        textstats.quality_score(F.col("text"), n_tok).alias("quality_score"),
    )


def _q_bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 20 greedy BPE merge candidates: adjacent-char-pair counts
    weighted by word frequency, computed at vocabulary scale."""
    return _vocab.bpe_top_merges(_docs(spark, sf_dir), "text", k=20)


def _q_events_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ulp_spark.functions import fields as fields_fn

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id", fields_fn.json_path(F.col("props"), "k").alias("k_str"))


def _q_emb_bucket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding near-dup machinery (SRP bucket -> bounded pair join ->
    exact cosine), thresholded low so the fixture yields non-trivial pairs."""
    e = _embs(spark, sf_dir)
    return similarity.embedding_near_dup(
        e, "embedding", "vec_id", dim=64, threshold=0.1)


def _q_events_nested_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-tree recursive lattice end-to-end (A1 on nested records): mixed
    object/list/scalar JSON folded by lattice.json_tree_schema — exercising
    Object⊔List index-stringification (type_casting/src/lib.rs:69-86) and
    List⊔scalar index-0 fold (lib.rs:88-97) — flattened to leaf rows."""
    from ulp_spark import oracle as _oracle

    df = fixtures.nested_json(spark, N_FIXTURE)
    tree = lattice.json_tree_schema(df, "doc")
    paths = _oracle.tree_to_paths(tree)
    return local_frame(spark, sorted(paths.items()), "path string, type_code int")


def _q_emb_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer cell histogram (assignment parity check)."""
    e = _embs(spark, sf_dir)
    cents = similarity.ivf_centroids(e, "embedding", "vec_id", k=8)
    return (
        e.select(similarity.ivf_assign(F.col("embedding"), cents,
                                       similarity.norm(F.col("embedding")))
                 .alias("cell"))
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _q_emb_ivf_cells_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell histogram after ONE Lloyd iteration (train -> assign):
    centroids recomputed as per-cell dimension means, deterministically."""
    e = _embs(spark, sf_dir)
    cents = similarity.ivf_centroids_trained(
        e, "embedding", "vec_id", k=8, rounds=1)
    return (
        e.select(similarity.ivf_assign(F.col("embedding"), cents,
                                       similarity.norm(F.col("embedding")))
                 .alias("cell"))
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _q_seq_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest over the input_hint table: shard id from
    the distributed prefix sum (same two-phase machinery as packing),
    one row per shard with sequence/token counts and doc range."""
    from ulp_spark.operators import sharding

    seq = fixtures.sequences(spark, N_FIXTURE).select("doc_id", "n_tok")
    return sharding.shard_manifest(seq, shard_tokens=1 << 18)


def _q_seq_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (XLM-R exponentiated sampling,
    alpha=0.5) over the input_hint table: per-source natural share,
    temperature share, up-weight, and a 1M-token budget allocation.
    One aggregate to |sources| rows; normalizer is a 1-row broadcast."""
    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.source_temperature_weights(seq, budget=1_000_000)


def _q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate-n-gram signals, per doc (zero shuffle;
    staged projections — see curation.repetition_stats docstring)."""
    return curation.repetition_stats(_docs(spark, sf_dir), "text", "doc_id")


def _q_doc_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style passage dedup: per-doc duplicated-chunk fraction vs the
    whole corpus (default ``via="join"``: the seamed passage table's
    count > 1 hash set joined back, then a per-doc aggregate)."""
    return curation.passage_dup_stats(_docs(spark, sf_dir), "text", "doc_id")


def _q_events_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a derived per-event log line (email + IPv4 rules,
    pure regexp_replace — the enrich stage's redaction pass)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    line = F.concat(
        F.col("event_type"), F.lit(" u"), F.col("user_id").cast("string"),
        F.lit("@example.com from 10."), (F.col("user_id") % 256).cast("string"),
        F.lit("."), (F.col("event_id") % 256).cast("string"), F.lit(".7"))
    red, counts = curation.redact(line)
    return ev.select(
        "event_id", red.alias("redacted"),
        *[c.cast("bigint").alias(f"n_{k}") for k, c in counts.items()])


def _q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling: kept counts per stratum
    (hash-bucket predicate — a pure scan filter at any scale)."""
    from ulp_spark.operators import sampling

    d = _docs(spark, sf_dir)
    keep = sampling.stratified_keep(F.col("doc_id"), F.col("lang"), _STRAT_RATES)
    return (
        d.withColumn("kept", keep)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_total"),
             F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_kept"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pipeline_routed_tokens_proof": _q_routed_tokens_proof,
        "sanitize_event_types": _q_sanitize_event_types,
        "doc_minhash": _q_doc_minhash,
        "doc_minhash_candidates": _q_doc_minhash_candidates,
        "doc_dedup_groups": _q_doc_dedup_groups,
        "bpe_top_merges": _q_bpe_top_merges,
        "emb_srp_buckets": _q_emb_srp_buckets,
        "text_quality": _q_text_quality,
        "events_json_path": _q_events_json_path,
        "emb_bucket_pairs": _q_emb_bucket_pairs,
        "seq_shard_manifest": _q_seq_shard_manifest,
        "seq_temperature_mix": _q_seq_temperature_mix,
        "events_nested_schema": _q_events_nested_schema,
        "emb_ivf_cells": _q_emb_ivf_cells,
        "emb_ivf_cells_trained": _q_emb_ivf_cells_trained,
        "text_repetition": _q_text_repetition,
        "doc_passage_dedup": _q_doc_passage_dedup,
        "events_pii_redact": _q_events_pii_redact,
        "doc_stratified_sample": _q_doc_stratified_sample,
    }


def _shard_manifest_sql() -> str:
    from ulp_spark.operators import sharding

    # doc_id/n_tok regenerated without the tokens list (same reason as
    # _packing_sql: this DuckDB build rejects list comprehensions nested
    # inside CTEs); identical rows to fixtures.sequences_sql.
    seqtab = (
        f"(SELECT printf('doc-%08d', i) AS doc_id, "
        f"CAST((i*7919) % {fixtures.MAX_TOKENS} + 1 AS INTEGER) AS n_tok "
        f"FROM range(0, {N_FIXTURE}) t(i))"
    )
    return sharding.shard_manifest_sql(seqtab, shard_tokens=1 << 18)


def _temperature_mix_sql() -> str:
    return tokens.source_temperature_weights_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})", budget=1_000_000)


def _nested_schema_oracle() -> str:
    """DuckDB twin of the recursive-lattice query.  The fixture's merged
    STRUCTURE is fixed by its two shapes (the reference's structural rules,
    encoded per leaf below); each leaf's scalar code is independently
    recomputed from the data via runtime-typed masks:

    * ``a``: Object⊔List stringifies list indices into the object's keys
      (lib.rs:69-86) -> leaf 'a.x' aggregates the object rows, leaves
      'a.0'/'a.1' aggregate the list rows;
    * ``b``: List⊔scalar folds the scalar into index 0 (lib.rs:88-97) ->
      leaf 'b.0' aggregates ALL rows (array element 0 or the bare scalar);
    * ``c``: plain scalar merge (Null identity).
    """
    def rc(jv: str) -> str:
        return sniff.json_runtime_code_sql(f"json_type({jv})", jv)

    a = "json_extract(doc, '$.a')"
    b = "json_extract(doc, '$.b')"
    ax = rc("json_extract(doc, '$.a.x')")
    a0 = rc("json_extract(doc, '$.a[0]')")
    a1 = rc("json_extract(doc, '$.a[1]')")
    b0 = rc(f"CASE WHEN json_type({b}) = 'ARRAY' "
            f"THEN json_extract(doc, '$.b[0]') ELSE {b} END")
    b1 = rc("json_extract(doc, '$.b[1]')")
    c = rc("json_extract(doc, '$.c')")
    leaves = f"""
      SELECT 'a.x' AS path, {ax} AS code FROM docs WHERE json_type({a}) = 'OBJECT'
      UNION ALL SELECT 'a.0', {a0} FROM docs WHERE json_type({a}) = 'ARRAY'
      UNION ALL SELECT 'a.1', {a1} FROM docs WHERE json_type({a}) = 'ARRAY'
      UNION ALL SELECT 'b.0', {b0} FROM docs
      UNION ALL SELECT 'b.1', {b1} FROM docs WHERE json_type({b}) = 'ARRAY'
      UNION ALL SELECT 'c', {c} FROM docs
    """
    return f"""
    WITH docs AS ({fixtures.nested_json_sql(N_FIXTURE)}),
    leaf AS ({leaves})
    SELECT path,
           CAST({sniff.resolve_mask_sql("bit_or(1::BIGINT << code)")} AS INTEGER)
             AS type_code
    FROM leaf GROUP BY path
    """


def _curation_repetition_oracle() -> str:
    sig = curation.repetition_signals_sql("text")
    cols = ", ".join(f"{v} AS {k}" for k, v in sig.items())
    return f"SELECT doc_id, {cols} FROM documents"


def _curation_passage_oracle() -> str:
    return curation.passage_dup_stats_sql("documents", "text", "doc_id")


def _curation_pii_oracle() -> str:
    line = ("(event_type || ' u' || CAST(user_id AS VARCHAR) "
            "|| '@example.com from 10.' || CAST(user_id % 256 AS VARCHAR) "
            "|| '.' || CAST(event_id % 256 AS VARCHAR) || '.7')")
    red, counts = curation.redact_sql(line)
    count_cols = ", ".join(f"{v}::BIGINT AS n_{k}" for k, v in counts.items())
    return f"SELECT event_id, {red} AS redacted, {count_cols} FROM events"


def _stratified_sample_oracle() -> str:
    from ulp_spark.operators import sampling

    keep = sampling.stratified_keep_sql("doc_id", "lang", _STRAT_RATES)
    return (f"SELECT lang, count(*)::BIGINT AS n_total, "
            f"sum(({keep})::INT)::BIGINT AS n_kept "
            f"FROM documents GROUP BY lang")


def oracle_sql() -> dict[str, str]:
    return {
        "pipeline_routed_tokens_proof": f"""
            WITH routed AS ({_routed_cte()}),
                 seq AS ({fixtures.sequences_sql(N_FIXTURE)})
            SELECT s.doc_id, r.route, s.n_tok,
                   CAST(s.tokens[1] AS INTEGER) AS tok_first,
                   CAST(s.tokens[-1] AS INTEGER) AS tok_last,
                   CAST(list_aggregate(s.tokens, 'sum') AS BIGINT) AS tok_sum
            FROM routed r JOIN seq s USING (doc_id)
            WHERE r.parser IS NOT NULL
        """,
        "sanitize_event_types": f"""
            SELECT {sanitize.sanitize_sink_name_sql(
                chr(39) + "Sink/" + chr(39) + " || event_type || ' V1'")} AS sink_name,
                   count(*)::BIGINT AS n_rows
            FROM events
            GROUP BY sink_name
        """,
        "doc_minhash": f"""
            WITH sh AS (
              SELECT doc_id, {dedup.shingle_hashes_sql('text')} AS hashes
              FROM documents
            )
            SELECT doc_id,
                   {dedup.minhash_signature_sql('hashes')[0]} AS mh_0,
                   {dedup.minhash_signature_sql('hashes')[1]} AS mh_1,
                   {dedup.minhash_signature_sql('hashes')[2]} AS mh_2,
                   {dedup.minhash_signature_sql('hashes')[3]} AS mh_3
            FROM sh
        """,
        "doc_minhash_candidates": dedup.minhash_candidates_sql(
            "documents", "text", "doc_id"),
        "doc_dedup_groups": dedup.connected_components_sql(
            dedup.minhash_candidates_sql("documents", "text", "doc_id"),
            id_alias="doc_id"),
        "bpe_top_merges": _vocab.bpe_top_merges_sql("documents", "text"),
        "emb_srp_buckets": f"""
            SELECT {similarity.srp_signature_sql('embedding::DOUBLE[]', 64)} AS bucket,
                   count(*)::BIGINT AS n_rows
            FROM embeddings GROUP BY bucket
        """,
        "text_quality": f"""
            SELECT doc_id,
                   {textstats.quality_features_sql('text')['n_tokens']} AS n_tokens,
                   {textstats.quality_features_sql('text')['punct_ratio']} AS punct_ratio,
                   {textstats.quality_features_sql('text')['stopword_ratio']} AS stopword_ratio,
                   {textstats.quality_score_sql('text')} AS quality_score
            FROM documents
        """,
        "events_json_path": """
            SELECT event_id, json_extract_string(props, '$.k') AS k_str
            FROM events
        """,
        "emb_bucket_pairs": f"""
            WITH sig AS (
              SELECT vec_id,
                     {similarity.srp_signature_sql('embedding::DOUBLE[]', 64)} AS bucket,
                     embedding
              FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6) AS cos_sim
            FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 6) >= 0.1
        """,
        "seq_shard_manifest": _shard_manifest_sql(),
        "seq_temperature_mix": _temperature_mix_sql(),
        "events_nested_schema": _nested_schema_oracle(),
        # IVF oracles recompute the deterministic centroids (8 smallest ids)
        # in SQL; nearest-cell pick = ORDER BY sim DESC, cell ASC == the
        # engine's strictly-greater first-wins fold.
        "emb_ivf_cells": """
            WITH cents AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
            ),
            assign AS (
              SELECT e.vec_id, c.cell,
                     row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(
                           e.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                         c.cell ASC) AS rn
              FROM embeddings e CROSS JOIN cents c
            )
            SELECT cell, count(*)::BIGINT AS n_rows
            FROM assign WHERE rn = 1 GROUP BY cell
        """,
        # One Lloyd iteration recomputed in SQL: seed assignment -> per-cell
        # per-dimension means (rounded 6 dp, same as the engine) -> second
        # assignment with the trained centroids.  dim=64 is the embeddings
        # fixture width (TESTDATA.md).
        "emb_ivf_cells_trained": """
            WITH cents0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
            ),
            assign0 AS (
              SELECT e.vec_id, c.cell,
                     row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(
                           e.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                         c.cell ASC) AS rn
              FROM embeddings e CROSS JOIN cents0 c
            ),
            member AS (SELECT vec_id, cell FROM assign0 WHERE rn = 1),
            means AS (
              SELECT m.cell, g.i AS pos,
                     round(avg(e.embedding[g.i]::DOUBLE), 6) AS mval
              FROM member m JOIN embeddings e USING (vec_id)
              CROSS JOIN (SELECT unnest(range(1, 65)) AS i) g
              GROUP BY m.cell, g.i
            ),
            cents1 AS (
              SELECT c0.cell, coalesce(c1.emb, c0.embedding::DOUBLE[]) AS emb
              FROM cents0 c0 LEFT JOIN (
                SELECT cell, list(mval ORDER BY pos) AS emb
                FROM means GROUP BY cell
              ) c1 USING (cell)
            ),
            assign1 AS (
              SELECT e.vec_id, c.cell,
                     row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(
                           e.embedding::DOUBLE[], c.emb), 6) DESC,
                         c.cell ASC) AS rn
              FROM embeddings e CROSS JOIN cents1 c
            )
            SELECT cell, count(*)::BIGINT AS n_rows
            FROM assign1 WHERE rn = 1 GROUP BY cell
        """,
        "text_repetition": _curation_repetition_oracle(),
        "doc_passage_dedup": _curation_passage_oracle(),
        "events_pii_redact": _curation_pii_oracle(),
        "doc_stratified_sample": _stratified_sample_oracle(),
    }
