"""Driver contract for the spark-graft builder (PySpark target).

``entry``   — flagship parse->enrich->route->aggregate run (SURVEY.md §3).
``queries`` — one entry per implemented operator from SURVEY.md §2; each
              callable takes (spark, sf_dir) and returns a DataFrame.
``oracle_sql`` — DuckDB-equivalent SQL per query.

Pipeline queries run over the deterministic synthetic fixtures
(ulp_spark.fixtures) at a FIXED size N=10,000 — FIXTURES.md's correctness
scale — because the oracle SQL regenerates the identical rows inside a CTE
(same integer arithmetic in DuckDB); sf_dir does not change them.
Table-backed queries (events/documents/embeddings) read parquet from
sf_dir and their oracles use the driver's pre-registered DuckDB views.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# Importable regardless of the harness's working directory.
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ulp_spark import fixtures
from ulp_spark.functions import casts, sanitize, sniff, sqltext
from ulp_spark.operators import dedup, lattice, multimodal, parse, similarity, textstats
from ulp_spark.operators import profiling as _profiling
from ulp_spark.operators import vocab as _vocab
from ulp_spark.plans import pipeline
from ulp_spark.session import local_frame

N_FIXTURE = 10_000


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full DAG on the sf0.001-scale fixture; rows per sink."""
    p = pipeline.build(spark, n=1_000)
    return p.route_counts.orderBy("route")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = pipeline.build(spark, n=N_FIXTURE)
    return p.route_counts


def _q_parse_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = parse.parse_lines(fixtures.raw_lines(spark, N_FIXTURE))
    return parsed.select(
        "doc_id", "parser",
        F.col("parse_error").cast("int").alias("parse_error"),
        "provider", "level", "n",
        F.col("provider__t").alias("provider_type"),
    )


def _q_route_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = pipeline.build(spark, n=N_FIXTURE)
    ok = p.routed.filter(~F.col("parse_error"))
    fields = parse.all_fields(parse.DEFAULT_PATTERNS)
    return lattice.route_schema_frame(ok, fields)


def _q_source_token_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = pipeline.build(spark, n=N_FIXTURE)
    return p.source_token_hist


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


def _q_enrich_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = pipeline.build(spark, n=N_FIXTURE)
    return (
        p.routed.filter(~F.col("parse_error"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _q_events_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return lattice.json_field_schema(ev, "props")


def _q_events_cast_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = f"get_json_object(props, {sqltext.lit('$.k')})"
    code = sniff.sniff_code(v)
    rcode = sniff.materialized_runtime_code(v, code)
    as_int, err = casts.cast_field(v, rcode, sniff.INT, code)
    return ev.selectExpr(
        "event_id",
        f"{v} AS k_raw",
        f"{code} AS k_type",
        f"{as_int} AS k_int",
        f"CAST({err} AS INT) AS k_err",
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


# ---- training-data ops over documents/embeddings --------------------------

def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).withColumn(
        "fp", textstats.fingerprint(F.col("text")))
    return dedup.exact_dedup(d, ["fp"], "doc_id")


def _q_doc_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    sig = dedup.minhash_signature(dedup.shingle_hashes(F.col("text")))
    return d.select("doc_id", *sig[:4])


def _q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        dedup.simhash(dedup.shingle_hashes(F.col("text"))).alias("simhash"),
    )


def _q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard over consecutive doc pairs (deterministic candidate set)."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    sh = d.select("doc_id", dedup.shingle_hashes(F.col("text")).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select((F.col("doc_id") - 1).alias("id_a"),
                  F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, "id_a")
        .select("id_a", "id_b",
                F.round(dedup.jaccard(F.col("sh_a"), F.col("sh_b")), 6)
                .alias("jaccard"))
    )


def _q_doc_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit simhash near-dup candidates at the production threshold:
    4x16-bit Hamming bands (pigeonhole-complete for distance <= 3) ->
    bucket-capped collision join -> exact bit_count(xor) verify."""
    d = _docs(spark, sf_dir)
    return dedup.simhash_candidates(d, "text", "doc_id")


def _q_doc_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-collision candidates, oracle-gated by the DuckDB band
    self-join twin (dedup.minhash_candidates_sql)."""
    d = _docs(spark, sf_dir)
    return dedup.minhash_candidates(d, "text", "doc_id")


def _q_doc_winnow_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint candidates: any shared substring >=
    w+k-1 chars guarantees a shared FINGERPRINT (minhash recall is
    probabilistic); the pair floor would hold with one shared
    fingerprint, and the two (``dedup.WINNOW_MIN_SHARED``) required here
    trade it for precision (operator docstring).  Posting lists capped before the pair join, same skew
    discipline as minhash.
    Repartitioned: the sf tables are single parquet files, which would
    serialize the O(n*w) fingerprint scan onto one core."""
    d = _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism)
    return dedup.winnow_candidates(d, "text", "doc_id")


def _q_doc_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the minhash candidate
    pairs; comp_id = canonical (min) doc_id per cluster. Spark side is
    the alternating large-star/small-star edge rewrite (converged fixed
    point); oracle is the exact recursive-CTE transitive closure — both
    yield the unique min-id-per-component labeling."""
    pairs = dedup.minhash_candidates(_docs(spark, sf_dir), "text", "doc_id")
    cc = dedup.connected_components(pairs)
    return cc.select(F.col("id").alias("doc_id"), "comp_id")


def _emb_query_vec(spark, sf_dir) -> list[float]:
    row = _embs(spark, sf_dir).filter(F.col("vec_id") == 0).collect()[0]
    return [float(x) for x in row.embedding]


def _q_emb_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embs(spark, sf_dir)
    return similarity.brute_force_topk(
        e, "embedding", "vec_id", _emb_query_vec(spark, sf_dir))


def _q_emb_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embs(spark, sf_dir)
    sig = similarity.srp_signature(F.col("embedding"), dim=64)
    return e.select(sig.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"))


def _q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", textstats.lang_id(F.col("text")).alias("lang_pred"))


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    feats = textstats.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        textstats.quality_score(F.col("text")).alias("quality_score"),
    )


def _q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        textstats.token_count_ws(F.col("text")).alias("tok_ws"),
        textstats.token_count_bpe(F.col("text")).alias("tok_bpe"),
        textstats.fingerprint(F.col("text")).alias("fp"),
    )


def _q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = multimodal.synth_binary_column(_docs(spark, sf_dir), "text", "doc_id")
    # byte_hist serialized to its JSON form: the driver's canonicalizer
    # value-hashes pandas frames, and a raw array<int> column is unhashable
    # there (round-1 gate failure) — '[1,2,3]' renders identically in Spark
    # F.to_json and DuckDB to_json.
    return multimodal.extract_features(d).withColumn(
        "byte_hist", F.to_json("byte_hist"))


def _q_mm_frame_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = multimodal.synth_binary_column(_docs(spark, sf_dir), "text", "doc_id")
    frames = multimodal.sample_frames(d)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.length(F.col("frame"))).alias("frame_bytes"),
    )


def _q_doc_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style fluency proxy: per-doc fraction of word-bigram
    occurrences whose corpus count >= 3 (exact integer statistics in
    place of an LM; one shuffle join against the vocab-scale bigram
    model)."""
    return _vocab.bigram_coverage(_docs(spark, sf_dir), "text", "doc_id")


def _q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column census (rows/nulls/distinct/min/max) — the
    data-quality pass before a mapping DDL commit. Exact count_distinct
    (Expand plan) so the oracle gates values; approx_count_distinct is
    the documented 100-TB swap."""
    from ulp_spark.operators import profiling

    return profiling.profile_table(
        _docs(spark, sf_dir), ["doc_id", "lang", "source", "n_chars"])


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-50: explode+count collapses the corpus to
    vocabulary scale with map-side combine; top-k is
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    from ulp_spark.operators import vocab

    return vocab.vocab_topk(_docs(spark, sf_dir), "text")


def _q_bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 20 greedy BPE merge candidates: adjacent-char-pair counts
    weighted by word frequency, computed at vocabulary scale."""
    from ulp_spark.operators import vocab

    return vocab.bpe_top_merges(_docs(spark, sf_dir), "text", k=20)


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
        e.select(similarity.ivf_assign(F.col("embedding"), cents).alias("cell"))
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _q_emb_ivf_cells_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell histogram after ONE Lloyd iteration (train -> assign):
    centroids recomputed as per-cell dimension means, deterministically."""
    e = _embs(spark, sf_dir)
    cents = similarity.ivf_centroids_trained(
        e, "embedding", "vec_id", k=8, rounds=1)
    return (
        e.select(similarity.ivf_assign(F.col("embedding"), cents).alias("cell"))
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: exact cosine within the 2 nearest probed cells."""
    e = _embs(spark, sf_dir)
    cents = similarity.ivf_centroids(e, "embedding", "vec_id", k=8)
    return similarity.ivf_topk(
        e, "embedding", "vec_id", _emb_query_vec(spark, sf_dir),
        cents)


def _q_seq_packing_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing over the input_hint table: exact global token
    offsets via the distributed two-phase prefix sum (never a
    single-reducer Window.orderBy) + 512-token chunk assignment."""
    from ulp_spark.operators import packing

    seq = fixtures.sequences(spark, N_FIXTURE).select("doc_id", "n_tok")
    return packing.packing_offsets(seq)


def _q_seq_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest over the input_hint table: shard id from
    the distributed prefix sum (same two-phase machinery as packing),
    one row per shard with sequence/token counts and doc range."""
    from ulp_spark.operators import sharding

    seq = fixtures.sequences(spark, N_FIXTURE).select("doc_id", "n_tok")
    return sharding.shard_manifest(seq, shard_tokens=1 << 18)


def _q_seq_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sequence dedup on TOKEN IDS (md5 over the int array) — the
    post-tokenization twin of doc_exact_dedup."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.sequence_exact_dedup(seq, "tokens", "doc_id")


def _q_seq_token_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level decontamination: train sequences sharing any 8-token
    window with the eval split (source='wiki'); eval grams broadcast,
    train never shuffled."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.token_contamination(
        seq, "tokens", "doc_id", F.col("source") == "wiki")


def _q_seq_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-distribution drift vs the corpus (KL nats +
    total-variation distance) over the input_hint table — the mixture
    monitor a 10^12-sequence pipeline runs per ingest batch.  One pass
    over the exploded tokens; corpus distribution re-aggregated from the
    (source, token) partial counts, never a second corpus scan."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.source_token_drift(seq)


def _q_seq_dup_gram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence duplicated-window coverage (ExactSubstr signal on
    token ids): fraction of each sequence's distinct 8-token windows that
    occur in another sequence.  Distinct (id, gram) pairs seamed once;
    census + rollup both read the seam; no pair materialization."""
    from ulp_spark.operators import tokens

    # 2,500 rows, not N_FIXTURE: ~640k distinct (id, gram) pairs is plenty
    # to exercise census + rollup on both engines; at 10k the DuckDB twin
    # alone costs ~80 s of suite time for no extra coverage
    seq = fixtures.sequences(spark, 2_500)
    return tokens.duplicate_gram_coverage(seq, "tokens", "doc_id")


def _q_seq_sft_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning loss masks: 0 over prompt positions, 1 over the
    completion, prompt lengths clamped into [0, n_tok].  Prompt boundary
    derived deterministically in-query (seq_no*13 mod n_tok+5 — exercises
    the beyond-length clamp on real rows).  Pure per-row array algebra."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, 2_500).select(
        "doc_id", "tokens",
        (F.col("seq_no") * 13 % (F.col("n_tok") + 5)).cast("int")
        .alias("prompt_len"))
    return tokens.sft_loss_mask(seq, "tokens", "prompt_len")


def _q_seq_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset-card summary (n_seqs, tokens, exact-dup mass,
    length stats) with injected duplicates (seq_no<500 re-ingested with a
    NULL source) so dup_frac and the '__null__' bucket both exercise.
    ONE scan; fingerprints computed in the scan projection."""
    from ulp_spark.operators import profiling as prof

    seq = fixtures.sequences(spark, N_FIXTURE)
    dup = (seq.filter(F.col("seq_no") < 500)
           .withColumn("source", F.lit(None).cast("string")))
    return prof.corpus_datacard(seq.unionByName(dup))


def _q_seq_packed_sft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-SFT composition: sft_loss_mask -> hash-bucket packing with
    the mask riding extra_array_cols -> pack_segments; one plan emitting
    (tokens, loss_mask, doc_starts, segment_ids, pos_in_doc) — the full
    packed instruction-tuning row."""
    from ulp_spark.operators import packing, tokens
    from ulp_spark.operators.sampling import hash_bucket

    seq = fixtures.sequences(spark, 2_000).select(
        "doc_id", "tokens",
        (F.col("seq_no") * 13 % (F.col("n_tok") + 5)).cast("int")
        .alias("prompt_len"))
    masked = tokens.sft_loss_mask(seq, "tokens", "prompt_len").select(
        "doc_id", "tokens", "loss_mask")
    pk = masked.select(
        "doc_id", hash_bucket(F.col("doc_id"), 64).alias("bin_id"))
    return packing.pack_segments(packing.pack_sequences(
        masked, pk, extra_array_cols=["loss_mask"]))


def _q_seq_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence novelty: fraction of each sequence's distinct 8-token
    windows whose FIRST corpus occurrence (ascending doc_id — ingest
    order) is in that sequence — the marginal-contribution signal for
    admit-by-novelty curation.  Same seamed distinct-pair shape as
    dup_gram_coverage (census is min(id) instead of count)."""
    from ulp_spark.operators import tokens

    # 2,500 rows for the same reason as seq_dup_gram_coverage: the
    # distinct-pair frame is the cost driver on the DuckDB side.
    seq = fixtures.sequences(spark, 2_500)
    return tokens.gram_novelty(seq, "tokens", "doc_id")


def _q_seq_packed_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-row trainer arrays: hash-bucket packing (relational, so the
    oracle can replay it) -> pack_sequences concatenation -> per-position
    segment_ids + pos_in_doc (block-diagonal attention mask / position
    reset inputs).  Linear array algebra per row; ONE groupBy(bin_id)
    moves each token array once."""
    from ulp_spark.operators import packing
    from ulp_spark.operators.sampling import hash_bucket

    # 2,000 docs x 64 bins: full arrays cross the compare, so cap the
    # collected volume (~0.5M tokens x 3 arrays) like the other
    # array-returning queries.
    seq = fixtures.sequences(spark, 2_000)
    pk = seq.select("doc_id", hash_bucket(F.col("doc_id"), 64).alias("bin_id"))
    return packing.pack_segments(
        packing.pack_sequences(seq, pk))


def _q_doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-bundle quality filter (Rae et al. A1.1) over the
    documents table: per-rule boolean verdicts + the hard-reject
    composite.  Pure per-row expressions; rounded ratios make both
    engines decide identically at the thresholds."""
    from ulp_spark.operators import curation

    return curation.gopher_rules(_docs(spark, sf_dir), "text", "doc_id")


def _q_seq_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (XLM-R exponentiated sampling,
    alpha=0.5) over the input_hint table: per-source natural share,
    temperature share, up-weight, and a 1M-token budget allocation.
    One aggregate to |sources| rows; normalizer is a 1-row broadcast."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.source_temperature_weights(seq, budget=1_000_000)


def _q_seq_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: md5(seed:epoch:id) permutation with a
    gap-free global rank from the distributed two-phase prefix sum (never
    a single-reducer global window) — the reproducible dataloader-order
    contract."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE).select("doc_id")
    return tokens.epoch_order(seq, "doc_id", epoch=1)


def _q_seq_balanced_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced writer assignment: snake-deal over the global
    (n_tok desc, id) rank onto 8 fixed writers; per-writer load report.
    Max-min token load never exceeds the largest single sequence."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE).select("doc_id", "n_tok")
    return tokens.writer_loads(
        tokens.balanced_writers(seq, "n_tok", "doc_id", 8))


# Fixed vocabulary for the tokenizer-apply query: corpus words + space +
# letter fallback.  Greedy longest-match; unmatched chars -> tokenizer.UNK_ID.
_TOKENIZE_VOCAB = (
    ["table", "value", "batch", "window", "spark", "query", "the", "row",
     "agg", "scan", "fast", "slow", "key", "part", "hash", "merge",
     "sort", "line", " "]
    + [chr(c) for c in range(ord("a"), ord("z") + 1)]
)


def _q_doc_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY (text -> token ids): greedy longest-match over a
    fixed vocabulary as one JVM projection (regexp_extract_all over a
    longest-first alternation, then a piece -> id map; zero shuffles) —
    the step that produces the input_hint token table from the text
    corpus.  Oracle: the same greedy recurrence as a
    DuckDB recursive CTE."""
    from ulp_spark.operators import tokenizer

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return tokenizer.tokenize(d, "text", "doc_id", _TOKENIZE_VOCAB)


def _q_doc_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate passage REMOVAL (document rewrite): drop every 8-word
    chunk appearing in >= 2 distinct documents, rebuild each doc from the
    survivors.  Census on distinct (passage, doc) pairs; anti-join AQE-
    broadcast when the boiler set is small; one re-assembly exchange."""
    from ulp_spark.operators import curation

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return curation.strip_boilerplate(d, "text", "doc_id")


def _q_seq_mixing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable mixing plan from the temperature weights: per source,
    full epochs + fractional-tail sampling rate for a 2M-token budget."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.source_mixing_plan(seq, budget=2_000_000)


def _q_doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear classifier inference over hashed word
    uni+bigram features (integer centi-unit weights -> order-independent
    exact sums; one sigmoid per doc).  Synthetic deterministic weights
    stand in for a trained model."""
    from ulp_spark.operators import classifier

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return classifier.linear_quality_score(d, "text", "doc_id")


# Fixed merge list + vocab for the BPE-apply query: common English
# letter merges (rank = list order) over a base alphabet; unmatched
# symbols -> unk.  bpe_tokenize applies them with true merge-rank
# iteration (lowest rank present wins, all occurrences merge L->R).
_BPE_Q_MERGES = [("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"),
                 ("a", "n"), ("o", "n"), ("s", "t"), ("in", "g")]
_BPE_Q_VOCAB = (
    [chr(c) for c in range(ord("a"), ord("z") + 1)] + [" "]
    + ["th", "the", "in", "er", "an", "on", "st", "ing"]
)


def _q_seq_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding context-window chunking over the input_hint table (the
    split-allowed complement to pack_bins): capacity-128 windows at
    stride 96 (25% overlap), trailing windows kept at >= 16 tokens.
    Narrow JVM explode — no shuffle; co-partitions with the input."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.chunk_sequences(seq, "tokens", "doc_id")


def _q_seq_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement over the
    input_hint table: 200 sequences with inclusion odds proportional to
    n_tok (token-proportional subsetting) via Efraimidis-Spirakis keys
    from md5(seed:doc_id).  Compiles to TakeOrderedAndProject — partition
    top-k heaps, no global sort shuffle."""
    from ulp_spark.operators import sampling

    seq = fixtures.sequences(spark, N_FIXTURE)
    return sampling.weighted_sample(
        seq.select("doc_id", "n_tok", "source"),
        "n_tok", "doc_id", k=200, seed="r5")


def _q_seq_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste report for length-bucketed batching (the cheap
    alternative to pack_bins): power-of-two buckets floored at 32, one
    map-side expression + one dozen-row groupBy."""
    from ulp_spark.operators import packing

    seq = fixtures.sequences(spark, N_FIXTURE)
    return packing.length_bucket_stats(seq)


def _q_seq_unigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence unigram cross-entropy (the CCNet perplexity-filter
    analog on token ids), self-scored against the corpus's own smoothed
    unigram table.  Integer micro-nat sums keep the result exact in any
    aggregation order; the vocab-scale probs side broadcast-joins."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.sequence_unigram_scores(seq)


def _aug_tail(spark: SparkSession) -> DataFrame:
    """Constructed-tail stream shared by seq_repeated_suffix and
    seq_trim_repeated_suffix (Spark twin of _aug_tail_sql): seq_no % 4
    extra copies of the final 2-token block appended, so periods 0/1/2
    and multi-copy tails all occur."""
    seq = fixtures.sequences(spark, N_FIXTURE)
    return seq.select(
        "doc_id",
        F.concat(
            F.col("tokens"),
            F.flatten(F.array_repeat(
                F.slice(F.col("tokens"),
                        F.greatest(F.size("tokens") - 1, F.lit(1)), 2),
                (F.col("seq_no") % 4).cast("int")))).alias("tokens"))


def _q_seq_repeated_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-repetition detector (degenerate-loop signal) over the
    input_hint table, with the tail-repeat CONSTRUCTED in-query (the
    fixture's arithmetic token stream has no natural period <= 8):
    seq_no % 4 extra copies of the final 2-token block are appended in
    both engines, so periods 0/1/2 and multi-copy tails all occur."""
    from ulp_spark.operators import tokens

    return tokens.repeated_suffix(_aug_tail(spark))


def _q_seq_resume_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-resume loader position: shard manifest over the
    input_hint table (4096-token shards), trainer checkpoint at
    global_step 1000 x batch 32 = 32,000 sequences consumed — past one
    epoch of the 10k-row fixture, so the epoch wrap, resume shard, and
    in-shard skip are all exercised.  The manifest is metadata-scale;
    the corpus is never touched."""
    from ulp_spark.operators import sharding

    seq = fixtures.sequences(spark, N_FIXTURE)
    man = sharding.shard_manifest(seq, shard_tokens=1 << 12)
    return sharding.resume_position(man, global_step=1_000, batch_size=32)


def _q_doc_bpe_learned_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BPE learn -> apply chain under one gate: vocab.bpe_train
    (distributed word counts + incremental driver merge loop) learns 24
    merges over the lined_docs fixture, tokenizer.bpe_tokenize applies
    them to the training words.  The ORACLE trains independently — a
    recount-from-scratch naive loop over DuckDB word counts — so a
    divergence in either the trainer or the apply recurrence fails the
    row compare."""
    from ulp_spark.operators import tokenizer, vocab

    d = fixtures.lined_docs(spark, 600)
    trained = vocab.bpe_train(d, "text", n_merges=24)
    words = vocab.word_counts(d, "text").select(
        F.col("word").alias("doc_id"), F.col("word").alias("text"))
    return tokenizer.bpe_tokenize(
        words, "text", "doc_id", trained["merges"], trained["vocab"])


def _q_doc_clean_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (terminal punct + min-words + blacklist,
    rebuilt text + keep_doc flag) over the deterministic lined_docs
    fixture — the sf documents are single-line by construction, so the
    line rules need the T5 fixture (same precedent as the T4 clusterable
    embeddings).  Zero-shuffle per-row rewrite, plan-pinned in pytest."""
    from ulp_spark.operators import curation

    d = fixtures.lined_docs(spark, 2_000)
    return curation.clean_lines(d, "text", "doc_id")


def _q_seq_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicate-span REMOVAL (Lee et al. 2021) over the
    input_hint table: every token covered by a non-keeper occurrence of a
    duplicated 8-token window is cut and the arrays rebuilt.  The fixture
    stream is arithmetic mod the vocab, so distinct docs genuinely share
    long runs — the heavy-dup regime the op exists for.  A smaller slice
    (1,500 seqs) keeps the quadratic-free census cheap in the gate."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, 1_500)
    return tokens.remove_duplicate_spans(seq, "tokens", "doc_id")


def _q_seq_trim_repeated_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degenerate-loop REWRITE over the same constructed-tail stream
    as seq_repeated_suffix: redundant trailing copies dropped, one copy
    kept, arrays rebuilt — zero-shuffle per-row expression work."""
    from ulp_spark.operators import tokens

    return tokens.trim_repeated_suffix(_aug_tail(spark))


def _q_emb_semantic_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup groups: SRP-bucketed cosine near-dup pairs over the
    clusterable T4 fixture (threshold 0.8 — within-cluster cosine ~0.85,
    across ~0) -> connected components -> (vec_id, comp_id).  The
    embedding-side composition twin of doc_dedup_groups; recall is
    bounded by SRP bucketing by design (documented), and the oracle runs
    the IDENTICAL pair generation so the gate pins the whole chain."""
    from ulp_spark.operators import similarity as _sim

    emb = fixtures.clustered_embeddings(spark, 400, dim=64, clusters=20)
    pairs = _sim.embedding_near_dup(
        emb, "embedding", "vec_id", dim=64, threshold=0.8)
    cc = dedup.connected_components(pairs.select("id_a", "id_b"))
    return cc.select(F.col("id").alias("vec_id"), "comp_id")


def _q_seq_bigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (bigram) cross-entropy per sequence — token ORDER
    quality, where the unigram score is order-blind.  The bigram dim is
    corpus-bounded (KenLM-shaped cost): AQE broadcasts it while it fits,
    honest shuffle join beyond."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.sequence_bigram_scores(seq)


def _q_doc_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True BPE merge-rank APPLY (vs doc_tokenize's greedy inference):
    iterative lowest-rank merging via the same designed mapInPandas path;
    oracle is the recursive-CTE twin driving one full merge per step."""
    from ulp_spark.operators import tokenizer

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return tokenizer.bpe_tokenize(
        d, "text", "doc_id", _BPE_Q_MERGES, _BPE_Q_VOCAB)


def _q_seq_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence Shannon entropy of the within-sequence token
    distribution (nats) — the model-free degenerate-content band-pass
    signal.  Exact bigint micro-nat inner sum; two map-side-combined
    shuffles carrying counts only."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.sequence_token_entropy(seq)


def _q_seq_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health Zipf fit: OLS of ln(count) on ln(rank) over the
    token-frequency table.  Exact DECIMAL(38,0) regression sums; the
    rank window runs over the VOCAB-BOUNDED count table, never the
    corpus.  One output row."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.zipf_fit(seq)


def _q_seq_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-overlap matrix: distinct token-array fingerprints shared per
    source pair (the dedup-priority report).  The fixture's arithmetic
    stream has no natural cross-source dups, so every 10th row is
    re-emitted under the rotated source in both engines."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    rot = (
        F.when(F.col("source") == "web", F.lit("books"))
        .when(F.col("source") == "books", F.lit("code"))
        .when(F.col("source") == "code", F.lit("wiki"))
        .when(F.col("source") == "wiki", F.lit("web"))
    )
    aug = seq.select("tokens", "source").unionAll(
        seq.filter(F.col("seq_no") % 10 == 0)
        .select("tokens", rot.alias("source")))
    return tokens.cross_source_dup_matrix(aug)


def _q_seq_contamination_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded decontamination (Llama-3 dirty-fraction form): per TRAIN
    sequence, the fraction of its 8-token windows occurring in the eval
    split (source='wiki') — thresholdable, where seq_token_contamination
    is the binary any-hit flag.  Eval grams broadcast; train side keeps
    its partitioning."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.contamination_coverage(
        seq, "tokens", "doc_id", F.col("source") == "wiki")


def _near_dup_aug(spark: SparkSession) -> DataFrame:
    """Near-dup-bearing stream shared by the token MinHash queries: the
    fixture's arithmetic stream has no natural near-dups, so every 20th
    row is re-emitted with only its LAST token changed (identically in
    both engines): ~97% of windows shared."""
    seq = fixtures.sequences(spark, 2_500)
    near = (
        seq.filter((F.col("seq_no") % 20 == 0) & (F.col("n_tok") >= 8))
        .select(
            F.concat(F.col("doc_id"), F.lit("-near")).alias("doc_id"),
            F.concat(
                F.slice(F.col("tokens"), 1, F.size("tokens") - 1),
                F.array((F.element_at(F.col("tokens"), -1) + 1)
                        .cast("int"))).alias("tokens"))
    )
    return seq.select("doc_id", "tokens").unionAll(near)


def _q_seq_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level NEAR-dup candidates (MinHash+LSH over 8-token windows)
    — the gap between sequence_exact_dedup (bitwise) and the text-side
    near-dup stack (pre-tokenization)."""
    from ulp_spark.operators import tokens

    return tokens.sequence_minhash_candidates(
        _near_dup_aug(spark), "tokens", "doc_id")


def _q_seq_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level near-dup CLUSTERS: LSH candidates -> exact window-set
    Jaccard >= 0.8 verification -> connected components (comp_id =
    canonical min id).  The shingle-set projection is seamed once for
    signatures AND both verify sides; oracle is the recursive-CTE
    transitive closure over the same verified edges."""
    from ulp_spark.operators import tokens

    return tokens.sequence_dedup_groups(
        _near_dup_aug(spark), "tokens", "doc_id")


def _q_doc_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum composition: classifier quality logits (integer
    centi-units — exact sort keys) -> global easy-first rank + 4 equal
    stages via the distributed prefix sum.  The ordered-training
    complement of the epoch shuffle."""
    from ulp_spark.operators import classifier, tokens

    d = _docs(spark, sf_dir).select("doc_id", "text")
    scored = classifier.linear_quality_score(d, "text", "doc_id")
    return tokens.curriculum_stages(
        scored.select("doc_id", "score_centi"), "score_centi", "doc_id", 4)


def _q_seq_mixed_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the temperature mixing plan (learn->apply, like BPE
    train->tokenize): materialized mixed-epoch membership — one row per
    pass each sequence takes; unconditional copies + md5-deterministic
    fractional tail.  Plan broadcast; no shuffle beyond it."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.apply_mixing_plan(seq)


def _q_seq_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle rewrite (PSM layout, Bavarian et al. 2022) at
    rate 0.5 with out-of-vocab sentinels: deterministic md5-uniform coin
    + split points, per-row JVM slice/concat, no shuffle."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.fim_transform(seq)


def _q_seq_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption rewrite (denoising objective inputs/
    targets) at rate 0.15 over fixed 3-token blocks: deterministic
    md5-uniform coin per (id, block), per-row JVM array algebra, no
    shuffle.  Sentinels at 51000+ sit outside the 50257 fixture vocab."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.span_corruption(seq, "tokens", "doc_id",
                                  rate=0.15, span_len=3)


def _q_doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): log p_target/p_raw
    under hashed uni+bigram unigram models, target = the English slice
    of the corpus — integer micro-nat lambda sums, dim-bounded broadcast
    weight table, corpus text never shuffles."""
    from ulp_spark.operators import classifier

    d = _docs(spark, sf_dir)
    return classifier.dsir_importance(
        d, "text", "doc_id", d.filter(F.col("lang") == "en"))


def _q_seq_source_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source token
    distributions — the mixture-design distance matrix; exact integer
    micro-nat terms, one corpus-scale aggregate, vocab-scale joins."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.source_js_divergence(seq)


def _q_seq_denoiser_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UL2 mixture-of-denoisers (Tay et al. 2022): deterministic R/X/S
    routing + the matching rewrite (T5 span corruption at two
    configurations; prefix-LM split), mode token prepended — three
    map-only branches unioned, zero shuffle."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.denoiser_mix(seq)


def _q_doc_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility report per source (chars/token, tokens/word,
    unk fraction) over the tokenize output joined back to the corpus —
    integer-exact sums, one key-scale join, |sources|-row aggregate."""
    from ulp_spark.operators import tokenizer

    d = _docs(spark, sf_dir)
    tok = tokenizer.tokenize(d.select("doc_id", "text"), "text",
                             "doc_id", _TOKENIZE_VOCAB)
    return tokenizer.fertility_stats(d, tok)


def _q_doc_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's resampling step: importance weights (target = the English
    slice) -> Efraimidis-Spirakis weighted sampling without replacement,
    k=100 — the full Xie et al. 2023 pipeline as ONE plan."""
    from ulp_spark.operators import classifier, sampling

    d = _docs(spark, sf_dir)
    w = classifier.dsir_importance(
        d, "text", "doc_id", d.filter(F.col("lang") == "en"))
    return sampling.weighted_sample(w, "weight", "doc_id", k=100,
                                    seed="dsir0")


def _q_seq_mixed_writer_loads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: temperature-mixed epoch (apply_mixing_plan) ->
    per-instance token loads -> snake-deal token-balanced assignment
    onto 8 writers — the mix-then-write story as ONE plan.  Instance
    identity is doc_id#epoch_copy (a replicated sequence is a distinct
    writer item per pass)."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    mixed = tokens.apply_mixing_plan(seq)
    withtok = (
        mixed.join(seq.select("doc_id", "n_tok"), "doc_id")
        .select(
            F.concat_ws("#", F.col("doc_id"),
                        F.col("epoch_copy").cast("string")).alias("inst_id"),
            "n_tok")
    )
    return tokens.writer_loads(
        tokens.balanced_writers(withtok, "n_tok", "inst_id", 8))


def _q_seq_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: distinct token types within the
    first c corpus tokens (doc_id order), per checkpoint — the
    tokenizer-sizing report.  Positions via the one-exchange distributed
    prefix sum; the checkpoint join is vocab-bounded x 5."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.vocab_growth(seq)


def _q_corpus_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP composition — the full text -> training-batches story as
    ONE plan: tokenize (one JVM projection, zero shuffles) ->
    exact sequence dedup on token fingerprints -> fixed-token-budget
    shard manifest (distributed prefix sum, no SinglePartition stage).

    The dedup census collapses the tokenized frame to key scale in a
    single pass — (fp, min doc_id, min n_tok); identical arrays share
    n_tok, so the survivor's length rides the same aggregate and no
    second tokenize scan (or join-back) exists.  The census RESULT feeds
    global_cumsum, which consumes its input three times (range
    boundaries, bucket totals, the window pass) — the fan-out seam rule's
    fourth sighting, so the census is seam-materialized BEFORE the
    manifest instead of re-running tokenize+census per consumer.
    """
    from ulp_spark.operators import sharding, tokenizer
    from ulp_spark.operators import tokens as _tokens
    from ulp_spark.session import seam as _seam

    d = _docs(spark, sf_dir).select("doc_id", "text")
    tok = tokenizer.tokenize(d, "text", "doc_id", _TOKENIZE_VOCAB)
    surv = _seam(
        tok.groupBy(_tokens.token_fingerprint(F.col("tokens")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"), F.min("n_tok").alias("n_tok")))
    return sharding.shard_manifest(
        surv.select("doc_id", "n_tok"), shard_tokens=1 << 12)


def _q_events_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed anomaly detection: rows > 3 population stddevs from their
    (event_type, day) mean; stats side broadcast, events never shuffled."""
    from ulp_spark.operators import anomaly

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return anomaly.value_anomalies(ev)


def _q_doc_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test split (hash-bucket membership, never
    rand()/TABLESAMPLE — identical on any engine, cluster size, or run)."""
    from ulp_spark.operators import sampling

    d = _docs(spark, sf_dir)
    return (
        d.select(sampling.split_label(F.col("doc_id")).alias("split"), "source",
                 "n_chars")
        .groupBy("split", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("sum_chars"))
    )


def _q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles of document length per source
    (Spark `percentile` == DuckDB `quantile_cont`; at 100 TB swap for
    percentile_approx/t-digest and drop the oracle to rows-only)."""
    d = _docs(spark, sf_dir)
    pct = F.percentile(F.col("n_chars"), F.lit([0.5, 0.9, 0.99]))
    return (
        d.groupBy("source")
        .agg(*[F.round(F.element_at(pct, i + 1), 6).alias(n)
               for i, n in enumerate(["p50", "p90", "p99"])])
    )


# ---- corpus curation (repetition / passage dedup / decontamination / PII) --

_STRAT_RATES = {"en": 10, "de": 50, "fr": 50, "es": 50, "zh": 20}
_EVAL_PCT = 5  # decontamination eval split: hash_bucket(doc_id) < 5


def _q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate-n-gram signals, per doc (zero shuffle;
    staged projections — see curation.repetition_stats docstring)."""
    from ulp_spark.operators import curation

    return curation.repetition_stats(_docs(spark, sf_dir), "text", "doc_id")


def _q_doc_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style passage dedup: per-doc duplicated-chunk fraction vs the
    whole corpus (default ``via="join"``: the seamed passage table's
    count > 1 hash set joined back, then a per-doc aggregate)."""
    from ulp_spark.operators import curation

    return curation.passage_dup_stats(_docs(spark, sf_dir), "text", "doc_id")


def _q_doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs sharing any word 5-gram with
    the deterministic eval split (broadcast semi-join on eval grams)."""
    from ulp_spark.operators import curation, sampling

    d = _docs(spark, sf_dir)
    pred = sampling.hash_bucket(F.col("doc_id"), 100) < _EVAL_PCT
    out = curation.contamination_flags(d, "text", "doc_id", pred)
    return out.select(
        "doc_id", F.col("is_contaminated").cast("int").alias("is_contaminated"))


def _q_events_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a derived per-event log line (email + IPv4 rules,
    pure regexp_replace — the enrich stage's redaction pass)."""
    from ulp_spark.operators import curation

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


_TOKEN_BUDGET = 300  # per-source token budget for the mixing query
_MIN_QUALITY = 0.7
_MAX_DUP_WORD = 0.55


def _q_doc_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 docs per source by quality score (one group-key shuffle)."""
    from ulp_spark.operators import curation

    return curation.quality_topk(_docs(spark, sf_dir), "text", "doc_id",
                                 "source")


def _q_doc_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget selection (data mixing prefix-sum)."""
    from ulp_spark.operators import curation

    return curation.token_budget_mix(_docs(spark, sf_dir), "text", "doc_id",
                                     "source", budget=_TOKEN_BUDGET)


def _q_corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: exact dedup (min-id winner per fingerprint) ->
    repetition + quality filters -> stratified downsample -> per-lang
    counts. Composes textstats/curation/sampling in one plan: one window
    shuffle on the fingerprint, scan-level filters, one final aggregate."""
    from pyspark.sql import Window

    from ulp_spark.operators import curation, sampling

    d = _docs(spark, sf_dir).withColumn(
        "fp", textstats.fingerprint(F.col("text")))
    w = F.min("doc_id").over(Window.partitionBy("fp"))
    keep = sampling.stratified_keep(F.col("doc_id"), F.col("lang"), _STRAT_RATES)
    n_tok = F.size("toks")
    return (
        d.withColumn("min_id", w)
        .filter(F.col("doc_id") == F.col("min_id"))
        # stage the token array ONCE; every downstream signal reuses it
        # (Catalyst does not CSE repeated split copies — repetition_stats)
        .select("doc_id", "lang", "text",
                curation.word_tokens(F.col("text")).alias("toks"))
        .filter(curation.dup_frac(F.col("toks")) <= _MAX_DUP_WORD)
        .filter(textstats.quality_score(F.col("text"), n_tok) >= _MIN_QUALITY)
        .filter(keep)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(n_tok.cast("bigint")).alias("n_tokens"))
    )


# Queries kept off the driver's 50-row verdict surface: each still runs
# against its DuckDB twin, with the driver's rows + schema + values compare,
# in tests/test_entry_parity.py (``retired_queries``).
_PYTEST_ONLY = frozenset({
    "seq_sft_loss_mask",
    "seq_corpus_datacard",
    "seq_packed_sft",
    "doc_exact_dedup",
    "seq_packing_offsets",
    "doc_passage_dedup",
    "doc_ngram_jaccard",
    "emb_ivf_cells_trained",
    "doc_bigram_coverage",
    "doc_profile",
    "doc_length_quantiles",
    "doc_simhash_candidates",
    "vocab_topk",
    "bpe_top_merges",
    "emb_topk_cosine",
    "text_langid",
    "text_token_counts",
    "mm_features",
    "mm_frame_counts",
    "emb_bucket_pairs",
    "seq_shard_manifest",
    "seq_source_drift",
    "seq_dup_gram_coverage",
    "seq_temperature_mix",
    "seq_token_contamination",
    "events_value_anomalies",
    "doc_split_counts",
    "events_nested_schema",
    "text_repetition",
    "events_pii_redact",
    "doc_stratified_sample",
    "doc_quality_topk",
    "doc_token_budget_mix",
    "emb_ivf_topk",
    "doc_contamination",
    "text_quality",
    "sanitize_event_types",
    "doc_minhash_candidates",
    "doc_dedup_groups",
    "doc_minhash",
    "doc_simhash",
    "emb_srp_buckets",
    "emb_ivf_cells",
    "pipeline_routed_tokens_proof",
    "events_json_path",
})


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: v for k, v in _all_queries().items() if k not in _PYTEST_ONLY}


def retired_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: v for k, v in _all_queries().items() if k in _PYTEST_ONLY}


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pipeline_route_counts": _q_route_counts,
        "pipeline_parse_fields": _q_parse_fields,
        "pipeline_route_schema": _q_route_schema,
        "pipeline_source_token_hist": _q_source_token_hist,
        "pipeline_routed_tokens_proof": _q_routed_tokens_proof,
        "pipeline_enrich_categories": _q_enrich_categories,
        "events_json_schema": _q_events_json_schema,
        "events_cast_props": _q_events_cast_props,
        "sanitize_event_types": _q_sanitize_event_types,
        "doc_exact_dedup": _q_doc_exact_dedup,
        "doc_minhash": _q_doc_minhash,
        "doc_simhash": _q_doc_simhash,
        "doc_ngram_jaccard": _q_doc_ngram_jaccard,
        "doc_minhash_candidates": _q_doc_minhash_candidates,
        "doc_winnow_candidates": _q_doc_winnow_candidates,
        "doc_simhash_candidates": _q_doc_simhash_candidates,
        "doc_dedup_groups": _q_doc_dedup_groups,
        "vocab_topk": _q_vocab_topk,
        "bpe_top_merges": _q_bpe_top_merges,
        "doc_profile": _q_doc_profile,
        "doc_bigram_coverage": _q_doc_bigram_coverage,
        "emb_topk_cosine": _q_emb_topk,
        "emb_srp_buckets": _q_emb_srp_buckets,
        "text_langid": _q_text_langid,
        "text_quality": _q_text_quality,
        "text_token_counts": _q_text_token_counts,
        "mm_features": _q_mm_features,
        "mm_frame_counts": _q_mm_frame_counts,
        "events_json_path": _q_events_json_path,
        "emb_bucket_pairs": _q_emb_bucket_pairs,
        "seq_packing_offsets": _q_seq_packing_offsets,
        "seq_shard_manifest": _q_seq_shard_manifest,
        "seq_exact_dedup": _q_seq_exact_dedup,
        "seq_source_drift": _q_seq_source_drift,
        "seq_dup_gram_coverage": _q_seq_dup_gram_coverage,
        "seq_gram_novelty": _q_seq_gram_novelty,
        "seq_packed_segments": _q_seq_packed_segments,
        "doc_gopher_rules": _q_doc_gopher_rules,
        "seq_sft_loss_mask": _q_seq_sft_loss_mask,
        "seq_corpus_datacard": _q_seq_corpus_datacard,
        "seq_packed_sft": _q_seq_packed_sft,
        "seq_temperature_mix": _q_seq_temperature_mix,
        "seq_epoch_order": _q_seq_epoch_order,
        "seq_balanced_writers": _q_seq_balanced_writers,
        "seq_mixing_plan": _q_seq_mixing_plan,
        "doc_quality_classifier": _q_doc_quality_classifier,
        "doc_tokenize": _q_doc_tokenize,
        "doc_strip_boilerplate": _q_doc_strip_boilerplate,
        "seq_token_contamination": _q_seq_token_contamination,
        "events_value_anomalies": _q_events_value_anomalies,
        "corpus_training_batches": _q_corpus_training_batches,
        "doc_bpe_tokenize": _q_doc_bpe_tokenize,
        "seq_chunk_windows": _q_seq_chunk_windows,
        "seq_weighted_sample": _q_seq_weighted_sample,
        "seq_unigram_scores": _q_seq_unigram_scores,
        "seq_bigram_scores": _q_seq_bigram_scores,
        "seq_repeated_suffix": _q_seq_repeated_suffix,
        "seq_remove_dup_spans": _q_seq_remove_dup_spans,
        "doc_clean_lines": _q_doc_clean_lines,
        "doc_bpe_learned_tokenize": _q_doc_bpe_learned_tokenize,
        "seq_resume_position": _q_seq_resume_position,
        "seq_trim_repeated_suffix": _q_seq_trim_repeated_suffix,
        "emb_semantic_dedup_groups": _q_emb_semantic_dedup_groups,
        "seq_token_entropy": _q_seq_token_entropy,
        "seq_zipf_fit": _q_seq_zipf_fit,
        "seq_cross_source_dups": _q_seq_cross_source_dups,
        "seq_contamination_frac": _q_seq_contamination_frac,
        "seq_vocab_growth": _q_seq_vocab_growth,
        "seq_minhash_candidates": _q_seq_minhash_candidates,
        "doc_curriculum_stages": _q_doc_curriculum_stages,
        "seq_mixed_epoch": _q_seq_mixed_epoch,
        "seq_dedup_groups": _q_seq_dedup_groups,
        "seq_fim_transform": _q_seq_fim_transform,
        "seq_mixed_writer_loads": _q_seq_mixed_writer_loads,
        "seq_span_corruption": _q_seq_span_corruption,
        "doc_dsir_weights": _q_doc_dsir_weights,
        "seq_source_js": _q_seq_source_js,
        "seq_denoiser_mix": _q_seq_denoiser_mix,
        "doc_tokenizer_fertility": _q_doc_tokenizer_fertility,
        "doc_dsir_sample": _q_doc_dsir_sample,
        "seq_length_buckets": _q_seq_length_buckets,
        "doc_split_counts": _q_doc_split_counts,
        "doc_length_quantiles": _q_doc_length_quantiles,
        "events_nested_schema": _q_events_nested_schema,
        "emb_ivf_cells": _q_emb_ivf_cells,
        "emb_ivf_cells_trained": _q_emb_ivf_cells_trained,
        "emb_ivf_topk": _q_emb_ivf_topk,
        "text_repetition": _q_text_repetition,
        "doc_passage_dedup": _q_doc_passage_dedup,
        "doc_contamination": _q_doc_contamination,
        "events_pii_redact": _q_events_pii_redact,
        "doc_stratified_sample": _q_doc_stratified_sample,
        "doc_quality_topk": _q_doc_quality_topk,
        "doc_token_budget_mix": _q_doc_token_budget_mix,
        "corpus_curation_pipeline": _q_corpus_curation_pipeline,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def _routed_cte() -> str:
    return pipeline.routed_sql(N_FIXTURE)


def _parsed_cte() -> str:
    px = parse.parse_sql("line")
    return f"""
    WITH lines AS ({fixtures.raw_lines_sql(N_FIXTURE)})
    SELECT doc_id, line,
           {px['parser']} AS parser,
           {px['ts']} AS ts, {px['level']} AS level,
           {px['provider']} AS provider, {px['doc']} AS doc,
           {px['src']} AS src, {px['n']} AS n
    FROM lines
    """


def _packing_sql() -> str:
    from ulp_spark.operators import packing

    # doc_id/n_tok regenerated WITHOUT the tokens list (this DuckDB build's
    # parser rejects list comprehensions nested inside CTE subqueries) —
    # same integer arithmetic as fixtures.sequences_sql, so identical rows.
    seqtab = (
        f"(SELECT printf('doc-%08d', i) AS doc_id, "
        f"CAST((i*7919) % {fixtures.MAX_TOKENS} + 1 AS INTEGER) AS n_tok "
        f"FROM range(0, {N_FIXTURE}) t(i))"
    )
    return packing.packing_offsets_sql(seqtab)


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


def _seq_dedup_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.sequence_exact_dedup_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})", "tokens", "doc_id")


def _seq_contamination_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.token_contamination_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})", "tokens", "doc_id",
        "source = 'wiki'")


def _source_drift_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.source_token_drift_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})")


def _dup_gram_coverage_sql() -> str:
    from ulp_spark.operators import tokens

    # 2,500 rows to mirror _q_seq_dup_gram_coverage (suite-time trade)
    return tokens.duplicate_gram_coverage_sql(
        f"({fixtures.sequences_sql(2_500)})", "tokens", "doc_id")


def _sft_loss_mask_sql() -> str:
    from ulp_spark.operators import tokens

    inner = (f"(SELECT doc_id, tokens, "
             f"CAST(seq_no * 13 % (n_tok + 5) AS INTEGER) AS prompt_len "
             f"FROM ({fixtures.sequences_sql(2_500)}))")
    return tokens.sft_loss_mask_sql(inner, "tokens", "prompt_len")


def _corpus_datacard_sql() -> str:
    from ulp_spark.operators import profiling as prof

    base = fixtures.sequences_sql(N_FIXTURE)
    both = (f"(SELECT * FROM ({base}) UNION ALL "
            f"SELECT doc_id, tokens, n_tok, NULL AS source, seq_no "
            f"FROM ({base}) WHERE seq_no < 500)")
    return prof.corpus_datacard_sql(both)


def _packed_sft_sql() -> str:
    from ulp_spark.operators import packing, tokens
    from ulp_spark.operators.sampling import hash_bucket_sql

    inner = (f"(SELECT doc_id, tokens, "
             f"CAST(seq_no * 13 % (n_tok + 5) AS INTEGER) AS prompt_len "
             f"FROM ({fixtures.sequences_sql(2_000)}))")
    masked = (f"(SELECT doc_id, tokens, loss_mask FROM "
              f"({tokens.sft_loss_mask_sql(inner, 'tokens', 'prompt_len')}))")
    return packing.bucket_pack_segments_sql(
        masked, "doc_id", "tokens", hash_bucket_sql("doc_id", 64),
        extra_array_cols=["loss_mask"])


def _gram_novelty_sql() -> str:
    from ulp_spark.operators import tokens

    # 2,500 rows to mirror _q_seq_gram_novelty (same suite-time trade)
    return tokens.gram_novelty_sql(
        f"({fixtures.sequences_sql(2_500)})", "tokens", "doc_id")


def _packed_segments_sql() -> str:
    from ulp_spark.operators import packing
    from ulp_spark.operators.sampling import hash_bucket_sql

    return packing.bucket_pack_segments_sql(
        f"({fixtures.sequences_sql(2_000)})", "doc_id", "tokens",
        hash_bucket_sql("doc_id", 64))


def _gopher_rules_sql() -> str:
    from ulp_spark.operators import curation

    return curation.gopher_rules_sql("documents", "text", "doc_id")


def _temperature_mix_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.source_temperature_weights_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})", budget=1_000_000)


def _epoch_order_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.epoch_order_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})", "doc_id", epoch=1)


def _balanced_writers_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.balanced_writer_loads_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})", "n_tok", "doc_id", 8)


def _mixing_plan_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.source_mixing_plan_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})")


def _quality_classifier_sql() -> str:
    from ulp_spark.operators import classifier

    return classifier.linear_quality_score_sql("documents", "text", "doc_id")


def _doc_tokenize_sql() -> str:
    from ulp_spark.operators import tokenizer

    return tokenizer.tokenize_sql(
        "documents", "text", "doc_id", _TOKENIZE_VOCAB)


def _strip_boilerplate_sql() -> str:
    from ulp_spark.operators import curation

    return curation.strip_boilerplate_sql("documents", "text", "doc_id")


def _anomalies_sql() -> str:
    from ulp_spark.operators import anomaly

    return anomaly.value_anomalies_sql("events")


def _token_entropy_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.sequence_token_entropy_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})")


def _zipf_fit_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.zipf_fit_sql(f"({fixtures.sequences_sql(N_FIXTURE)})")


def _cross_source_dups_sql() -> str:
    """The rotated-source union twin of _q_seq_cross_source_dups."""
    from ulp_spark.operators import tokens

    base = fixtures.sequences_sql(N_FIXTURE)
    aug = f"""(
        SELECT tokens, source FROM ({base})
        UNION ALL
        SELECT tokens,
               CASE source WHEN 'web' THEN 'books'
                           WHEN 'books' THEN 'code'
                           WHEN 'code' THEN 'wiki'
                           WHEN 'wiki' THEN 'web' END AS source
        FROM ({base}) WHERE seq_no % 10 = 0)"""
    return tokens.cross_source_dup_matrix_sql(aug)


def _near_dup_aug_sql() -> str:
    """The changed-last-token union twin of _near_dup_aug."""
    base = fixtures.sequences_sql(2_500)
    return f"""(
        SELECT doc_id, tokens FROM ({base})
        UNION ALL
        SELECT doc_id || '-near' AS doc_id,
               tokens[1 : len(tokens) - 1]
                 || [CAST(tokens[-1] + 1 AS INTEGER)] AS tokens
        FROM ({base})
        WHERE seq_no % 20 = 0 AND n_tok >= 8)"""


def _seq_minhash_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.sequence_minhash_candidates_sql(_near_dup_aug_sql())


def _seq_dedup_groups_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.sequence_dedup_groups_sql(_near_dup_aug_sql())


def _vocab_growth_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.vocab_growth_sql(f"({fixtures.sequences_sql(N_FIXTURE)})")


def _mixed_epoch_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.apply_mixing_plan_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})")


def _mixed_writer_loads_sql() -> str:
    from ulp_spark.operators import tokens

    seq_tbl = f"({fixtures.sequences_sql(N_FIXTURE)})"
    mixed = tokens.apply_mixing_plan_sql(seq_tbl)
    inner = f"""(
        SELECT m.doc_id || '#' || CAST(m.epoch_copy AS VARCHAR) AS inst_id,
               s.n_tok
        FROM ({mixed}) m JOIN {seq_tbl} s ON m.doc_id = s.doc_id)"""
    return tokens.balanced_writer_loads_sql(inner, "n_tok", "inst_id", 8)


def _fim_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.fim_transform_sql(f"({fixtures.sequences_sql(N_FIXTURE)})")


def _span_corruption_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.span_corruption_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})",
        rate=0.15, span_len=3)


def _dsir_weights_sql() -> str:
    from ulp_spark.operators import classifier

    return classifier.dsir_importance_sql(
        "documents", "text", "doc_id", "lang = 'en'")


def _source_js_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.source_js_divergence_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})")


def _denoiser_mix_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.denoiser_mix_sql(f"({fixtures.sequences_sql(N_FIXTURE)})")


def _tokenizer_fertility_sql() -> str:
    from ulp_spark.operators import tokenizer

    return tokenizer.fertility_stats_sql(
        "documents",
        tokenizer.tokenize_sql("documents", "text", "doc_id",
                               _TOKENIZE_VOCAB))


def _dsir_sample_sql() -> str:
    from ulp_spark.operators import classifier, sampling

    inner = classifier.dsir_importance_sql(
        "documents", "text", "doc_id", "lang = 'en'")
    return sampling.weighted_sample_sql(
        f"({inner})", "weight", "doc_id", k=100, seed="dsir0")


def _curriculum_sql() -> str:
    from ulp_spark.operators import classifier, tokens

    scored = classifier.linear_quality_score_sql(
        "documents", "text", "doc_id")
    return tokens.curriculum_stages_sql(
        f"(SELECT doc_id, score_centi FROM ({scored}))",
        "score_centi", "doc_id", 4)


def _contamination_frac_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.contamination_coverage_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})", "tokens", "doc_id",
        "source = 'wiki'")


def _chunk_windows_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.chunk_sequences_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})", "tokens", "doc_id")


def _bpe_tokenize_sql() -> str:
    from ulp_spark.operators import tokenizer

    return tokenizer.bpe_tokenize_sql(
        "documents", "text", "doc_id", _BPE_Q_MERGES, _BPE_Q_VOCAB)


def _training_batches_sql() -> str:
    """Flagship oracle: the same tokenize -> fp-census dedup -> shard
    manifest chain, composed from each stage's own SQL twin (the census
    takes min(n_tok) because identical arrays share n_tok)."""
    from ulp_spark.operators import sharding, tokenizer
    from ulp_spark.operators import tokens as _tokens

    tok = tokenizer.tokenize_sql("documents", "text", "doc_id",
                                 _TOKENIZE_VOCAB)
    fp = _tokens.token_fingerprint_sql("tokens")
    surv = (f"(SELECT min(doc_id) AS doc_id, min(n_tok) AS n_tok "
            f"FROM ({tok}) GROUP BY {fp})")
    return sharding.shard_manifest_sql(surv, shard_tokens=1 << 12)


def _semantic_dedup_sql() -> str:
    from ulp_spark.operators import similarity as _sim

    fix = fixtures.clustered_embeddings_sql(400)
    pairs = f"""
        WITH sig AS (
          SELECT vec_id,
                 {_sim.srp_signature_sql('embedding::DOUBLE[]', 64)} AS bucket,
                 embedding
          FROM ({fix})
        ),
        ok AS (  -- the Spark side's hot-bucket cap, mirrored exactly
          SELECT bucket FROM sig GROUP BY bucket
          HAVING count(*) > 1 AND count(*) <= 1000
        ),
        small AS (SELECT * FROM sig WHERE bucket IN (SELECT bucket FROM ok))
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM small a JOIN small b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[]), 6) >= 0.8"""
    return dedup.connected_components_sql(pairs, id_alias="vec_id")


def _resume_position_sql() -> str:
    from ulp_spark.operators import sharding

    man = sharding.shard_manifest_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})",
        shard_tokens=1 << 12)
    return sharding.resume_position_sql(
        f"({man})", global_step=1_000, batch_size=32)


def _naive_bpe_train_for_oracle(rows, n_merges, min_count=2):
    """Recount-from-scratch BPE trainer — the oracle-side independent
    re-derivation of vocab.bpe_merge_loop (each iteration recounts every
    pair over every word; merge the (count desc, pair asc) argmax
    everywhere, L->R non-overlapping)."""
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


def _bpe_learned_tokenize_sql() -> str:
    import duckdb

    from ulp_spark.operators import tokenizer, vocab

    lined = f"({fixtures.lined_docs_sql(600)})"
    wc_sql = vocab.word_counts_sql(lined, "text")
    con = duckdb.connect()
    rows = [(w, n) for w, n in con.sql(wc_sql).fetchall()]
    rows.sort(key=lambda r: (-r[1], r[0]))
    merges, vcb = _naive_bpe_train_for_oracle(rows, n_merges=24)
    words = (f"(SELECT word AS doc_id, word AS text FROM ({wc_sql}))")
    return tokenizer.bpe_tokenize_sql(words, "text", "doc_id", merges, vcb)


def _clean_lines_sql() -> str:
    from ulp_spark.operators import curation

    return curation.clean_lines_sql(
        f"({fixtures.lined_docs_sql(2_000)})", "text", "doc_id")


def _remove_dup_spans_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.remove_duplicate_spans_sql(
        f"({fixtures.sequences_sql(1_500)})", "tokens", "doc_id")


def _aug_tail_sql() -> str:
    """The constructed-tail stream shared by the repeated-suffix
    detector and rewrite oracles."""
    base = fixtures.sequences_sql(N_FIXTURE)
    return f"""(
        SELECT doc_id,
               tokens || flatten([
                 tokens[greatest(len(tokens) - 1, 1) : len(tokens)]
                 FOR r IN range(CAST(seq_no % 4 AS BIGINT))]) AS tokens
        FROM ({base}))"""


def _repeated_suffix_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.repeated_suffix_sql(_aug_tail_sql())


def _trim_repeated_suffix_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.trim_repeated_suffix_sql(_aug_tail_sql())


def _bigram_scores_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.sequence_bigram_scores_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})")


def _unigram_scores_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.sequence_unigram_scores_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})")


def _weighted_sample_sql() -> str:
    from ulp_spark.operators import sampling

    return sampling.weighted_sample_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})", "n_tok", "doc_id",
        k=200, seed="r5", cols="doc_id, n_tok, source")


def _length_buckets_sql() -> str:
    from ulp_spark.operators import packing

    return packing.length_bucket_stats_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})")


def _split_counts_sql() -> str:
    from ulp_spark.operators import sampling

    return f"""
        SELECT {sampling.split_label_sql('doc_id')} AS split, source,
               count(*)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS sum_chars
        FROM documents GROUP BY split, source
    """


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


def oracle_sql() -> dict[str, str]:
    return {k: v for k, v in _all_oracle_sql().items()
            if k not in _PYTEST_ONLY}


def retired_oracle_sql() -> dict[str, str]:
    return {k: v for k, v in _all_oracle_sql().items() if k in _PYTEST_ONLY}


def _all_oracle_sql() -> dict[str, str]:
    px = parse.parse_sql("line")
    provider_expr = "provider"
    fields = parse.all_fields(parse.DEFAULT_PATTERNS)

    # per-field bit_or masks for the route-schema oracle
    mask_cols = ", ".join(
        f"bit_or(1 << ({sniff.sniff_code_sql(f)})) AS mask_{f}" for f in fields
    )
    schema_union = " UNION ALL ".join(
        f"SELECT route, '{f}' AS field, {sniff.resolve_mask_sql(f'mask_{f}')} AS type_code "
        f"FROM masks" for f in fields
    )

    return {
        "pipeline_route_counts": f"""
            SELECT route, count(*)::BIGINT AS n_rows
            FROM ({_routed_cte()}) GROUP BY route
        """,
        "pipeline_parse_fields": f"""
            SELECT doc_id, parser,
                   CASE WHEN parser IS NULL THEN 1 ELSE 0 END AS parse_error,
                   provider, level, n,
                   CAST({sniff.sniff_code_sql(provider_expr)} AS INTEGER) AS provider_type
            FROM ({_parsed_cte()})
        """,
        "pipeline_route_schema": f"""
            WITH routed AS ({_routed_cte()}),
                 parsed AS ({_parsed_cte()}),
                 masks AS (
                   SELECT r.route, {mask_cols}
                   FROM parsed p JOIN routed r USING (doc_id)
                   WHERE p.parser IS NOT NULL
                   GROUP BY r.route
                 )
            SELECT route, field, CAST(type_code AS INTEGER) AS type_code
            FROM ({schema_union})
        """,
        "pipeline_source_token_hist": f"""
            WITH routed AS ({_routed_cte()}),
                 seq AS ({fixtures.sequences_sql(N_FIXTURE)})
            SELECT s.source,
                   CAST(greatest(floor((s.n_tok - 1) / {pipeline.HIST_BUCKET}), 0) AS INTEGER) AS bucket,
                   count(*)::BIGINT AS n_rows,
                   sum(s.n_tok)::BIGINT AS sum_tok
            FROM routed r JOIN seq s USING (doc_id)
            WHERE r.parser IS NOT NULL
            GROUP BY s.source, bucket
        """,
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
        "pipeline_enrich_categories": f"""
            WITH parsed AS ({_parsed_cte()}),
                 dim AS ({fixtures.pattern_dict_sql()})
            SELECT d.category, count(*)::BIGINT AS n_rows
            FROM parsed p LEFT JOIN dim d ON p.provider = d.provider
            WHERE p.parser IS NOT NULL
            GROUP BY d.category
        """,
        # JSON runtime typing (json_type over extracted values): numbers
        # type directly as INT/FLOAT, never re-stringified through the
        # sniff battery — Types::get_type parity (types.rs:29-57).
        "events_json_schema": lattice.json_field_schema_sql("events", "props"),
        "events_cast_props": f"""
            WITH s AS (
              SELECT event_id, v, {sniff.sniff_code_sql("v")} AS code
              FROM (SELECT event_id, json_extract_string(props, '$.k') AS v
                    FROM events)
            ),
            r AS (
              SELECT *, {sniff.materialized_runtime_code_sql("v", "code")} AS rc
              FROM s
            )
            SELECT event_id, v AS k_raw, CAST(code AS INTEGER) AS k_type,
                   {casts.cast_to_int_sql("v", "rc")} AS k_int,
                   CAST({casts.cast_to_int_error_sql("v", "rc")} AS INTEGER)
                     AS k_err
            FROM r
        """,
        "sanitize_event_types": f"""
            SELECT {sanitize.sanitize_sink_name_sql(
                chr(39) + "Sink/" + chr(39) + " || event_type || ' V1'")} AS sink_name,
                   count(*)::BIGINT AS n_rows
            FROM events
            GROUP BY sink_name
        """,
        "doc_exact_dedup": f"""
            SELECT {textstats.fingerprint_sql('text')} AS fp,
                   min(doc_id) AS doc_id,
                   count(*)::BIGINT AS dup_count
            FROM documents GROUP BY fp
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
        "doc_simhash": f"""
            WITH sh AS (
              SELECT doc_id, {dedup.shingle_hashes_sql('text')} AS hashes
              FROM documents
            )
            SELECT doc_id, {dedup.simhash_sql('hashes')} AS simhash FROM sh
        """,
        "doc_ngram_jaccard": f"""
            WITH sh AS (
              SELECT doc_id, {dedup.shingle_hashes_sql('text')} AS s
              FROM documents WHERE doc_id < 50
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CASE WHEN len(list_distinct(a.s || b.s)) > 0
                        THEN len(list_intersect(a.s, b.s))::DOUBLE
                             / len(list_distinct(a.s || b.s))
                        ELSE 0.0 END, 6) AS jaccard
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        """,
        "doc_winnow_candidates": dedup.winnow_candidates_sql(
            "documents", "text", "doc_id"),
        "doc_minhash_candidates": dedup.minhash_candidates_sql(
            "documents", "text", "doc_id"),
        "doc_simhash_candidates": dedup.simhash_candidates_sql(
            "documents", "text", "doc_id"),
        "doc_dedup_groups": dedup.connected_components_sql(
            dedup.minhash_candidates_sql("documents", "text", "doc_id"),
            id_alias="doc_id"),
        "doc_profile": _profiling.profile_table_sql(
            "documents", ["doc_id", "lang", "source", "n_chars"]),
        "vocab_topk": _vocab.vocab_topk_sql("documents", "text"),
        "doc_bigram_coverage": _vocab.bigram_coverage_sql(
            "documents", "text", "doc_id"),
        "bpe_top_merges": _vocab.bpe_top_merges_sql("documents", "text"),
        "emb_topk_cosine": """
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                q.embedding::DOUBLE[]), 6) AS cos_sim
            FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            ORDER BY cos_sim DESC, e.vec_id LIMIT 10
        """,
        "emb_srp_buckets": f"""
            SELECT {similarity.srp_signature_sql('embedding::DOUBLE[]', 64)} AS bucket,
                   count(*)::BIGINT AS n_rows
            FROM embeddings GROUP BY bucket
        """,
        "text_langid": f"""
            SELECT doc_id, {textstats.lang_id_sql('text')} AS lang_pred
            FROM documents
        """,
        "text_quality": f"""
            SELECT doc_id,
                   {textstats.quality_features_sql('text')['n_tokens']} AS n_tokens,
                   {textstats.quality_features_sql('text')['punct_ratio']} AS punct_ratio,
                   {textstats.quality_features_sql('text')['stopword_ratio']} AS stopword_ratio,
                   {textstats.quality_score_sql('text')} AS quality_score
            FROM documents
        """,
        "text_token_counts": f"""
            SELECT doc_id,
                   {textstats.token_count_ws_sql('text')} AS tok_ws,
                   {textstats.token_count_bpe_sql('text')} AS tok_bpe,
                   {textstats.fingerprint_sql('text')} AS fp
            FROM documents
        """,
        # mm_features oracle assumes ASCII text (true for the synthetic
        # corpus): bytes == code points.  byte_hist as its JSON string form
        # (driver hashes can't take raw list cells).
        "mm_features": """
            SELECT doc_id,
                   len(text) AS n_bytes,
                   round(list_aggregate([ord(substr(text, i, 1))
                                         FOR i IN range(1, len(text) + 1)],
                                        'sum')::DOUBLE / len(text), 6) AS byte_mean,
                   CAST(to_json([
                     len(list_filter([ord(substr(text, i, 1))
                                      FOR i IN range(1, len(text) + 1)],
                                     c -> c // 64 = b))
                     FOR b IN range(4)
                   ]) AS VARCHAR) AS byte_hist
            FROM documents
        """,
        "mm_frame_counts": """
            SELECT doc_id,
                   CAST(ceil(len(text) / 16.0) AS BIGINT) AS n_frames,
                   CAST(list_aggregate([least(8, len(text) - o)
                                        FOR o IN range(0, len(text), 16)],
                                       'sum') AS BIGINT) AS frame_bytes
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
        "seq_packing_offsets": _packing_sql(),
        "seq_shard_manifest": _shard_manifest_sql(),
        "seq_exact_dedup": _seq_dedup_sql(),
        "seq_token_contamination": _seq_contamination_sql(),
        "events_value_anomalies": _anomalies_sql(),
        "corpus_training_batches": _training_batches_sql(),
        "doc_bpe_tokenize": _bpe_tokenize_sql(),
        "seq_chunk_windows": _chunk_windows_sql(),
        "seq_weighted_sample": _weighted_sample_sql(),
        "seq_unigram_scores": _unigram_scores_sql(),
        "seq_bigram_scores": _bigram_scores_sql(),
        "seq_repeated_suffix": _repeated_suffix_sql(),
        "seq_remove_dup_spans": _remove_dup_spans_sql(),
        "doc_clean_lines": _clean_lines_sql(),
        "doc_bpe_learned_tokenize": _bpe_learned_tokenize_sql(),
        "seq_resume_position": _resume_position_sql(),
        "seq_trim_repeated_suffix": _trim_repeated_suffix_sql(),
        "emb_semantic_dedup_groups": _semantic_dedup_sql(),
        "seq_token_entropy": _token_entropy_sql(),
        "seq_zipf_fit": _zipf_fit_sql(),
        "seq_cross_source_dups": _cross_source_dups_sql(),
        "seq_contamination_frac": _contamination_frac_sql(),
        "seq_vocab_growth": _vocab_growth_sql(),
        "seq_minhash_candidates": _seq_minhash_sql(),
        "doc_curriculum_stages": _curriculum_sql(),
        "seq_mixed_epoch": _mixed_epoch_sql(),
        "seq_dedup_groups": _seq_dedup_groups_sql(),
        "seq_fim_transform": _fim_sql(),
        "seq_mixed_writer_loads": _mixed_writer_loads_sql(),
        "seq_span_corruption": _span_corruption_sql(),
        "doc_dsir_weights": _dsir_weights_sql(),
        "seq_source_js": _source_js_sql(),
        "seq_denoiser_mix": _denoiser_mix_sql(),
        "doc_tokenizer_fertility": _tokenizer_fertility_sql(),
        "doc_dsir_sample": _dsir_sample_sql(),
        "seq_length_buckets": _length_buckets_sql(),
        "seq_source_drift": _source_drift_sql(),
        "seq_dup_gram_coverage": _dup_gram_coverage_sql(),
        "seq_gram_novelty": _gram_novelty_sql(),
        "seq_packed_segments": _packed_segments_sql(),
        "doc_gopher_rules": _gopher_rules_sql(),
        "seq_sft_loss_mask": _sft_loss_mask_sql(),
        "seq_corpus_datacard": _corpus_datacard_sql(),
        "seq_packed_sft": _packed_sft_sql(),
        "seq_temperature_mix": _temperature_mix_sql(),
        "seq_epoch_order": _epoch_order_sql(),
        "seq_balanced_writers": _balanced_writers_sql(),
        "seq_mixing_plan": _mixing_plan_sql(),
        "doc_quality_classifier": _quality_classifier_sql(),
        "doc_tokenize": _doc_tokenize_sql(),
        "doc_strip_boilerplate": _strip_boilerplate_sql(),
        "doc_split_counts": _split_counts_sql(),
        "doc_length_quantiles": """
            SELECT source,
                   round(quantile_cont(n_chars, 0.5), 6) AS p50,
                   round(quantile_cont(n_chars, 0.9), 6) AS p90,
                   round(quantile_cont(n_chars, 0.99), 6) AS p99
            FROM documents GROUP BY source
        """,
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
        "emb_ivf_topk": """
            WITH cents AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
            ),
            q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
            probe AS (
              SELECT c.cell FROM cents c, q
              ORDER BY round(list_cosine_similarity(
                  c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) DESC, c.cell
              LIMIT 2
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
            SELECT a.vec_id, a.cell,
                   round(list_cosine_similarity(
                       e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cos_sim
            FROM assign a
            JOIN embeddings e ON a.vec_id = e.vec_id, q
            WHERE a.rn = 1 AND a.cell IN (SELECT cell FROM probe)
            ORDER BY cos_sim DESC, a.vec_id LIMIT 10
        """,
        "text_repetition": _curation_repetition_oracle(),
        "doc_passage_dedup": _curation_passage_oracle(),
        "doc_contamination": _curation_contamination_oracle(),
        "events_pii_redact": _curation_pii_oracle(),
        "doc_stratified_sample": _stratified_sample_oracle(),
        "doc_quality_topk": _quality_topk_oracle(),
        "doc_token_budget_mix": _token_budget_oracle(),
        "corpus_curation_pipeline": _curation_pipeline_oracle(),
    }


def _curation_repetition_oracle() -> str:
    from ulp_spark.operators import curation

    sig = curation.repetition_signals_sql("text")
    cols = ", ".join(f"{v} AS {k}" for k, v in sig.items())
    return f"SELECT doc_id, {cols} FROM documents"


def _curation_passage_oracle() -> str:
    from ulp_spark.operators import curation

    return curation.passage_dup_stats_sql("documents", "text", "doc_id")


def _curation_contamination_oracle() -> str:
    from ulp_spark.operators import curation, sampling

    pred = f"{sampling.hash_bucket_sql('doc_id', 100)} < {_EVAL_PCT}"
    inner = curation.contamination_sql("documents", "text", "doc_id", pred)
    return (f"SELECT doc_id, is_contaminated::INT AS is_contaminated "
            f"FROM ({inner})")


def _curation_pii_oracle() -> str:
    from ulp_spark.operators import curation

    line = ("(event_type || ' u' || CAST(user_id AS VARCHAR) "
            "|| '@example.com from 10.' || CAST(user_id % 256 AS VARCHAR) "
            "|| '.' || CAST(event_id % 256 AS VARCHAR) || '.7')")
    red, counts = curation.redact_sql(line)
    count_cols = ", ".join(f"{v}::BIGINT AS n_{k}" for k, v in counts.items())
    return f"SELECT event_id, {red} AS redacted, {count_cols} FROM events"


def _quality_topk_oracle() -> str:
    from ulp_spark.operators import curation

    return curation.quality_topk_sql("documents", "text", "doc_id", "source")


def _token_budget_oracle() -> str:
    from ulp_spark.operators import curation

    return curation.token_budget_mix_sql("documents", "text", "doc_id",
                                         "source", budget=_TOKEN_BUDGET)


def _curation_pipeline_oracle() -> str:
    from ulp_spark.operators import curation, sampling

    sig = curation.repetition_signals_sql("text")
    keep = sampling.stratified_keep_sql("doc_id", "lang", _STRAT_RATES)
    return f"""
        WITH deduped AS (
            SELECT doc_id, lang, text,
                   {textstats.fingerprint_sql('text')} AS fp
            FROM documents
            QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)
        )
        SELECT lang, count(*)::BIGINT AS n_docs,
               sum({textstats.token_count_ws_sql('text')})::BIGINT AS n_tokens
        FROM deduped
        WHERE ({sig['dup_word_frac']}) <= {_MAX_DUP_WORD}
          AND ({textstats.quality_score_sql('text')}) >= {_MIN_QUALITY}
          AND {keep}
        GROUP BY lang
    """


def _stratified_sample_oracle() -> str:
    from ulp_spark.operators import sampling

    keep = sampling.stratified_keep_sql("doc_id", "lang", _STRAT_RATES)
    return (f"SELECT lang, count(*)::BIGINT AS n_total, "
            f"sum(({keep})::INT)::BIGINT AS n_kept "
            f"FROM documents GROUP BY lang")
