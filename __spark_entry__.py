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
from ulp_spark.functions import casts, sniff, sqltext
from ulp_spark.operators import dedup, lattice, parse, textstats
from ulp_spark.plans import pipeline

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


# ---- training-data ops over documents/embeddings --------------------------

def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


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


def _q_seq_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sequence dedup on TOKEN IDS (md5 over the int array)."""
    from ulp_spark.operators import tokens

    seq = fixtures.sequences(spark, N_FIXTURE)
    return tokens.sequence_exact_dedup(seq, "tokens", "doc_id")


def _q_seq_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence novelty: fraction of each sequence's distinct 8-token
    windows whose FIRST corpus occurrence (ascending doc_id — ingest
    order) is in that sequence — the marginal-contribution signal for
    admit-by-novelty curation.  Distinct (id, gram) pairs seamed once;
    census (min id) + rollup both read the seam."""
    from ulp_spark.operators import tokens

    # 2,500 rows, not N_FIXTURE: the distinct-pair frame is the cost
    # driver on the DuckDB side, and 2,500 rows exercise census + rollup.
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
    split (source='wiki') — thresholdable, not a binary any-hit flag.
    Eval grams broadcast; train side keeps its partitioning."""
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


# ---- corpus curation (repetition / passage dedup / decontamination / PII) --

_STRAT_RATES = {"en": 10, "de": 50, "fr": 50, "es": 50, "zh": 20}


_MIN_QUALITY = 0.7
_MAX_DUP_WORD = 0.55


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


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pipeline_route_counts": _q_route_counts,
        "pipeline_parse_fields": _q_parse_fields,
        "pipeline_route_schema": _q_route_schema,
        "pipeline_source_token_hist": _q_source_token_hist,
        "pipeline_enrich_categories": _q_enrich_categories,
        "events_json_schema": _q_events_json_schema,
        "events_cast_props": _q_events_cast_props,
        "doc_winnow_candidates": _q_doc_winnow_candidates,
        "seq_exact_dedup": _q_seq_exact_dedup,
        "seq_gram_novelty": _q_seq_gram_novelty,
        "seq_packed_segments": _q_seq_packed_segments,
        "doc_gopher_rules": _q_doc_gopher_rules,
        "seq_epoch_order": _q_seq_epoch_order,
        "seq_balanced_writers": _q_seq_balanced_writers,
        "seq_mixing_plan": _q_seq_mixing_plan,
        "doc_quality_classifier": _q_doc_quality_classifier,
        "doc_tokenize": _q_doc_tokenize,
        "doc_strip_boilerplate": _q_doc_strip_boilerplate,
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


def _seq_dedup_sql() -> str:
    from ulp_spark.operators import tokens

    return tokens.sequence_exact_dedup_sql(
        f"({fixtures.sequences_sql(N_FIXTURE)})", "tokens", "doc_id")


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


def oracle_sql() -> dict[str, str]:
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
        "doc_winnow_candidates": dedup.winnow_candidates_sql(
            "documents", "text", "doc_id"),
        "seq_exact_dedup": _seq_dedup_sql(),
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
        "seq_gram_novelty": _gram_novelty_sql(),
        "seq_packed_segments": _packed_segments_sql(),
        "doc_gopher_rules": _gopher_rules_sql(),
        "seq_epoch_order": _epoch_order_sql(),
        "seq_balanced_writers": _balanced_writers_sql(),
        "seq_mixing_plan": _mixing_plan_sql(),
        "doc_quality_classifier": _quality_classifier_sql(),
        "doc_tokenize": _doc_tokenize_sql(),
        "doc_strip_boilerplate": _strip_boilerplate_sql(),
        "corpus_curation_pipeline": _curation_pipeline_oracle(),
    }


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


