"""Token-array operators over the pre-tokenized sequence table
``(doc_id, tokens array<int32>, n_tok, source)`` — the BASELINE.json
input_hint shape.  Text-side dedup/decontamination (operators/dedup.py,
operators/curation.py) works on characters; these are the same pipeline
stages expressed directly on token ids, the form a training pipeline has
AFTER tokenization.

Everything is JVM expression-only (transform/slice/md5 inside whole-stage
codegen); the only shuffles are the groupBy on the fingerprint and the
broadcast semi-join against the (small) eval gram set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ulp_spark.session import local_frame, seam

GRAM = 8  # contamination n-gram length, in tokens
MAX_PERIOD = 8  # longest repeating block the suffix detector tries
VOCAB_SIZE = 50257  # V of the add-alpha token LMs (the fixtures' vocab)
LM_ALPHA = 0.5  # add-alpha smoothing of the token LMs
MIX_SEED = "mix0"  # md5 seed of apply_mixing_plan's tail draw
MIX_ALPHA = 0.5  # source mixing temperature: q proportional to p**MIX_ALPHA
MIX_BUDGET = 2_000_000  # tokens apply_mixing_plan's epoch spends
EPOCH_SEED = 42  # key of the epoch shuffle
# chunk_sequences: window length, step between window starts, and the
# shortest trailing window kept
CHUNK_LEN, CHUNK_STRIDE, CHUNK_MIN_TOKENS = 128, 96, 16
# vocab_growth's checkpoints, in corpus tokens
GROWTH_CHECKPOINTS = (1_000, 10_000, 100_000, 1_000_000, 3_000_000)
# fim_transform: share of sequences rewritten, and its PRE/MID/SUF
# sentinels (outside the vocab)
FIM_RATE = 0.5
FIM_PRE_ID, FIM_MID_ID, FIM_SUF_ID = 60001, 60002, 60003
# UL2 denoiser_mix mode tokens (outside the vocab)
UL2_R_ID, UL2_X_ID, UL2_S_ID = 52000, 52001, 52002
# span_corruption's first sentinel id, also UL2's S-mode sentinel
UL2_SENTINEL = 51000


def token_fingerprint(tokens: Column) -> Column:
    """md5 over the comma-joined token ids — one 128-bit key per sequence.

    Serialization is exact (int renders identically in Spark and DuckDB),
    so equal fingerprints <=> equal arrays up to md5 collision."""
    return F.md5(F.concat_ws(",", F.transform(tokens, lambda t: t.cast("string"))))


def token_fingerprint_sql(tokens: str) -> str:
    return f"md5(array_to_string({tokens}, ','))"


def sequence_exact_dedup(
    df: DataFrame, tokens_col: str, id_col: str
) -> DataFrame:
    """One survivor per identical token array: (fp, doc_id=min, dup_count).

    Bitwise-identical sequences collapse no matter which documents
    produced them.  Shuffle moves (fp, id) only; the arrays never leave
    the scan stage."""
    return (
        df.select(token_fingerprint(F.col(tokens_col)).alias("fp"),
                  F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col),
             F.count(F.lit(1)).alias("dup_count"))
    )


def sequence_exact_dedup_sql(table: str, tokens_col: str, id_col: str) -> str:
    return f"""
        SELECT {token_fingerprint_sql(tokens_col)} AS fp,
               min({id_col}) AS {id_col},
               count(*)::BIGINT AS dup_count
        FROM {table} GROUP BY fp
    """


def token_grams(tokens: Column) -> Column:
    """md5 keys of all consecutive ``GRAM``-token windows (empty if
    shorter).

    Hashing each window keeps the join key 16 bytes regardless of the
    window length and sidesteps array-equality join keys on both
    engines."""
    k = GRAM
    n = F.size(tokens)
    # element_at instead of slice+transform (slice allocates an array per
    # window, see curation.word_grams): windows are full by the sequence
    # bound, identical md5 keys
    windows = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda j: F.md5(F.concat_ws(",", *[
                F.element_at(tokens, j + i).cast("string")
                for i in range(k)])),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return windows


def token_grams_sql(tokens: str) -> str:
    k = GRAM
    return (
        f"[md5(array_to_string({tokens}[j:j+{k - 1}], ',')) "
        f"FOR j IN range(1, greatest(len({tokens}) - {k - 1}, 0) + 1)]"
    )


def source_temperature_weights(df: DataFrame, budget: int) -> DataFrame:
    """Temperature-based source mixing weights — the multilingual /
    multi-corpus reweighting scheme (XLM-R's exponentiated sampling,
    alpha = ``MIX_ALPHA``): a source holding share p of the corpus tokens
    is sampled with probability q proportional to p**alpha, up-weighting
    low-resource sources without discarding anything.

    Returns one row per source: (source, n_tokens, p_natural, q_temp,
    up_weight, budget_tokens) where q_temp = n_s**alpha / sum_t
    n_t**alpha (the corpus total cancels algebraically, so no second
    normalization pass is needed), up_weight = q/p is the per-token
    sampling multiplier a downstream sampler applies, and budget_tokens =
    floor(q * budget), the source's share of the token budget (floor, not
    round — identical banker's-vs-half-up behavior on both engines).  All ratios
    rounded to 6 dp for cross-engine parity.

    Scale shape: ONE aggregate over (source, n_tok) — map-side combine
    collapses to |sources| rows before the only exchange; the normalizer
    joins back as a single-row broadcast (BroadcastNestedLoopJoin over
    one row).  Null sources bucket as '__null__'.
    """
    per = (
        df.select(F.coalesce(F.col("source"), F.lit("__null__"))
                  .alias("source"),
                  F.col("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tokens"))
    )
    # |sources| rows after ONE corpus pass; the normalizer aggregate and
    # the output projection both read the seam, never the corpus again
    per = seam(per)
    tot = per.agg(
        F.sum("n_tokens").cast("double").alias("__N"),
        F.sum(F.pow("n_tokens", F.lit(MIX_ALPHA))).alias("__Z"),
    )
    p = F.col("n_tokens") / F.col("__N")
    q = F.pow("n_tokens", F.lit(MIX_ALPHA)) / F.col("__Z")
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("source"), F.col("n_tokens"),
        F.round(p, 6).alias("p_natural"),
        F.round(q, 6).alias("q_temp"),
        F.round(q / p, 6).alias("up_weight"),
        F.floor(q * F.lit(float(budget))).cast("bigint")
        .alias("budget_tokens"),
    )


def source_temperature_weights_sql(table: str, budget: int) -> str:
    """DuckDB twin: same cancelled-normalizer derivation."""
    return f"""
        WITH per AS (
          SELECT coalesce(source, '__null__') AS source,
                 sum(n_tok)::BIGINT AS n_tokens
          FROM {table} GROUP BY 1
        ),
        t AS (SELECT sum(n_tokens)::DOUBLE AS n,
                     sum(pow(n_tokens, {MIX_ALPHA})) AS z FROM per)
        SELECT source, n_tokens,
               round(n_tokens / t.n, 6) AS p_natural,
               round(pow(n_tokens, {MIX_ALPHA}) / t.z, 6) AS q_temp,
               round((pow(n_tokens, {MIX_ALPHA}) / t.z)
                     / (n_tokens / t.n), 6) AS up_weight,
               floor(pow(n_tokens, {MIX_ALPHA}) / t.z * {float(budget)})::BIGINT AS budget_tokens
        FROM per CROSS JOIN t
    """


# --------------------------------------------------------------------------
# deterministic epoch shuffle (reproducible global training order)
# --------------------------------------------------------------------------

def epoch_shuffle_key(id_col: Column, epoch: int) -> Column:
    """md5('{EPOCH_SEED}:{epoch}:{doc_id}') — a keyed, reproducible
    permutation of the corpus per epoch.  Changing the epoch re-permutes
    everything; re-running the same epoch reproduces the exact order on
    any cluster size or partitioning."""
    return F.md5(F.concat_ws(
        ":", F.lit(str(EPOCH_SEED)), F.lit(str(epoch)),
        id_col.cast("string")))


def epoch_order(df: DataFrame, id_col: str, epoch: int) -> DataFrame:
    """Global training order for one epoch: (id, shuffle_key, epoch_rank)
    with epoch_rank a gap-free 0-based global position in shuffle_key
    order — the deterministic dataloader-order contract (every worker can
    recompute which rank range it owns without coordination).

    Requires unique ids (the fixture's doc_id is); equal keys would make
    the rank ordering engine-dependent.

    Scale shape: the rank is packing.global_cumsum over ones — bucket ids
    from broadcast sampled boundaries, ONE full-data exchange, no global
    single-partition window (a naive row_number() OVER (ORDER BY key)
    collapses the corpus to one reducer; this is the distributed form).
    At write time the same key doubles as the repartitionByRange +
    sortWithinPartitions key, so materializing the epoch order costs the
    one exchange the rank already paid.
    """
    from ulp_spark.operators.packing import global_cumsum

    keyed = df.select(
        F.col(id_col),
        epoch_shuffle_key(F.col(id_col), epoch).alias("shuffle_key"),
    ).withColumn("__one", F.lit(1))
    ranked = global_cumsum(keyed, "shuffle_key", "__one",
                           out_col="epoch_rank")
    return ranked.select(
        id_col, "shuffle_key", F.col("epoch_rank").cast("bigint"))


def epoch_order_sql(table: str, id_col: str, epoch: int) -> str:
    key = f"md5(concat_ws(':', '{EPOCH_SEED}', '{epoch}', {id_col}))"
    return f"""
        SELECT {id_col},
               {key} AS shuffle_key,
               (row_number() OVER (
                  ORDER BY {key})
                - 1)::BIGINT AS epoch_rank
        FROM {table}
    """


# --------------------------------------------------------------------------
# token-balanced writer assignment (fixed writer pool, minimal skew)
# --------------------------------------------------------------------------

def balanced_writers(
    df: DataFrame, n_tok_col: str, id_col: str, n_writers: int,
) -> DataFrame:
    """Assign each sequence to one of ``n_writers`` writers so per-writer
    TOKEN loads are near-equal: sort by (n_tok desc, id), deal in snake
    (boustrophedon) order 0..W-1, W-1..0, ...  Complementary to
    sharding.shard_assign (contiguous shards of ~budget tokens, writer
    count emergent): here the writer COUNT is fixed — the "I have exactly
    W output streams / files / task slots" case — and the imbalance is
    bounded: after each full down-and-up pass every writer holds one item
    from the heavy end and one from the light end, so max-min load never
    exceeds the largest single sequence (property pinned in pytest on
    adversarial inputs).

    Returns (id, n_tok, writer).  Scale shape: the global sort rank is
    packing.global_cumsum over a zero-padded composite key (no global
    single-partition window); writer derives from the rank by pure
    arithmetic; the only full-data exchange is the rank's bucket
    partition.  Ties beyond (n_tok, id) cannot occur (unique ids).
    """
    from ulp_spark.operators.packing import global_cumsum

    key = F.format_string(
        "%010d|%s", F.lit(2147483647) - F.col(n_tok_col).cast("int"),
        F.col(id_col).cast("string"))
    keyed = df.select(
        F.col(id_col), F.col(n_tok_col), key.alias("__bw_key"),
    ).withColumn("__one", F.lit(1))
    ranked = global_cumsum(keyed, "__bw_key", "__one", out_col="__rank")
    period = 2 * n_writers
    pos = F.col("__rank") % period
    writer = F.when(pos < n_writers, pos).otherwise(period - 1 - pos)
    return ranked.select(
        id_col, n_tok_col, writer.cast("int").alias("writer"))


def writer_loads(assigned: DataFrame) -> DataFrame:
    """Per-writer load summary of a balanced_writers assignment over
    ``n_tok``: (writer, n_seqs, n_tokens) — the skew report a 100-TB job
    watches."""
    return assigned.groupBy("writer").agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum(F.col("n_tok").cast("bigint")).alias("n_tokens"))


def balanced_writer_loads_sql(
    table: str, n_tok_col: str, id_col: str, n_writers: int,
) -> str:
    p = 2 * n_writers
    return f"""
        WITH r AS (
          SELECT {id_col}, {n_tok_col},
                 row_number() OVER (ORDER BY printf('%010d|%s',
                     2147483647 - {n_tok_col}, {id_col})) - 1 AS rk
          FROM {table}
        ),
        a AS (
          SELECT {n_tok_col},
                 CAST(CASE WHEN rk % {p} < {n_writers} THEN rk % {p}
                      ELSE {p} - 1 - rk % {p} END AS INT) AS writer
          FROM r
        )
        SELECT writer, count(*)::BIGINT AS n_seqs,
               sum({n_tok_col})::BIGINT AS n_tokens
        FROM a GROUP BY writer
    """


def source_mixing_plan(df: DataFrame, budget: int) -> DataFrame:
    """Executable form of source_temperature_weights: per source, how
    many FULL passes over its data to take plus the fractional tail —
    (source, n_tokens, budget_tokens, n_epochs, tail_frac), where
    budget_tokens = floor(q_temp * budget), n_epochs = budget_tokens div
    n_tokens, and tail_frac is the remainder as a sampling rate a
    deterministic sampler (a ``sampling.hash_bucket`` predicate) applies
    to the final pass.  Upsampled low-resource sources get n_epochs >= 1 + a
    partial pass; downsampled ones get n_epochs = 0 + a thinning rate.

    Same scale shape as source_temperature_weights (one aggregate to
    |sources| rows); the arithmetic is per-source scalar algebra.
    """
    w = source_temperature_weights(df, budget=budget)
    bt = F.col("budget_tokens")
    nt = F.col("n_tokens")
    return w.select(
        "source", "n_tokens", "budget_tokens",
        F.floor(bt / nt).cast("bigint").alias("n_epochs"),
        F.round((bt % nt) / nt, 6).alias("tail_frac"),
    )


def source_mixing_plan_sql(table: str) -> str:
    inner = source_temperature_weights_sql(table, budget=MIX_BUDGET)
    return f"""
        SELECT source, n_tokens, budget_tokens,
               (budget_tokens // n_tokens)::BIGINT AS n_epochs,
               round((budget_tokens % n_tokens)::DOUBLE / n_tokens, 6)
                 AS tail_frac
        FROM ({inner})
    """


def chunk_sequences(df: DataFrame, tokens_col: str, id_col: str) -> DataFrame:
    """Split each sequence into ``CHUNK_LEN``-token windows — the
    long-document complement to packing.pack_bins (which NEVER splits):
    chunk i covers tokens [i*CHUNK_STRIDE, i*CHUNK_STRIDE + CHUNK_LEN);
    the stride is shorter than the window, so windows overlap
    (GPT-style sliding-window chunking, so no token loses its left
    context at a hard boundary).  Returns (id, chunk_idx, tokens,
    n_tok); trailing windows shorter than ``CHUNK_MIN_TOKENS`` are
    dropped (empty sequences produce no rows).

    Scale shape: a narrow per-row explode — ``sequence`` of starts +
    ``slice`` per window, JVM higher-order functions end to end, no
    shuffle; output co-partitions with the input.  Row growth is
    n/CHUNK_STRIDE chunks per sequence (bounded by design); the overlap
    factor CHUNK_LEN/CHUNK_STRIDE multiplies bytes out, which is the
    documented cost of sliding-window training data.
    """
    n = F.size(F.col(tokens_col))
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(CHUNK_STRIDE))) \
        .otherwise(F.array().cast("array<int>"))
    chunk = F.slice(
        F.col(tokens_col), F.col("__start") + 1, F.lit(CHUNK_LEN))
    ex = df.select(
        F.col(id_col),
        F.col(tokens_col),
        F.posexplode(starts).alias("chunk_idx", "__start"),
    )
    return (
        ex.select(
            id_col, "chunk_idx",
            chunk.alias(tokens_col),
            F.size(chunk).alias("n_tok"))
        .filter(F.col("n_tok") >= CHUNK_MIN_TOKENS)
    )


def chunk_sequences_sql(table: str, tokens_col: str, id_col: str) -> str:
    return f"""
        SELECT {id_col}, chunk_idx,
               tokens, len(tokens)::INT AS n_tok
        FROM (
          SELECT {id_col},
                 CAST(s.i // {CHUNK_STRIDE} AS INT) AS chunk_idx,
                 {tokens_col}[s.i + 1 : s.i + {CHUNK_LEN}] AS tokens
          FROM {table},
               LATERAL (SELECT unnest(range(0, greatest(len({tokens_col}), 0),
                                            {CHUNK_STRIDE})) AS i) s
        )
        WHERE len(tokens) >= {CHUNK_MIN_TOKENS}
    """


# --------------------------------------------------------------------------
# Unigram LM scoring — the perplexity-filter analog on token ids
# --------------------------------------------------------------------------

def unigram_logprob_table(df: DataFrame) -> DataFrame:
    """Additively-smoothed corpus unigram log-probs: one row per observed
    token id — (t, n_t, logp_micro) with logp_micro = round(ln((n_t +
    alpha) / (N + alpha*V)) * 1e6) as BIGINT (alpha = ``LM_ALPHA``,
    V = ``VOCAB_SIZE``).  Micro-nat INTEGERS are the
    cross-engine determinism move (classifier.py precedent): downstream
    sums of bigints are exact in any aggregation order, where summing
    raw doubles would drift by partition layout.

    Scale shape: explode -> groupBy(t) with map-side combine collapses
    the token explosion to <= |vocab| rows before the one shuffle; the
    corpus total comes from a second aggregate OVER THOSE COUNTS (vocab
    scale, never a rescan).
    """
    cnt = (
        df.select(F.explode(F.col("tokens")).alias("t"))
        .groupBy("t").agg(F.count(F.lit(1)).alias("n_t"))
    )
    cnt = seam(cnt)  # feeds the total AND the logp projection
    # the corpus total rides a broadcast 1-row crossJoin (the twin's tot
    # CTE): no separate collect job, and the total stays inside the plan
    # (the seam itself still materializes its upstream shuffle stages at
    # build — an AQE localCheckpoint property shared by every seam here)
    tot = cnt.agg(F.coalesce(F.sum("n_t"), F.lit(0)).cast("double")
                  .alias("__n_all"))
    denom = F.col("__n_all") + F.lit(LM_ALPHA * VOCAB_SIZE)
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "t", "n_t",
            F.round(F.log((F.col("n_t") + F.lit(LM_ALPHA)) / denom) * 1e6)
            .cast("bigint").alias("logp_micro"),
        )
    )


def sequence_unigram_scores(df: DataFrame) -> DataFrame:
    """Per-sequence unigram cross-entropy — the CCNet-style perplexity
    quality signal expressed on token ids: (id, n_tok, logp_micro_sum,
    ce_nats) where ce_nats = -logp_micro_sum / (n_tok * 1e6).  Low ce =
    stereotyped/repetitive token stream; high ce = rare-token soup —
    both tails are what a perplexity band-pass filter drops.

    The probabilities are the corpus's own unigram table
    (self-scoring: every token is observed by construction, so the join
    below is lossless).

    Scale shape: the explode keeps its partitioning; the vocab-scale
    probs side broadcast-joins (AQE), and the groupBy(id) partial-
    aggregates each document's tokens to ONE row map-side before the
    only document-scale shuffle.  The bigint sum is the exact anchor;
    the one double division per row is IEEE-identical in any engine.
    """
    p = unigram_logprob_table(df)
    ex = df.select(F.col("doc_id"), F.explode(F.col("tokens")).alias("t"))
    joined = ex.join(F.broadcast(p.select("t", "logp_micro")), "t", "left")
    agg = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum("logp_micro").cast("bigint").alias("logp_micro_sum"),
    )
    return agg.select(
        "doc_id",
        F.col("n_tok").cast("int").alias("n_tok"),
        "logp_micro_sum",
        F.round(-F.col("logp_micro_sum")
                / (F.col("n_tok") * F.lit(1e6)), 6).alias("ce_nats"),
    )


def sequence_unigram_scores_sql(table: str) -> str:
    """DuckDB twin of the SELF-SCORING form (probs derived from the same
    table, same micro-nat quantization)."""
    return f"""
        WITH ex AS (
          SELECT doc_id AS id, unnest(tokens) AS t FROM {table}
        ),
        cnt AS (SELECT t, count(*) AS n_t FROM ex GROUP BY t),
        tot AS (SELECT sum(n_t)::DOUBLE AS n FROM cnt),
        lp AS (
          SELECT t, CAST(round(ln((n_t + {LM_ALPHA}) /
                                  (tot.n + {LM_ALPHA} * {VOCAB_SIZE})) * 1e6)
                         AS BIGINT) AS logp_micro
          FROM cnt CROSS JOIN tot
        )
        SELECT ex.id AS doc_id,
               count(*)::INT AS n_tok,
               sum(lp.logp_micro)::BIGINT AS logp_micro_sum,
               round(-sum(lp.logp_micro)
                     / (count(*) * 1e6), 6) AS ce_nats
        FROM ex JOIN lp USING (t)
        GROUP BY ex.id
    """


def repeated_suffix(df: DataFrame) -> DataFrame:
    """Trailing-repetition detector on token ids — the degenerate-loop
    signal (model-generated or scraper-mangled text that ends in
    `... A B A B A B`): for each period p <= MAX_PERIOD, measure the
    longest suffix L(p) where tokens[i] == tokens[i-p], and report the
    best period — (id, n_tok, period, n_copies, trim_tokens) with
    n_copies = floor(L/p) + 1 complete copies of the final p-block and
    trim_tokens = floor(L/p)*p redundant trailing tokens a cleaner would
    drop.  Sequences with no trailing repeat report (0, 1, 0); ties on
    trim_tokens resolve to the SMALLEST period (the fundamental one —
    `A A A A` is period 1, not 2).

    Scale shape: pure per-row JVM expression work — MAX_PERIOD
    O(n)-scans inside one codegen stage,
    no shuffle, no UDF; output co-partitions with the input.
    """
    toks = F.col("tokens")
    n = F.size(toks)
    best = _best_repeat(toks)
    return df.select(
        F.col("doc_id"),
        n.cast("int").alias("n_tok"),
        best["period"].cast("int").alias("period"),
        best["n_copies"].alias("n_copies"),
        best["trim_tokens"].alias("trim_tokens"),
    )


def _best_repeat(toks: Column) -> Column:
    """Struct column (trim_tokens, neg_p, period, n_copies) for the best
    trailing repeat of ``toks`` — the shared core of the
    ``repeated_suffix`` detector and the ``trim_repeated_suffix``
    rewrite.  (trim desc, period asc) tie-break via array_max over
    structs; the no-repeat fallback is (0, 0, 0, 1)."""
    n = F.size(toks)

    def stats_for(p: int):
        # cmp[i] = 1 iff the i-th token FROM THE END equals the one a
        # period earlier; L = length of the leading all-1 run.
        # sequence(1, 0) is DESCENDING in Spark (the recorded
        # shingles regression), so gate the whole transform on n-p >= 1.
        cmp = F.when(
            n - p >= 1,
            F.transform(
                F.sequence(F.lit(1), n - p),
                lambda i: F.when(
                    F.element_at(toks, n - i + 1)
                    == F.element_at(toks, n - i + 1 - p), F.lit(1))
                .otherwise(F.lit(0))),
        ).otherwise(F.array().cast("array<int>"))
        pos = F.array_position(cmp, 0)          # 0 when no mismatch
        L = F.when(n - p <= 0, F.lit(0)) \
            .when(pos == 0, n - p).otherwise(pos - 1)
        trim = F.floor(L / p) * p
        return F.struct(
            trim.cast("int").alias("trim_tokens"),
            F.lit(-p).alias("neg_p"),
            F.lit(p).alias("period"),
            (F.floor(L / p) + 1).cast("int").alias("n_copies"))

    best = F.array_max(F.array(*[stats_for(p)
                                 for p in range(1, MAX_PERIOD + 1)]))
    none = F.struct(F.lit(0).cast("int").alias("trim_tokens"),
                    F.lit(0).alias("neg_p"), F.lit(0).alias("period"),
                    F.lit(1).cast("int").alias("n_copies"))
    return F.when(best["trim_tokens"] > 0, best).otherwise(none)


def _best_repeat_sql(tokens_col: str) -> str:
    """DuckDB expression for _best_repeat's struct (pre-fallback)."""
    n = f"len({tokens_col})"
    cands = []
    for p in range(1, MAX_PERIOD + 1):
        cmp = (f"[CASE WHEN {tokens_col}[{n} - i + 1] = "
               f"{tokens_col}[{n} - i + 1 - {p}] THEN 1 ELSE 0 END "
               f"FOR i IN range(1, greatest({n} - {p}, 0) + 1)]")
        # list_position returns 0/NULL (version-dependent) when absent
        L = (f"(CASE WHEN {n} - {p} <= 0 THEN 0 "
             f"WHEN coalesce(list_position({cmp}, 0), 0) = 0 "
             f"THEN {n} - {p} "
             f"ELSE list_position({cmp}, 0) - 1 END)")
        cands.append(
            f"{{'trim_tokens': CAST(({L} // {p}) * {p} AS INT), "
            f"'neg_p': {-p}, 'period': {p}, "
            f"'n_copies': CAST(({L} // {p}) + 1 AS INT)}}")
    return f"list_max([{', '.join(cands)}])"


def repeated_suffix_sql(table: str) -> str:
    """DuckDB twin: same L(p) run-length via list_position of the first
    mismatch, same (trim desc, period asc) tie-break via a sorted struct
    list (struct comparison is field-order lexicographic in both
    engines)."""
    best = _best_repeat_sql("tokens")
    return f"""
        SELECT doc_id,
               CAST(len(tokens) AS INT) AS n_tok,
               CAST(CASE WHEN b.trim_tokens > 0 THEN b.period
                         ELSE 0 END AS INT) AS period,
               CAST(CASE WHEN b.trim_tokens > 0 THEN b.n_copies
                         ELSE 1 END AS INT) AS n_copies,
               CAST(CASE WHEN b.trim_tokens > 0 THEN b.trim_tokens
                         ELSE 0 END AS INT) AS trim_tokens
        FROM (SELECT doc_id, tokens, {best} AS b FROM {table})
    """


def bigram_logprob_table(df: DataFrame) -> DataFrame:
    """Smoothed conditional bigram log-probs: (t_prev, t, n_2, logp_micro)
    with logp_micro = round(ln((n_2 + alpha) / (n_1 + alpha*V)) * 1e6)
    (alpha = ``LM_ALPHA``, V = ``VOCAB_SIZE``) —
    the same integer micro-nat quantization as the unigram table so every
    downstream sum is exact in any aggregation order.

    Scale shape: one bigram explode -> groupBy(prev, t) with map-side
    combine; the per-prev totals n_1 are RE-AGGREGATED from those pair
    counts (bigram-table scale, never a second corpus scan) and joined
    back at pair-key scale.  Unlike the unigram table this dim is
    corpus-bounded (distinct bigrams), not vocab-bounded — the honest
    KenLM-shaped cost a conditional LM carries.
    """
    toks = F.col("tokens")
    n = F.size(toks)
    pairs = df.select(F.explode(F.when(
        n >= 2,
        F.transform(F.sequence(F.lit(2), n),
                    lambda i: F.struct(
                        F.element_at(toks, i - 1).alias("t_prev"),
                        F.element_at(toks, i).alias("t"))))
        .otherwise(F.array().cast("array<struct<t_prev:int,t:int>>")))
        .alias("bg")).select("bg.t_prev", "bg.t")
    cnt2 = pairs.groupBy("t_prev", "t").agg(F.count(F.lit(1)).alias("n_2"))
    cnt2 = seam(cnt2)  # feeds the per-prev rollup AND the final projection
    cnt1 = cnt2.groupBy("t_prev").agg(F.sum("n_2").alias("n_1"))
    return (
        cnt2.join(cnt1, "t_prev")
        .select(
            "t_prev", "t", "n_2",
            F.round(F.log((F.col("n_2") + F.lit(LM_ALPHA))
                          / (F.col("n_1") + F.lit(LM_ALPHA * VOCAB_SIZE)))
                    * 1e6).cast("bigint").alias("logp_micro"))
    )


def sequence_bigram_scores(df: DataFrame) -> DataFrame:
    """Per-sequence CONDITIONAL cross-entropy under the corpus's own
    smoothed bigram LM — the next step up from sequence_unigram_scores
    (a unigram LM cannot see token ORDER; this one scores transitions,
    so a doc of corpus-common tokens in a corpus-unseen order ranks
    high-ce).  Returns (id, n_bigrams, logp_micro_sum, ce_nats); rows
    with fewer than 2 tokens have no transitions and are omitted (same
    rule in the twin).

    Scale shape: the bigram dim is corpus-bounded, so the score join is
    a real (prev, t)-key shuffle join when it outgrows broadcast — AQE
    broadcasts it while it fits, and the groupBy(id) behind it partial-
    aggregates map-side.  Self-scoring means every probe bigram exists
    in the dim; the inner join is therefore lossless by construction.
    """
    probs = bigram_logprob_table(df)
    toks = F.col("tokens")
    n = F.size(toks)
    ex = df.select(
        F.col("doc_id"),
        F.explode(F.when(
            n >= 2,
            F.transform(F.sequence(F.lit(2), n),
                        lambda i: F.struct(
                            F.element_at(toks, i - 1).alias("t_prev"),
                            F.element_at(toks, i).alias("t"))))
            .otherwise(F.array().cast("array<struct<t_prev:int,t:int>>")))
        .alias("bg")).select("doc_id", "bg.t_prev", "bg.t")
    return (
        ex.join(probs.select("t_prev", "t", "logp_micro"), ["t_prev", "t"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_bigrams"),
             F.sum("logp_micro").alias("logp_micro_sum"))
        .select(
            "doc_id", "n_bigrams", "logp_micro_sum",
            F.round(-F.col("logp_micro_sum")
                    / (F.col("n_bigrams") * F.lit(1e6)), 6).alias("ce_nats"))
    )


def sequence_bigram_scores_sql(table: str) -> str:
    """DuckDB twin of the self-scoring form (same micro-nat quantization,
    same n>=2 omission rule)."""
    return f"""
        WITH ex AS (
          SELECT doc_id AS id,
                 tokens[i - 1] AS t_prev, tokens[i] AS t
          FROM {table},
               LATERAL (SELECT unnest(range(2, len(tokens) + 1)) AS i)
        ),
        cnt2 AS (SELECT t_prev, t, count(*) AS n_2 FROM ex GROUP BY 1, 2),
        cnt1 AS (SELECT t_prev, sum(n_2) AS n_1 FROM cnt2 GROUP BY t_prev),
        lp AS (
          SELECT cnt2.t_prev, cnt2.t,
                 CAST(round(ln((cnt2.n_2 + {LM_ALPHA})
                               / (cnt1.n_1 + {LM_ALPHA * VOCAB_SIZE})) * 1e6)
                      AS BIGINT) AS logp_micro
          FROM cnt2 JOIN cnt1 USING (t_prev)
        )
        SELECT ex.id AS doc_id,
               count(*)::INT AS n_bigrams,
               sum(lp.logp_micro)::BIGINT AS logp_micro_sum,
               round(-sum(lp.logp_micro) / (count(*) * 1e6), 6) AS ce_nats
        FROM ex JOIN lp USING (t_prev, t)
        GROUP BY ex.id
    """


# --------------------------------------------------------------------------
# ExactSubstr duplicate-span REMOVAL (Lee et al. 2021) — the rewrite op
# --------------------------------------------------------------------------

def remove_duplicate_spans(
    df: DataFrame, tokens_col: str, id_col: str,
) -> DataFrame:
    """Remove cross- and within-corpus duplicated token spans, keeping one
    occurrence — the ExactSubstr *rewrite* (Lee et al. 2021 remove all but
    one occurrence of any duplicated >=GRAM-token substring; their suffix
    array becomes a distributed GRAM-token-window census here).  It
    rewrites the sequences: every token covered by a duplicated window
    occurrence that is not that window's designated keeper is dropped,
    and the array is rebuilt from the survivors.

    Keeper rule (deterministic at any partitioning, portable to the
    DuckDB twin): for each duplicated GRAM-gram the occurrence with the
    lexicographically smallest ``id || \\x01 || zero-padded(pos)`` key
    keeps its tokens; every other occurrence of that gram is a duplicate
    span.  A token survives iff NO duplicate occurrence covers its
    position.  Within-doc repeats count: the second occurrence of a
    repeated span inside one document is removed too, matching
    ExactSubstr's corpus-level semantics.

    Returns every input row as
    ``(id, n_tok_clean, n_removed, tokens_clean)`` — rows shorter than
    ``GRAM`` have no windows and pass through unchanged.

    Scale shape: posexplode to (id, pos, gram-md5) occurrences, seamed
    ONCE to feed both the gram census (count + min-key aggregate on the
    16-byte key) and the probe side; the join back is key-only (AQE
    broadcasts the census when it fits, skew-splits otherwise).  Dup
    occurrences explode to at most GRAM removed positions each, collapse to
    a per-doc sorted position list, and ONLY docs with duplicates carry a
    row into the final left join — token arrays move once, in that join,
    and never through the census.  No posting lists, no pair
    materialization, no suffix array.
    """
    pos, gk, okey = "__pos", "__gk", "__okey"
    occ = (
        df.select(F.col(id_col),
                  F.posexplode(token_grams(F.col(tokens_col)))
                  .alias(pos, gk))
    )
    occ = seam(occ)  # feeds the census AND the probe side
    census = occ.groupBy(gk).agg(
        F.count(F.lit(1)).alias("__n_occ"),
        F.min(F.concat_ws("\x01", F.col(id_col),
                          F.lpad(F.col(pos).cast("string"), 12, "0")))
        .alias("__keeper"))
    dup = (
        occ.join(census, gk)
        .filter((F.col("__n_occ") > 1)
                & (F.concat_ws("\x01", F.col(id_col),
                               F.lpad(F.col(pos).cast("string"), 12, "0"))
                   != F.col("__keeper")))
        .select(F.col(id_col),
                F.explode(F.sequence(F.col(pos), F.col(pos) + (GRAM - 1)))
                .alias("__rp"))
        .distinct()
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("__rp")).alias("__removed"))
    )
    toks = F.col(tokens_col)
    clean = F.when(
        F.col("__removed").isNull(), toks,
    ).otherwise(
        F.filter(toks, lambda t, i: ~F.array_contains(F.col("__removed"), i)))
    return (
        df.join(dup, id_col, "left")
        .select(F.col(id_col),
                F.size(clean).alias("n_tok_clean"),
                F.coalesce(F.size("__removed"), F.lit(0)).cast("int")
                .alias("n_removed"),
                clean.alias("tokens_clean"))
    )


def remove_duplicate_spans_sql(
    table: str, tokens_col: str, id_col: str,
) -> str:
    """DuckDB twin: same occurrence census, keeper rule, and rebuild."""
    grams = token_grams_sql(tokens_col)
    return f"""
        WITH occ AS (
          SELECT {id_col}, u.pos, u.gk,
                 {id_col} || chr(1) || lpad(CAST(u.pos AS VARCHAR), 12, '0')
                   AS okey
          FROM (
            SELECT {id_col},
                   unnest(list_transform({grams},
                          (g, i) -> {{'pos': i - 1, 'gk': g}})) AS u
            FROM {table})
        ),
        census AS (
          SELECT gk, count(*) AS n_occ, min(okey) AS keeper
          FROM occ GROUP BY gk
        ),
        removed AS (
          SELECT {id_col}, list_sort(list(DISTINCT rp)) AS removed_pos
          FROM (
            SELECT {id_col}, unnest(range(pos, pos + {GRAM})) AS rp
            FROM occ JOIN census USING (gk)
            WHERE n_occ > 1 AND okey != keeper)
          GROUP BY {id_col}
        )
        SELECT t.{id_col},
               len(list_filter(t.{tokens_col},
                   (x, i) -> r.removed_pos IS NULL
                             OR NOT list_contains(r.removed_pos, i - 1)))::INT
                 AS n_tok_clean,
               coalesce(len(r.removed_pos), 0)::INT AS n_removed,
               list_filter(t.{tokens_col},
                   (x, i) -> r.removed_pos IS NULL
                             OR NOT list_contains(r.removed_pos, i - 1))
                 AS tokens_clean
        FROM {table} t LEFT JOIN removed r USING ({id_col})
    """


def trim_repeated_suffix(df: DataFrame) -> DataFrame:
    """The REWRITE behind the ``repeated_suffix`` detector: drop the
    redundant trailing copies of the best repeating block (keeping
    exactly one copy — ``... A B A B A B`` becomes ``... A B``) and
    return the rebuilt arrays.  One detector pass per row; not
    guaranteed idempotent for nested repeats of different periods
    (run-to-fixpoint is a caller loop if wanted).

    Returns (id, tokens_clean, n_tok_clean, trim_tokens, period) for
    every input row — rows with no trailing repeat pass through with
    trim_tokens = 0.

    Scale shape: identical to the detector — per-row JVM expression
    work in one codegen stage, no shuffle, no UDF; output co-partitions
    with the input.
    """
    toks = F.col("tokens")
    n = F.size(toks)
    best = _best_repeat(toks)
    keep = n - best["trim_tokens"]
    return df.select(
        F.col("doc_id"),
        F.slice(toks, 1, keep).alias("tokens_clean"),
        keep.cast("int").alias("n_tok_clean"),
        best["trim_tokens"].alias("trim_tokens"),
        best["period"].cast("int").alias("period"),
    )


def trim_repeated_suffix_sql(table: str) -> str:
    """DuckDB twin: same best-repeat struct, slice keeps n - trim."""
    best = _best_repeat_sql("tokens")
    return f"""
        SELECT doc_id,
               tokens[1 : len(tokens) -
                 (CASE WHEN b.trim_tokens > 0 THEN b.trim_tokens
                       ELSE 0 END)] AS tokens_clean,
               CAST(len(tokens) -
                 (CASE WHEN b.trim_tokens > 0 THEN b.trim_tokens
                       ELSE 0 END) AS INT) AS n_tok_clean,
               CAST(CASE WHEN b.trim_tokens > 0 THEN b.trim_tokens
                         ELSE 0 END AS INT) AS trim_tokens,
               CAST(CASE WHEN b.trim_tokens > 0 THEN b.period
                         ELSE 0 END AS INT) AS period
        FROM (SELECT doc_id, tokens, {best} AS b FROM {table})
    """


# --------------------------------------------------------------------------
# corpus statistics on token ids: entropy, Zipf fit, cross-source overlap,
# contamination coverage
# --------------------------------------------------------------------------

E5 = 100_000  # ln-value quantization (0.00001 nat) for exact-integer sums


def sequence_token_entropy(df: DataFrame) -> DataFrame:
    """Per-sequence Shannon entropy (nats) of the within-sequence token
    distribution — the order-blind degenerate-content signal (near-0 =
    one token repeated; ln(n_tok) = all tokens distinct).  Quality
    filters band-pass on it exactly like perplexity, but it needs no
    model table at all.

    Determinism: H = ln(n) - (sum_t c_t*round(ln(c_t)*1e6))/(n*1e6).
    The inner sum is an exact BIGINT in any aggregation order (the
    classifier.py / unigram_logprob_table micro-nat move); the outer
    expression is one double op per row, identical on both engines.

    Scale shape: explode -> groupBy(id, t) with map-side combine -> one
    more map-side-combined groupBy(id); both shuffles carry counts only,
    never token payloads.  No vocab table, no join, no window.
    """
    ex = df.select(F.col("doc_id"), F.explode(F.col("tokens")).alias("t"))
    cnt = ex.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    per = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("int").alias("n_tok"),
        F.count(F.lit(1)).cast("int").alias("n_types"),
        F.sum(F.col("c") * F.round(F.log(F.col("c")) * 1e6).cast("bigint"))
        .cast("bigint").alias("__clogc_micro"),
    )
    return per.select(
        "doc_id", "n_tok", "n_types",
        F.round(F.log(F.col("n_tok").cast("double"))
                - F.col("__clogc_micro") / (F.col("n_tok") * F.lit(1e6)),
                6).alias("entropy_nats"),
    )


def sequence_token_entropy_sql(table: str) -> str:
    return f"""
        WITH ex AS (
          SELECT doc_id AS id, unnest(tokens) AS t FROM {table}
        ),
        cnt AS (SELECT id, t, count(*) AS c FROM ex GROUP BY id, t)
        SELECT id AS doc_id,
               sum(c)::INT AS n_tok,
               count(*)::INT AS n_types,
               round(ln(sum(c)::DOUBLE)
                     - sum(c * CAST(round(ln(c) * 1e6) AS BIGINT))
                       / (sum(c) * 1e6), 6) AS entropy_nats
        FROM cnt GROUP BY id
    """


def zipf_fit(df: DataFrame) -> DataFrame:
    """Zipf's-law fit over the corpus token-frequency distribution: OLS
    of ln(count) on ln(rank) -> (n_types, slope, intercept_nats, r2).
    A healthy natural corpus sits near slope -1; a slope collapsing
    toward 0 (flat) or below -2 (spiky) is the canonical corpus-health
    alarm after a bad ingest or dedup bug.

    Determinism: each (rank, count) contributes x = round(ln(rank)*1e5),
    y = round(ln(count)*1e5) as BIGINTs; per-row products fit int64
    (ln(1e12)*1e5 squared ~ 7.6e12), and the five regression sums
    accumulate as DECIMAL(38,0) so they stay exact in any aggregation
    order even at a 10M-type vocab (where int64 sums would overflow).
    Products of sums stay in DECIMAL(38,0), and only the final
    slope/intercept/r2 divisions are doubles — correctly-rounded casts
    of identical exact integers, so both engines emit identical bits.

    Scale shape: explode -> groupBy(t) collapses the corpus to <= |V|
    rows before anything else; the rank row_number is a single-partition
    window over that VOCAB-BOUNDED table (<= ~1e7 rows, metadata scale
    at any corpus size) — bounded by construction, unlike the
    corpus-scale SinglePartition the prefix-sum machinery exists to
    avoid.  Output is ONE row.
    """
    from pyspark.sql import Window

    cnt = (
        df.select(F.explode(F.col("tokens")).alias("t"))
        .groupBy("t").agg(F.count(F.lit(1)).alias("n_t"))
    )
    ranked = cnt.select(
        F.row_number().over(
            Window.orderBy(F.col("n_t").desc(), F.col("t").asc())
        ).alias("r"),
        "n_t",
    ).select(
        F.round(F.log(F.col("r").cast("double")) * E5)
        .cast("bigint").alias("x"),
        F.round(F.log(F.col("n_t").cast("double")) * E5)
        .cast("bigint").alias("y"),
    )
    dec38 = "decimal(38,0)"
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(dec38)).alias("sx"),
        F.sum(F.col("y").cast(dec38)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec38)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec38)).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast(dec38)).alias("syy"),
    )
    dec = "decimal(38,0)"
    n_, sx, sy = [F.col(c).cast(dec) for c in ("n", "sx", "sy")]
    sxx, sxy, syy = [F.col(c).cast(dec) for c in ("sxx", "sxy", "syy")]
    num = (n_ * sxy - sx * sy).cast("double")
    den = (n_ * sxx - sx * sx).cast("double")
    deny = (n_ * syy - sy * sy).cast("double")
    slope = F.col("__num") / F.col("__den")
    return (
        s.select("n", num.alias("__num"), den.alias("__den"),
                 deny.alias("__deny"), sy.cast("double").alias("__sy"),
                 sx.cast("double").alias("__sx"))
        .select(
            F.col("n").cast("int").alias("n_types"),
            F.when(F.col("__den") > 0, F.round(slope, 6))
            .alias("slope"),
            F.when(F.col("__den") > 0, F.round(
                (F.col("__sy") - slope * F.col("__sx"))
                / (F.col("n") * E5), 6)).alias("intercept_nats"),
            F.when((F.col("__den") > 0) & (F.col("__deny") > 0), F.round(
                F.col("__num") * F.col("__num")
                / (F.col("__den") * F.col("__deny")), 6)).alias("r2"),
        )
    )


def zipf_fit_sql(table: str) -> str:
    return f"""
        WITH ex AS (SELECT unnest(tokens) AS t FROM {table}),
        cnt AS (SELECT t, count(*) AS n_t FROM ex GROUP BY t),
        ranked AS (
          SELECT CAST(round(ln(row_number() OVER
                    (ORDER BY n_t DESC, t ASC)) * {E5}) AS BIGINT) AS x,
                 CAST(round(ln(n_t) * {E5}) AS BIGINT) AS y
          FROM cnt
        ),
        s AS (
          SELECT count(*)::BIGINT AS n,
                 CAST(sum(x) AS DECIMAL(38,0)) AS sx,
                 CAST(sum(y) AS DECIMAL(38,0)) AS sy,
                 CAST(sum(x*x) AS DECIMAL(38,0)) AS sxx,
                 CAST(sum(x*y) AS DECIMAL(38,0)) AS sxy,
                 CAST(sum(y*y) AS DECIMAL(38,0)) AS syy
          FROM ranked
        ),
        d AS (
          SELECT n,
            CAST(n::DECIMAL(38,0) * sxy - sx::DECIMAL(38,0) * sy
                 AS DOUBLE) AS num,
            CAST(n::DECIMAL(38,0) * sxx - sx::DECIMAL(38,0) * sx
                 AS DOUBLE) AS den,
            CAST(n::DECIMAL(38,0) * syy - sy::DECIMAL(38,0) * sy
                 AS DOUBLE) AS deny,
            sx::DOUBLE AS sxd, sy::DOUBLE AS syd
          FROM s
        )
        SELECT n::INT AS n_types,
               CASE WHEN den > 0 THEN round(num / den, 6) END AS slope,
               CASE WHEN den > 0 THEN round(
                 (syd - (num / den) * sxd) / (n * {E5}), 6)
               END AS intercept_nats,
               CASE WHEN den > 0 AND deny > 0 THEN round(
                 num * num / (den * deny), 6)
               END AS r2
        FROM d
    """


def cross_source_dup_matrix(df: DataFrame) -> DataFrame:
    """Which sources duplicate which: per unordered source pair, how many
    DISTINCT token-array fingerprints occur in both.  The crawl-overlap
    report a multi-source ingest runs before choosing dedup priority
    (e.g. CommonCrawl-vs-C4 overlap in the Pile/Dolma writeups).

    NULL sources are excluded (they have no pair identity).

    Scale shape: distinct (fp, source) collapses each source's copies
    map-side (<= |sources| rows per fingerprint survive); the self-join
    key is the 16-byte fp with per-key multiplicity <= |sources| — no
    skew amplification possible; the pair aggregate is |sources|^2
    rows.  Token payloads never shuffle (fp is computed in the scan
    projection).
    """
    fs = (
        df.filter(F.col("source").isNotNull())
        .select(token_fingerprint(F.col("tokens")).alias("fp"),
                F.col("source").alias("s"))
        .distinct()
    )
    fs = seam(fs)  # both join sides read the one distinct pass
    a = fs.select("fp", F.col("s").alias("source_a"))
    b = fs.select("fp", F.col("s").alias("source_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )


def cross_source_dup_matrix_sql(table: str) -> str:
    return f"""
        WITH fs AS (
          SELECT DISTINCT {token_fingerprint_sql("tokens")} AS fp,
                 source AS s
          FROM {table} WHERE source IS NOT NULL
        )
        SELECT a.s AS source_a, b.s AS source_b,
               count(*) AS n_shared_fps
        FROM fs a JOIN fs b ON a.fp = b.fp AND a.s < b.s
        GROUP BY a.s, b.s
    """


def contamination_coverage(
    df: DataFrame, tokens_col: str, id_col: str, eval_pred: Column,
) -> DataFrame:
    """Graded decontamination (the Llama-3 'dirty fraction' form): for
    each TRAIN sequence, the fraction of its GRAM-token windows that appear
    anywhere in the eval split — so callers threshold (e.g. drop > 0.8,
    keep < 0.1, audit between) instead of a binary any-hit flag.

    Rows shorter than GRAM have no windows; they report n_windows = 0 and
    contamination_frac = 0.0 (nothing to leak).

    Scale shape: eval gram keys are distinct-collapsed and broadcast; the
    train side keeps its partitioning through explode -> broadcast-mark
    -> groupBy(id) with map-side combine.  One corpus-scale shuffle (the per-id collapse).
    """
    grams = token_grams(F.col(tokens_col))
    sides = df.select(F.col(id_col), eval_pred.alias("is_eval"),
                      F.explode(grams).alias("gk"))
    eval_grams = sides.filter("is_eval").select("gk").distinct()
    train = sides.filter(~F.col("is_eval"))
    marked = train.join(
        F.broadcast(eval_grams.withColumn("__hit", F.lit(1))), "gk", "left")
    per = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_windows"),
        F.coalesce(F.sum("__hit"), F.lit(0)).cast("int")
        .alias("n_contaminated"),
    )
    train_ids = df.filter(~eval_pred).select(id_col)
    return (
        train_ids.join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_windows"), F.lit(0)).alias("n_windows"),
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            .alias("n_contaminated"),
            F.when(F.coalesce(F.col("n_windows"), F.lit(0)) > 0, F.round(
                F.col("n_contaminated") / F.col("n_windows").cast("double"),
                6)).otherwise(F.lit(0.0)).alias("contamination_frac"),
        )
    )


def contamination_coverage_sql(
    table: str, tokens_col: str, id_col: str, eval_pred_sql: str,
) -> str:
    grams = token_grams_sql(tokens_col)
    return f"""
        WITH sides AS (
          SELECT {id_col}, ({eval_pred_sql}) AS is_eval,
                 unnest({grams}) AS gk
          FROM {table}
        ),
        eval_g AS (SELECT DISTINCT gk FROM sides WHERE is_eval),
        per AS (
          SELECT s.{id_col},
                 count(*)::INT AS n_windows,
                 sum(CASE WHEN e.gk IS NOT NULL THEN 1 ELSE 0 END)::INT
                   AS n_contaminated
          FROM sides s LEFT JOIN eval_g e USING (gk)
          WHERE NOT s.is_eval
          GROUP BY s.{id_col}
        )
        SELECT t.{id_col},
               coalesce(p.n_windows, 0) AS n_windows,
               coalesce(p.n_contaminated, 0) AS n_contaminated,
               CASE WHEN coalesce(p.n_windows, 0) > 0
                    THEN round(p.n_contaminated / p.n_windows::DOUBLE, 6)
                    ELSE 0.0 END AS contamination_frac
        FROM (SELECT {id_col} FROM {table}
              WHERE NOT ({eval_pred_sql})) t
        LEFT JOIN per p USING ({id_col})
    """


def vocab_growth(df: DataFrame) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: distinct token types seen
    within the first ``c`` tokens of the corpus (in doc_id order), for
    each checkpoint ``c`` of ``GROWTH_CHECKPOINTS`` — the
    tokenizer-sizing / corpus-diversity report (a curve that flattens
    early means the tail of the corpus adds no new vocabulary).

    Scale shape: global token positions come from packing.global_cumsum
    (ONE full-data exchange, no SinglePartition stage); the posexplode
    collapses map-side to one (token, min position) row per type, so the
    only other corpus-scale shuffle carries (t, p) pairs; the checkpoint
    cross join runs on the VOCAB-BOUNDED first-seen table against a
    broadcast literal frame.  Token payloads never shuffle.

    Returns (checkpoint, n_types), one row per checkpoint (0 when the
    corpus is shorter than every checkpoint start; empty only for an
    empty corpus).
    """
    from ulp_spark.operators.packing import global_cumsum

    toks = F.col("tokens")
    off = global_cumsum(
        df.select(F.col("doc_id"), toks.alias("__toks"))
        .withColumn("__n", F.size("__toks")),
        "doc_id", "__n")
    ex = off.select(
        F.col("tok_offset"),
        F.posexplode(F.col("__toks")).alias("pos", "t"),
    ).select("t", (F.col("tok_offset") + F.col("pos")).alias("p"))
    first = ex.groupBy("t").agg(F.min("p").alias("fp"))
    cp = local_frame(df.sparkSession, [(c,) for c in GROWTH_CHECKPOINTS],
                     "checkpoint bigint")
    return (
        first.crossJoin(F.broadcast(cp))
        .groupBy("checkpoint")
        .agg(F.sum(F.when(F.col("fp") < F.col("checkpoint"), 1)
                   .otherwise(0)).cast("int").alias("n_types"))
    )


def vocab_growth_sql(table: str) -> str:
    cps = ", ".join(str(c) for c in GROWTH_CHECKPOINTS)
    return f"""
        WITH off AS (
          SELECT tokens AS toks,
                 sum(len(tokens)) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - len(tokens)
                 AS tok_offset
          FROM {table}
        ),
        ex AS (
          SELECT unnest(toks) AS t,
                 tok_offset + unnest([j FOR j IN range(len(toks))]) AS p
          FROM off
        ),
        first AS (SELECT t, min(p) AS fp FROM ex GROUP BY t),
        cp AS (SELECT unnest([{cps}]) AS checkpoint)
        SELECT cp.checkpoint,
               sum(CASE WHEN f.fp < cp.checkpoint THEN 1 ELSE 0 END)::INT
                 AS n_types
        FROM cp CROSS JOIN first f
        GROUP BY cp.checkpoint
    """


def token_shingle_hashes(tokens: Column) -> Column:
    """Distinct sorted 32-bit hashes of the GRAM-token windows — the token-id
    analog of dedup.shingle_hashes (same md5-fold, same int64 range), so
    the MinHash machinery applies unchanged to pre-tokenized sequences.
    Rows shorter than GRAM yield an empty array."""
    from ulp_spark.operators.dedup import _md5_bigint

    k = GRAM
    n = F.size(tokens)
    # element_at instead of slice+transform (slice allocates an array per
    # window, see curation.word_grams): every window is full by the
    # sequence bound, so the CSV
    # strings — and hence the md5 values — are identical
    csvs = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda j: F.concat_ws(",", *[
                F.element_at(tokens, j + i).cast("string")
                for i in range(k)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_sort(F.array_distinct(
        F.transform(csvs, lambda c: _md5_bigint(c))))


def token_shingle_hashes_sql(tokens: str) -> str:
    k = GRAM
    return (
        f"list_sort(list_distinct([CAST(('0x' || substr(md5("
        f"array_to_string({tokens}[j:j+{k - 1}], ',')), 1, 8)) AS BIGINT) "
        f"FOR j IN range(1, greatest(len({tokens}) - {k - 1}, 0) + 1)]))"
    )


def sequence_minhash_candidates(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id",
) -> DataFrame:
    """NEAR-duplicate sequence candidates on TOKEN IDS — MinHash+LSH over
    GRAM-token windows, closing the gap between sequence_exact_dedup
    (bitwise only) and the text-side near-dup stack (pre-tokenization
    only).  A sequence re-tokenized after a small edit, or truncated a
    few tokens differently, shares almost all its windows and lands in
    the same band buckets.

    Sequences shorter than GRAM have NO windows and are excluded up front —
    an empty shingle set carries no content evidence, and keeping the
    text-side sentinel signature here would weld every short sequence
    into one giant all-pairs bucket.

    Scale shape: delegates to dedup.minhash_candidates_from_hashes — the
    seamed band table, count-aggregate bucket cap BEFORE any pair
    materialization, and equi-self-join are shared code, not a copy.
    """
    from ulp_spark.operators.dedup import minhash_candidates_from_hashes

    toks = F.col(tokens_col)
    eligible = df.filter(F.size(toks) >= GRAM)
    return minhash_candidates_from_hashes(
        eligible, token_shingle_hashes(toks), id_col)


def sequence_minhash_candidates_sql(table: str) -> str:
    from ulp_spark.operators.dedup import minhash_candidates_from_hashes_sql

    eligible = (f"(SELECT * FROM {table} "
                f"WHERE len(tokens) >= {GRAM})")
    return minhash_candidates_from_hashes_sql(
        eligible, token_shingle_hashes_sql("tokens"), "doc_id")


_CURR_OFFSET = 10 ** 18  # shifts any plausible integer score non-negative


def curriculum_stages(
    df: DataFrame, score_col: str, id_col: str, n_stages: int,
) -> DataFrame:
    """Curriculum assignment: global rank by an INTEGER difficulty score
    (ascending: easy-first) and an equal-width stage index in
    [0, n_stages) — the ordered-training complement of epoch_order's
    keyed shuffle.  Stage boundaries are exact (stage = rank*n//total),
    so stage populations differ by at most one row.

    The score must be an integer column (|score| < 10^18): integer keys
    make the order engine-exact — float scores should be quantized by
    the producer (classifier.linear_quality_score's score_centi is
    already integer for exactly this reason).  Ties beyond (score, id)
    cannot occur because ids are unique; equal scores order by id.

    Scale shape: the rank is packing.global_cumsum over ones on a
    zero-padded composite key (the balanced_writers pattern — ONE
    full-data exchange, no single-partition window); the corpus total
    rides a 1-row broadcast crossJoin; the stage derives by pure integer
    arithmetic.
    """
    from ulp_spark.operators.packing import global_cumsum

    if n_stages < 1:
        raise ValueError("n_stages must be >= 1")
    s = F.col(score_col).cast("bigint")
    keyval = s + F.lit(_CURR_OFFSET)
    guarded = F.when(
        (keyval >= 0) & (keyval < 2 * _CURR_OFFSET), keyval
    ).otherwise(F.raise_error(F.lit(
        "curriculum_stages: |score| must be < 10^18")))
    key = F.format_string("%020d|%s", guarded, F.col(id_col).cast("string"))
    keyed = df.select(F.col(id_col), F.col(score_col),
                      key.alias("__cu_key")).withColumn("__one", F.lit(1))
    ranked = global_cumsum(keyed, "__cu_key", "__one",
                           out_col="curriculum_rank")
    tot = keyed.agg(F.count(F.lit(1)).alias("__total"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            id_col, score_col,
            F.col("curriculum_rank").cast("bigint"),
            F.expr(f"CAST((curriculum_rank * {n_stages}) DIV __total "
                   "AS INT)").alias("stage"),
        )
    )


def curriculum_stages_sql(
    table: str, score_col: str, id_col: str, n_stages: int,
) -> str:
    key = (f"printf('%020d|%s', {score_col}::BIGINT "
           f"+ {_CURR_OFFSET}, {id_col}::VARCHAR)")
    return f"""
        WITH r AS (
          SELECT {id_col}, {score_col},
                 row_number() OVER (ORDER BY {key}) - 1
                   AS curriculum_rank,
                 count(*) OVER () AS total
          FROM {table}
        )
        SELECT {id_col}, {score_col},
               curriculum_rank::BIGINT AS curriculum_rank,
               ((curriculum_rank * {n_stages}) // total)::INT AS stage
        FROM r
    """


def apply_mixing_plan(df: DataFrame) -> DataFrame:
    """EXECUTE source_mixing_plan for a ``MIX_BUDGET``-token epoch (the
    learn->apply move, same as BPE train->tokenize): materialize the
    mixed-epoch membership — (id, source, epoch_copy, is_tail), one row
    per pass each sequence takes in the temperature-mixed training
    epoch.  Copies 0..n_epochs-1
    are unconditional; the fractional tail admits copy n_epochs iff a
    deterministic md5 uniform (sampling._uniform01 seeded with
    ``MIX_SEED`` — 52-bit, exactly
    representable, partition-invariant) falls under the plan's
    tail_frac.  NULL sources bucket as '__null__' BEFORE the join —
    the same coalesce the plan itself applies — so the budget share the
    plan allocates to unlabeled rows is actually executed (a plain
    equality join would silently orphan it).

    Scale shape: the plan is |sources| rows and broadcast-joins; the
    copy explode is bounded by n_epochs+1 per row (the temperature
    up-weight, single digits by construction since q <= 1 concentrates
    budget); no shuffle beyond the broadcast — output co-partitions
    with the corpus.  The descending-sequence trap (sequence(0,-1)
    counts DOWN) is gated: n_copies = 0 rows emit an empty array.
    """
    from ulp_spark.operators.sampling import _uniform01

    plan = source_mixing_plan(df, budget=MIX_BUDGET)
    bucketed = df.select(
        F.col("doc_id"),
        F.coalesce(F.col("source"), F.lit("__null__")).alias("source"))
    j = bucketed.join(
        F.broadcast(plan.select("source", "n_epochs", "tail_frac")),
        "source")
    n_copies = (F.col("n_epochs")
                + F.when(_uniform01(F.col("doc_id"), MIX_SEED)
                         < F.col("tail_frac"), 1).otherwise(0))
    copies = F.when(
        n_copies >= 1, F.sequence(F.lit(0).cast("bigint"), n_copies - 1)
    ).otherwise(F.array().cast("array<bigint>"))
    return (
        j.withColumn("__copies", copies)
        .select(
            "doc_id", "source", F.col("n_epochs"),
            F.explode(F.col("__copies")).alias("epoch_copy"),
        )
        .select(
            "doc_id", "source",
            F.col("epoch_copy").cast("int").alias("epoch_copy"),
            (F.col("epoch_copy") == F.col("n_epochs")).alias("is_tail"),
        )
    )


def apply_mixing_plan_sql(table: str) -> str:
    from ulp_spark.operators.sampling import _uniform01_sql

    plan = source_mixing_plan_sql(table)
    u = _uniform01_sql("t.doc_id", MIX_SEED)
    return f"""
        WITH plan AS ({plan}),
        j AS (
          SELECT t.doc_id,
                 coalesce(t.source, '__null__') AS source,
                 p.n_epochs,
                 p.n_epochs + CASE WHEN {u} < p.tail_frac
                                   THEN 1 ELSE 0 END AS n_copies
          FROM {table} t
          JOIN plan p ON coalesce(t.source, '__null__') = p.source
        )
        SELECT doc_id, source,
               CAST(unnest(range(n_copies)) AS INT) AS epoch_copy,
               unnest(range(n_copies)) = n_epochs AS is_tail
        FROM j
    """


def sequence_dedup_groups(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id",
) -> DataFrame:
    """Token-level near-dup CLUSTERS — the full three-stage pipeline:
    MinHash+LSH candidates -> EXACT window-set Jaccard verification
    (>= dedup.JACCARD_MIN; kills the band-collision false positives the
    candidate stage tolerates by design) -> connected components
    (comp_id = canonical min id).  Keep comp_id == id for the dedup.

    Scale shape: the (id, shingle-set) projection is seamed ONCE and
    feeds signature generation AND both verification join sides (the
    fan-out rule); candidate generation delegates to the shared LSH
    engine (bucket cap before any pair); verification joins are
    key-scale (candidate pairs only, never the corpus); the CC loop
    runs on verified edges at O(log diameter) rounds.
    """
    from ulp_spark.operators.dedup import (
        JACCARD_MIN, connected_components, jaccard_distinct,
        minhash_candidates_from_hashes)

    toks = F.col(tokens_col)
    h = (
        df.filter(F.size(toks) >= GRAM)
        .select(F.col(id_col).alias("__sid"),
                token_shingle_hashes(toks).alias("__sh"))
    )
    h = seam(h)
    pairs = minhash_candidates_from_hashes(h, F.col("__sh"), "__sid")
    a = h.select(F.col("__sid").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = h.select(F.col("__sid").alias("id_b"), F.col("__sh").alias("sh_b"))
    verified = (
        pairs.join(a, "id_a").join(b, "id_b")
        .filter(jaccard_distinct(F.col("sh_a"), F.col("sh_b")) >= JACCARD_MIN)
        .select("id_a", "id_b")
    )
    cc = connected_components(verified)
    return cc.select(F.col("id").alias(id_col), "comp_id")


def sequence_dedup_groups_sql(table: str) -> str:
    from ulp_spark.operators.dedup import (
        JACCARD_MIN, connected_components_sql)

    cand = sequence_minhash_candidates_sql(table)
    sh = ("SELECT doc_id AS vid, "
          f"{token_shingle_hashes_sql('tokens')} AS sh "
          f"FROM {table} WHERE len(tokens) >= {GRAM}")
    verified = f"""
        SELECT p.id_a, p.id_b FROM ({cand}) p
        JOIN ({sh}) a ON p.id_a = a.vid
        JOIN ({sh}) b ON p.id_b = b.vid
        WHERE (CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
                    THEN len(list_intersect(a.sh, b.sh))::DOUBLE
                         / len(list_distinct(a.sh || b.sh))
                    ELSE 0.0 END) >= {JACCARD_MIN}
    """
    return connected_components_sql(verified, id_alias="doc_id")


def fim_transform(df: DataFrame) -> DataFrame:
    """Fill-in-the-middle rewrite (Bavarian et al. 2022, the
    StarCoder/code-Llama data transform), PSM layout: with probability
    ``FIM_RATE`` per sequence, split at two deterministic points i <= j
    and emit [PRE] prefix [SUF] suffix [MID] middle; otherwise pass
    through.
    The sentinel ids ``FIM_PRE_ID``/``FIM_SUF_ID``/``FIM_MID_ID`` live
    OUTSIDE the corpus vocabulary (as in the paper).

    Determinism: the apply coin and both split points come from
    sampling._uniform01's 52-bit md5 uniforms keyed on ("fim0", id) —
    partition-invariant, identical in the DuckDB twin, reproducible
    across runs (the property a resumable 10^12-row preprocessing job
    needs; rand() would re-deal on every retry).

    Returns (id, tokens_fim, n_tok_fim, is_fim).  Non-sentinel token
    MULTISET is preserved per row (pinned in pytest) — FIM reorders,
    never drops.

    Scale shape: per-row JVM slice/concat in one codegen stage — no
    shuffle, no UDF; output co-partitions with the input.
    """
    from ulp_spark.operators.sampling import _uniform01

    toks = F.col("tokens")
    idc = F.col("doc_id")
    n = F.size(toks)
    u_apply = _uniform01(idc, "fim0:apply")
    ua = _uniform01(idc, "fim0:a")
    ub = _uniform01(idc, "fim0:b")
    i = F.floor(F.least(ua, ub) * (n + 1)).cast("int")
    j = F.floor(F.greatest(ua, ub) * (n + 1)).cast("int")
    prefix = F.slice(toks, 1, i)
    middle = F.slice(toks, i + 1, j - i)
    suffix = F.when(n - j > 0, F.slice(toks, j + 1, n - j)) \
        .otherwise(F.array().cast("array<int>"))
    fim = F.concat(
        F.array(F.lit(FIM_PRE_ID).cast("int")), prefix,
        F.array(F.lit(FIM_SUF_ID).cast("int")), suffix,
        F.array(F.lit(FIM_MID_ID).cast("int")), middle,
    )
    apply = u_apply < F.lit(FIM_RATE)
    out_toks = F.when(apply, fim).otherwise(toks)
    return df.select(
        idc,
        out_toks.alias("tokens_fim"),
        F.size(out_toks).cast("int").alias("n_tok_fim"),
        apply.alias("is_fim"),
    )


def fim_transform_sql(table: str) -> str:
    from ulp_spark.operators.sampling import _uniform01_sql

    ua = _uniform01_sql("doc_id", "fim0:a")
    ub = _uniform01_sql("doc_id", "fim0:b")
    u_apply = _uniform01_sql("doc_id", "fim0:apply")
    return f"""
        WITH s AS (
          SELECT doc_id, tokens AS t, len(tokens) AS n,
                 CAST(floor(least({ua}, {ub}) * (len(tokens) + 1))
                      AS INT) AS i,
                 CAST(floor(greatest({ua}, {ub}) * (len(tokens) + 1))
                      AS INT) AS j,
                 ({u_apply}) < {FIM_RATE} AS apply
          FROM {table}
        ),
        r AS (
          SELECT doc_id, apply,
                 CASE WHEN apply THEN
                   [CAST({FIM_PRE_ID} AS INTEGER)] || t[1:i]
                   || [CAST({FIM_SUF_ID} AS INTEGER)]
                   || (CASE WHEN n - j > 0 THEN t[j+1:n]
                       ELSE CAST([] AS INTEGER[]) END)
                   || [CAST({FIM_MID_ID} AS INTEGER)] || t[i+1:j]
                 ELSE t END AS tokens_fim
          FROM s
        )
        SELECT doc_id, tokens_fim,
               len(tokens_fim)::INT AS n_tok_fim,
               apply AS is_fim
        FROM r
    """


def span_corruption(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id",
    rate: float = 0.15, span_len: int = 3, seed: str = "sc0",
) -> DataFrame:
    """T5-style span-corruption rewrite (Raffel et al. 2020 S3.1.4, the
    denoising pretraining objective): the sequence is cut into
    consecutive ``span_len``-token blocks and each block is corrupted
    with probability ``rate``; corrupted block i is replaced by sentinel
    ``UL2_SENTINEL + i`` in the INPUTS stream and emitted as
    ``[sentinel_i, tokens...]`` in the TARGETS stream, which closes with
    a final sentinel ``UL2_SENTINEL + n_spans`` (the paper's layout).
    The sentinel ids live outside the corpus vocabulary, as
    fim_transform's do.

    Deviation from the paper, documented: T5 draws span lengths from a
    randomized segment partition and merges adjacent noise spans; this
    variant uses fixed ``span_len`` blocks with an independent
    deterministic coin per block (adjacent corrupted blocks keep their
    own sentinels).  Expected corruption mass is still ``rate`` and the
    layout/semantics of inputs/targets match the paper; in exchange
    every decision derives from sampling._uniform01's 52-bit md5 uniform
    keyed on (seed, id, block) — partition-invariant, identical in the
    DuckDB twin, stable across task retries (rand() would re-deal — on a
    10^12-row preprocessing job, retry-stability of the rewrite is a
    correctness property).

    Returns (id, inputs, targets, n_spans).  Non-sentinel token MULTISET
    over inputs+targets equals the original tokens per row (pinned in
    pytest) — corruption splits, never drops.

    Scale shape: per-row JVM array algebra (sequence/filter/transform/
    slice/flatten) in ONE codegen stage — no shuffle, no UDF, no
    explode; output co-partitions with the input.  The array_position
    ordinal lookup is O(blocks^2) per row worst case with block counts
    bounded by n_tok/span_len — arithmetic on in-register ints, not data
    movement.
    """
    from ulp_spark.operators.sampling import _uniform01

    if not (0.0 <= rate <= 1.0):
        raise ValueError("rate must be in [0, 1]")
    if span_len < 1:
        raise ValueError("span_len must be >= 1")
    toks = F.col(tokens_col)
    idc = F.col(id_col)
    n = F.size(toks)
    nb = F.ceil(n / F.lit(float(span_len))).cast("int")
    blocks = F.when(n > 0, F.sequence(F.lit(0), nb - 1)) \
        .otherwise(F.array().cast("array<int>"))

    def coin(b):
        key = F.concat_ws("#", idc.cast("string"), b.cast("string"))
        return _uniform01(key, seed) < F.lit(rate)

    # Materialize the corrupted-block list ONCE per row in its own
    # projection: referenced inline it would re-evaluate inside every
    # transform-lambda element — nb x nb md5 calls per row (measured
    # ~1 ms/row at 512 tokens before this split; CollapseProject keeps
    # the stage split because the alias is expensive and multiply
    # referenced, so this stays one codegen stage and zero shuffles).
    staged = df.select(
        idc, toks.alias("__t"), F.filter(blocks, coin).alias("__corr"))
    toks2 = F.col("__t")
    corrupted = F.col("__corr")
    n2 = F.size(toks2)
    base = F.lit(UL2_SENTINEL)

    def block_slice(b):
        return F.slice(toks2, b * span_len + 1, span_len)

    blocks2 = F.when(
        n2 > 0,
        F.sequence(F.lit(0),
                   F.ceil(n2 / F.lit(float(span_len))).cast("int") - 1)) \
        .otherwise(F.array().cast("array<int>"))
    inputs = F.flatten(F.transform(
        blocks2,
        lambda b: F.when(
            F.array_position(corrupted, b) > 0,
            F.array((base + F.array_position(corrupted, b).cast("int") - 1)
                    .cast("int")))
        .otherwise(block_slice(b))))
    targets = F.when(
        n2 > 0,
        F.concat(
            F.flatten(F.transform(
                corrupted,
                lambda b, i: F.concat(F.array((base + i).cast("int")),
                                      block_slice(b)))),
            F.array((base + F.size(corrupted)).cast("int")))) \
        .otherwise(F.array().cast("array<int>"))
    return staged.select(
        F.col(id_col),
        inputs.alias("inputs"),
        targets.alias("targets"),
        F.size(corrupted).alias("n_spans"),
    )


def span_corruption_sql(
    table: str, rate: float, span_len: int, seed: str = "sc0",
) -> str:
    from ulp_spark.operators.sampling import _uniform01_sql

    u = _uniform01_sql("(doc_id || '#' || CAST(b AS VARCHAR))", seed)
    L = span_len
    return f"""
        WITH s AS (
          SELECT doc_id, tokens AS t, len(tokens) AS n,
                 CAST(ceil(len(tokens) / {float(L)!r}) AS INT) AS nb
          FROM {table}
        ),
        c AS (
          SELECT doc_id, t, n, nb,
                 (CASE WHEN n > 0 THEN
                    list_filter(range(0, nb), b -> {u} < {rate})
                  ELSE [] END) AS corrupted
          FROM s
        )
        SELECT doc_id,
          CASE WHEN n > 0 THEN
            flatten(list_transform(range(0, nb), b ->
              CASE WHEN list_contains(corrupted, b)
                   THEN [CAST({UL2_SENTINEL} + list_position(corrupted, b)
                              - 1 AS INTEGER)]
                   ELSE t[(b*{L}+1):((b+1)*{L})] END))
          ELSE CAST([] AS INTEGER[]) END AS inputs,
          CASE WHEN n > 0 THEN
            flatten(list_transform(corrupted, (b, i) ->
              [CAST({UL2_SENTINEL} + i - 1 AS INTEGER)]
              || t[(b*{L}+1):((b+1)*{L})]))
            || [CAST({UL2_SENTINEL} + len(corrupted) AS INTEGER)]
          ELSE CAST([] AS INTEGER[]) END AS targets,
          CAST(len(corrupted) AS INT) AS n_spans
        FROM c
    """


def source_js_divergence(df: DataFrame) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source token
    unigram distributions over a (tokens, source) table — the
    mixture-design complement of cross_source_dup_matrix (shared exact
    sequences): JS answers "how far apart are two sources' token
    distributions", the quantity mixture/temperature tuning and
    duplicate-domain detection read.
    Symmetric, bounded in [0, ln 2], 0 iff identical.

    One row per unordered source pair (source_a < source_b):
    (source_a, source_b, n_common_types, js_micro, js_nats).  Pairs with
    NO common token types still appear (js = ln 2 exactly).  Null
    sources ride the '__null__' bucket.

    Numeric determinism: JS decomposes per common token t into
      0.5 * [p ln(2p/(p+q)) + q ln(2q/(p+q))]
    with p = c_a/T_a, q = c_b/T_b.  Every term is computed from exact
    integer counts via the same double ops on both engines, rounded to
    INTEGER micro-nats, and integer-summed (order-free); the one-sided
    mass (tokens in a alone contribute p ln 2) is recovered in closed
    form from integer totals — js_micro = round-exact cross-engine, no
    float-sum drift.

    Scale shape: ONE pass over the exploded tokens into the (source,
    token) count aggregate — map-side combine collapses to |S| x |vocab|
    rows before the only corpus-scale shuffle; totals are re-aggregated
    FROM those counts (never a rescan); the pair self-join is at vocab
    scale with multiplicity |S| per row, the pair frame is |S|^2
    broadcast.  Token payloads never move.
    """
    src = F.coalesce(F.col("source"), F.lit("__null__"))
    st = (
        df.select(src.alias("source"), F.explode(F.col("tokens")).alias("t"))
        .groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    )
    st = seam(st)  # feeds totals AND both sides of the pair join
    # tot has THREE consumers (both join sides + the pair frame) — seam
    # the |S|-row frame or each one re-aggregates the vocab-scale counts
    tot = seam(st.groupBy("source").agg(F.sum("c").alias("tt")))
    a = (st.join(tot, "source")
         .select(F.col("source").alias("sa"), "t",
                 F.col("c").alias("ca"), F.col("tt").alias("ta")))
    b = (st.join(tot, "source")
         .select(F.col("source").alias("sb"), "t",
                 F.col("c").alias("cb"), F.col("tt").alias("tb")))
    pa = F.col("ca").cast("double") / F.col("ta").cast("double")
    pb = F.col("cb").cast("double") / F.col("tb").cast("double")
    # cross-products in DECIMAL(38,0), not bigint: ca*tb reaches ta*tb,
    # which overflows int64 once per-source totals pass ~3e9 tokens —
    # three orders below the 10^12 design scale (the zipf_fit lesson;
    # DuckDB twin uses HUGEINT).  Exact integers -> one double division.
    ca_d = F.col("ca").cast("decimal(38,0)")
    cb_d = F.col("cb").cast("decimal(38,0)")
    ta_d = F.col("ta").cast("decimal(38,0)")
    tb_d = F.col("tb").cast("decimal(38,0)")
    num = ca_d * tb_d
    den = ca_d * tb_d + cb_d * ta_d
    ra = F.lit(2.0) * num.cast("double") / den.cast("double")
    rb = F.lit(2.0) * (cb_d * ta_d).cast("double") / den.cast("double")
    term_micro = F.round(
        F.lit(500000.0) * (pa * F.log(ra) + pb * F.log(rb))
    ).cast("bigint")
    common = (
        a.join(b, "t")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.sum(term_micro).alias("s_common"),
             F.sum("ca").alias("mass_a"),
             F.sum("cb").alias("mass_b"),
             F.count(F.lit(1)).alias("n_common_types"))
    )
    pairs = (
        tot.select(F.col("source").alias("sa"), F.col("tt").alias("ta"))
        .crossJoin(F.broadcast(
            tot.select(F.col("source").alias("sb"), F.col("tt").alias("tb"))))
        .filter(F.col("sa") < F.col("sb"))
    )
    only_micro = F.round(
        F.lit(500000.0) * F.log(F.lit(2.0)) * (
            (F.col("ta") - F.coalesce(F.col("mass_a"), F.lit(0)))
            .cast("double") / F.col("ta").cast("double")
            + (F.col("tb") - F.coalesce(F.col("mass_b"), F.lit(0)))
            .cast("double") / F.col("tb").cast("double"))
    ).cast("bigint")
    js_micro = (F.coalesce(F.col("s_common"), F.lit(0)) + only_micro) \
        .cast("bigint")
    return (
        pairs.join(common, ["sa", "sb"], "left")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.coalesce(F.col("n_common_types"), F.lit(0)).cast("bigint")
            .alias("n_common_types"),
            js_micro.alias("js_micro"),
            F.round(js_micro.cast("double") / F.lit(1e6), 6)
            .alias("js_nats"),
        )
    )


def source_js_divergence_sql(table: str) -> str:
    return f"""
        WITH st AS (
          SELECT coalesce(source, '__null__') AS source,
                 unnest(tokens) AS t
          FROM {table}
        ),
        cnt AS (
          SELECT source, t, count(*) AS c FROM st GROUP BY source, t
        ),
        tot AS (SELECT source, sum(c) AS tt FROM cnt GROUP BY source),
        joined AS (
          SELECT a.source AS sa, b.source AS sb,
                 a.c AS ca, ta.tt AS ta, b.c AS cb, tb.tt AS tb
          FROM cnt a
          JOIN cnt b ON a.t = b.t AND a.source < b.source
          JOIN tot ta ON ta.source = a.source
          JOIN tot tb ON tb.source = b.source
        ),
        common AS (
          SELECT sa, sb,
                 sum(CAST(round(500000.0 * (
                   (ca::DOUBLE / ta::DOUBLE)
                     * ln(2.0 * (ca::HUGEINT * tb::HUGEINT)::DOUBLE
                          / (ca::HUGEINT * tb::HUGEINT
                             + cb::HUGEINT * ta::HUGEINT)::DOUBLE)
                   + (cb::DOUBLE / tb::DOUBLE)
                     * ln(2.0 * (cb::HUGEINT * ta::HUGEINT)::DOUBLE
                          / (ca::HUGEINT * tb::HUGEINT
                             + cb::HUGEINT * ta::HUGEINT)::DOUBLE)
                 )) AS BIGINT)) AS s_common,
                 sum(ca) AS mass_a,
                 sum(cb) AS mass_b,
                 count(*) AS n_common_types
          FROM joined GROUP BY sa, sb
        ),
        pairs AS (
          SELECT a.source AS sa, a.tt AS ta, b.source AS sb, b.tt AS tb
          FROM tot a JOIN tot b ON a.source < b.source
        )
        SELECT p.sa AS source_a, p.sb AS source_b,
               coalesce(c.n_common_types, 0)::BIGINT AS n_common_types,
               (coalesce(c.s_common, 0)
                + CAST(round(500000.0 * ln(2.0) * (
                    (p.ta - coalesce(c.mass_a, 0))::DOUBLE / p.ta::DOUBLE
                    + (p.tb - coalesce(c.mass_b, 0))::DOUBLE / p.tb::DOUBLE
                  )) AS BIGINT))::BIGINT AS js_micro,
               round((coalesce(c.s_common, 0)
                + CAST(round(500000.0 * ln(2.0) * (
                    (p.ta - coalesce(c.mass_a, 0))::DOUBLE / p.ta::DOUBLE
                    + (p.tb - coalesce(c.mass_b, 0))::DOUBLE / p.tb::DOUBLE
                  )) AS BIGINT))::DOUBLE / 1e6, 6) AS js_nats
        FROM pairs p LEFT JOIN common c ON c.sa = p.sa AND c.sb = p.sb
    """


def denoiser_mix(df: DataFrame) -> DataFrame:
    """UL2 mixture-of-denoisers rewrite (Tay et al. 2022): each sequence
    is deterministically routed to ONE of three denoising objectives and
    rewritten accordingly, with the paper's mode token prepended to the
    inputs stream:

    * R-denoiser (regular): span_corruption at rate 0.15, 3-token spans
      — the T5 objective; mode token ``UL2_R_ID``.
    * X-denoiser (extreme): span_corruption at rate 0.5, 12-token spans;
      mode token ``UL2_X_ID``.
    * S-denoiser (sequential / prefix-LM): a deterministic split point j
      in [0, n]; inputs = [UL2_S_ID] + tokens[..j] + [UL2_SENTINEL],
      targets = [UL2_SENTINEL] + tokens[j+1..]; mode token ``UL2_S_ID``.

    Mode choice and the S split point ride the same 52-bit md5 uniforms
    as every rewrite here (keyed ("ul2", id)) — partition-invariant,
    retry-stable, identical in the DuckDB twin.  Mode and sentinel ids
    must sit outside the corpus vocabulary (caller's contract).

    Returns (id, mode, inputs, targets, n_spans); mode in ('R','X','S'),
    S rows report n_spans = 1.  Non-sentinel/non-mode token multiset
    over inputs+targets equals the original tokens per row.

    Scale shape: three filtered map-only branches unioned — each branch
    is the underlying rewrite's zero-shuffle codegen stage; the union
    adds no exchange, so the whole op stays map-only and co-partitioned
    with the input.
    """
    from ulp_spark.operators.sampling import _uniform01

    idc = F.col("doc_id")
    u_mode = _uniform01(idc, "ul2:mode")
    third = F.lit(1.0) / F.lit(3.0)

    def with_mode(frame: DataFrame, mode: str, mode_id: int) -> DataFrame:
        return frame.select(
            F.col("doc_id"), F.lit(mode).alias("mode"),
            F.concat(F.array(F.lit(mode_id).cast("int")),
                     F.col("inputs")).alias("inputs"),
            F.col("targets"), F.col("n_spans"))

    r_in = df.filter(u_mode < third)
    x_in = df.filter((u_mode >= third) & (u_mode < third * 2))
    s_in = df.filter(u_mode >= third * 2)

    r_out = with_mode(
        span_corruption(r_in, "tokens", "doc_id", rate=0.15, span_len=3,
                        seed="ul2:R"),
        "R", UL2_R_ID)
    x_out = with_mode(
        span_corruption(x_in, "tokens", "doc_id", rate=0.5, span_len=12,
                        seed="ul2:X"),
        "X", UL2_X_ID)

    toks = F.col("tokens")
    n = F.size(toks)
    j = F.floor(_uniform01(idc, "ul2:split") * (n + 1)).cast("int")
    sent = F.lit(UL2_SENTINEL).cast("int")
    s_out = s_in.select(
        idc, F.lit("S").alias("mode"),
        F.concat(F.array(F.lit(UL2_S_ID).cast("int")), F.slice(toks, 1, j),
                 F.array(sent)).alias("inputs"),
        F.concat(F.array(sent),
                 F.when(n - j > 0, F.slice(toks, j + 1, n - j))
                 .otherwise(F.array().cast("array<int>"))).alias("targets"),
        F.lit(1).alias("n_spans"),
    )
    return r_out.unionByName(x_out).unionByName(s_out)


def denoiser_mix_sql(table: str) -> str:
    from ulp_spark.operators.sampling import _uniform01_sql

    u_mode = _uniform01_sql("doc_id", "ul2:mode")
    u_split = _uniform01_sql("doc_id", "ul2:split")
    r_sql = span_corruption_sql(
        f"(SELECT * FROM {table} WHERE ({u_mode}) < 1.0/3.0)",
        rate=0.15, span_len=3, seed="ul2:R")
    x_sql = span_corruption_sql(
        f"(SELECT * FROM {table} WHERE ({u_mode}) >= 1.0/3.0 "
        f"AND ({u_mode}) < (1.0/3.0) * 2)",
        rate=0.5, span_len=12, seed="ul2:X")
    return f"""
        SELECT doc_id, 'R' AS mode,
               [CAST({UL2_R_ID} AS INTEGER)] || inputs AS inputs,
               targets, n_spans
        FROM ({r_sql})
        UNION ALL
        SELECT doc_id, 'X' AS mode,
               [CAST({UL2_X_ID} AS INTEGER)] || inputs AS inputs,
               targets, n_spans
        FROM ({x_sql})
        UNION ALL
        SELECT doc_id, 'S' AS mode,
               [CAST({UL2_S_ID} AS INTEGER)] || t[1:j]
                 || [CAST({UL2_SENTINEL} AS INTEGER)] AS inputs,
               [CAST({UL2_SENTINEL} AS INTEGER)]
                 || (CASE WHEN n - j > 0 THEN t[j+1:n]
                     ELSE CAST([] AS INTEGER[]) END) AS targets,
               1 AS n_spans
        FROM (
          SELECT doc_id, tokens AS t, len(tokens) AS n,
                 CAST(floor(({u_split}) * (len(tokens) + 1))
                      AS INT) AS j
          FROM {table} WHERE ({u_mode}) >= (1.0/3.0) * 2
        )
    """


def gram_novelty(
    df: DataFrame, tokens_col: str, id_col: str,
) -> DataFrame:
    """Per-sequence NOVELTY: the fraction of its distinct token
    ``GRAM``-gram windows whose FIRST corpus occurrence (ascending
    ``id_col`` order — the deterministic ingest order) is in this
    sequence: "how much did I add when I arrived".  Streaming-ingest
    curation uses it to admit documents by marginal contribution (a doc
    that is 95% previously-seen windows adds little signal however unique
    its exact bytes), and memorization audits use the inverse (low-novelty
    rows are the memorization-risk tail).

    Returns (id, n_grams, n_novel, novel_frac) for every sequence with
    at least one full window (rows shorter than ``GRAM`` are omitted).
    Ties cannot occur: first occurrence is min(id) per gram, and a gram
    appearing several times inside one doc collapses in the distinct pair
    set.

    Scale shape: distinct (id, gram-md5) pairs seamed ONCE feeding both
    the min-id census
    (map-side partial min, 16-byte keys) and the per-doc rollup join;
    token arrays never leave the scan stage, nothing quadratic.
    """
    pairs = (
        df.select(F.col(id_col),
                  F.explode(token_grams(F.col(tokens_col))).alias("gk"))
        .distinct()
    )
    pairs = seam(pairs)  # feeds the first-occurrence census AND the rollup
    first = pairs.groupBy("gk").agg(F.min(id_col).alias("__first_id"))
    return (
        pairs.join(first, "gk")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.sum((F.col("__first_id") == F.col(id_col)).cast("bigint"))
             .alias("n_novel"))
        .select(id_col, "n_grams", "n_novel",
                F.round(F.col("n_novel") / F.col("n_grams"), 6)
                .alias("novel_frac"))
    )


def gram_novelty_sql(
    table: str, tokens_col: str, id_col: str,
) -> str:
    """DuckDB twin: distinct pairs -> min-id census -> per-doc rollup."""
    grams = token_grams_sql(tokens_col)
    return f"""
        WITH pairs AS (
          SELECT DISTINCT {id_col}, gk FROM (
            SELECT {id_col}, unnest({grams}) AS gk FROM {table})
        ),
        first AS (SELECT gk, min({id_col}) AS first_id FROM pairs GROUP BY gk)
        SELECT {id_col}, count(*)::BIGINT AS n_grams,
               sum(CASE WHEN first_id = {id_col} THEN 1 ELSE 0 END)::BIGINT
                 AS n_novel,
               round(sum(CASE WHEN first_id = {id_col} THEN 1 ELSE 0 END)::DOUBLE
                     / count(*), 6) AS novel_frac
        FROM pairs JOIN first USING (gk)
        GROUP BY {id_col}
    """
