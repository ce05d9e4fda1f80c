"""Sequence packing: assign every tokenized document its global token
offset, so fixed-length training chunks can be cut deterministically —
the step between "deduped corpus" and "training batches" in an LLM data
pipeline (operates on the BASELINE.json input_hint table
``(doc_id, tokens, n_tok, source)``).

The core is a DISTRIBUTED GLOBAL CUMULATIVE SUM.  A naive
``Window.orderBy(key)`` with no partition key collapses the whole table
into ONE task — the classic single-reducer trap.  The scalable shape is
the two-phase prefix sum every parallel-scan paper uses:

    1. bucket rows by a DATA-DERIVED range id ``__pid`` (sampled key
       boundaries -> monotone bucket expression), so bucket i holds keys
       < all of bucket i+1's;
    2. local cumulative sum inside each bucket (window partitioned by
       ``__pid`` — streams, never buffers);
    3. per-bucket totals (tiny aggregate) -> driver prefix -> joined
       back as a broadcast base offset.

The bucket id is derived from the data, not stamped as
``spark_partition_id()`` on a ``repartitionByRange``: a stamped id needs
a localCheckpoint to stay stable across actions and costs TWO full-data
exchanges — the range shuffle, then a second hash exchange for the
window because the checkpointed RDD reports UnknownPartitioning.
Deriving ``__pid`` from the DATA (like Spark's own RangePartitioner:
sample keys, pick boundaries, bucket by comparison) makes the id
deterministic across actions with no checkpoint and no range shuffle:
the totals pass is a map-side-combined aggregate whose exchange carries
``n_part`` rows, and the final pass pays the ONE full-data exchange the
window genuinely needs.  Boundary quality only
affects load balance, never correctness — any monotone bucketing yields
the exact prefix sum.  Driver memory is O(n_part * 100) sampled keys.

Wall-clock is two narrow passes + two KiB collects; no single task ever
sees more than one bucket.  Results are EXACT and independent of the
input partitioning, so the DuckDB twin is a plain window cumsum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHUNK = 512  # training sequence length (tokens)
MIN_BUCKET = 32  # narrowest length_bucket_stats bucket (tokens)


def _range_boundaries(df: DataFrame, order_col: str, n_part: int) -> list:
    """Sampled split points for a monotone ``n_part``-way bucketing of
    ``order_col`` (ascending, deduplicated): about 100 keys per bucket,
    drawn in ONE job as a seeded random top-k (``orderBy(rand(7))
    .limit(k)`` plans as TakeOrderedAndProject: per-partition k-row heaps,
    one driver merge), so a frame smaller than the sample is taken
    whole.  Empty list -> one bucket."""
    if n_part <= 1:
        return []
    sample = sorted(
        r[0]
        for r in df.select(order_col).orderBy(F.rand(7))
        .limit(n_part * 100).collect()
        if r[0] is not None
    )
    if not sample:
        return []
    step = len(sample) / n_part
    bounds: list = []
    for i in range(1, n_part):
        b = sample[min(len(sample) - 1, int(i * step))]
        if not bounds or b != bounds[-1]:
            bounds.append(b)
    return bounds


def global_cumsum(
    df: DataFrame, order_col: str, val_col: str,
    out_col: str = "tok_offset",
) -> DataFrame:
    """Adds ``out_col`` = exclusive prefix sum of ``val_col`` in
    ``order_col`` order (i.e. the global offset where this row starts).

    ``__pid`` is a pure expression over ``order_col`` (bucket index
    against broadcast sorted boundaries), so the totals aggregate and the
    final window agree by construction — no checkpoint is needed to keep
    them in step across AQE re-plans, and the plan's only
    full-data exchange is the window's hash partition by ``__pid``."""
    from pyspark.sql import Window

    n_part = df.sparkSession.sparkContext.defaultParallelism
    bounds = _range_boundaries(df, order_col, n_part)
    if bounds:
        barr = F.array(*[F.lit(b) for b in bounds])
        # monotone bucket id: how many boundaries the key exceeds
        # (sorted bounds -> equivalent to a binary search; linear
        # higher-order scan over n_part-1 literals, JVM-side)
        pid = F.size(F.filter(barr, lambda b: F.col(order_col) > b))
    else:
        pid = F.lit(0)
    keyed = df.withColumn("__pid", pid)
    # per-bucket total via sum(val), NOT max(running sum): they agree
    # only for non-negative values, and this is a general prefix sum
    totals = {
        r["__pid"]: r["total"]
        for r in keyed.groupBy("__pid")
        .agg(F.sum(F.col(val_col).cast("bigint")).alias("total")).collect()
    }
    base, prefix = 0, {}
    for p in sorted(totals):
        prefix[p] = base
        base += totals[p]
    if not prefix:
        return keyed.withColumn(out_col, F.lit(None).cast("bigint")) \
            .drop("__pid")
    base_col = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(p) for p in sorted(prefix)]),
            F.array(*[F.lit(prefix[p]) for p in sorted(prefix)]),
        ),
        F.col("__pid"),
    )
    w = Window.partitionBy("__pid").orderBy(order_col)
    local = keyed.withColumn(
        "__local_end", F.sum(F.col(val_col).cast("bigint")).over(w))
    return (
        local.withColumn(
            out_col,
            (base_col + F.col("__local_end")
             - F.col(val_col).cast("bigint")).cast("bigint"))
        .drop("__pid", "__local_end")
    )


# --------------------------------------------------------------------------
# doc-boundary-respecting bin packing (no document ever split)
# --------------------------------------------------------------------------

def pack_bins(
    df: DataFrame, capacity: int = CHUNK, buckets: int = 256,
) -> DataFrame:
    """Assign each ``(doc_id, n_tok)`` document to exactly one
    ``capacity``-token training bin WITHOUT splitting any document — the
    sample-packing form (Megatron/T5-style).

    Two-level scheme: documents hash deterministically into ``buckets``
    groups (xxhash64 of the id — independent of input partitioning), and
    each bucket packs its own documents with first-fit-decreasing.
    Returns (doc_id, n_tok, bucket, bin_id, oversize) where bin_id =
    bucket * 2^32 + local bin index (globally unique), and oversize marks
    documents longer than ``capacity`` (each gets a bin of its own; the
    caller decides truncate-vs-drop — this operator never mutates data).

    Scale shape: ONE exchange (``repartition(bucket)``) plus a
    within-partition sort by (bucket, n_tok desc, id asc) — the FFD scan
    order — then ONE ``mapInPandas`` call per task that streams the
    partition's Arrow batches.  A partition holds whole buckets (several
    after AQE coalescing); the scan keeps first-fit state for the
    current bucket only, resets it when the bucket changes, and carries
    it across batch boundaries, so the Python boundary is crossed once
    per batch, not once per bucket, and a bucket never has to fit in
    memory as one frame — only its open bins' remaining capacities are
    held.  Packing quality is bucket-local FFD — within the
    11/9·OPT + 6/9 FFD bound per bucket, plus at most one partial bin
    per bucket globally.  Only (id, n_tok, bucket) rows move; the token
    arrays never do.  Determinism: bucket choice is a pure hash of the
    id and FFD scans docs in (n_tok desc, id) order, so the assignment
    is a pure function of the (id, n_tok) set — pinned
    partition-invariant and against a pure-Python FFD reference in
    pytest.  The first-fit probe is O(docs·open bins) pure Python; swap
    for a best-fit tree if a bucket ever holds millions of docs.
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    keyed = df.select(
        F.col("doc_id"), F.col("n_tok"),
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(buckets))
        .cast("int").alias("bucket"),
    )
    out_schema = T.StructType([
        keyed.schema["doc_id"],
        T.StructField("n_tok", keyed.schema["n_tok"].dataType, True),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("bin_id", T.LongType(), False),
        T.StructField("oversize", T.BooleanType(), False),
    ])

    def pack(batches):
        bucket, remaining = None, []     # open bins of the current bucket
        for pdf in batches:
            bin_ids: list[int] = []
            oversize: list[bool] = []
            for b, tok in zip(pdf["bucket"].tolist(), pdf["n_tok"].tolist()):
                if b != bucket:
                    bucket, remaining = b, []
                t = int(tok)
                if t > capacity:
                    # own bin, never co-packed; flagged for the caller.
                    # remaining = -1 (not 0) sentinels the bin as closed
                    # so a zero-token document's `rem >= t` probe can
                    # never land in it
                    remaining.append(-1)
                    slot = len(remaining) - 1
                else:
                    for slot, rem in enumerate(remaining):   # first fit
                        if rem >= t:
                            remaining[slot] = rem - t
                            break
                    else:
                        remaining.append(capacity - t)
                        slot = len(remaining) - 1
                bin_ids.append((b << 32) | slot)
                oversize.append(t > capacity)
            yield pdf.assign(bin_id=bin_ids, oversize=oversize)

    return (
        keyed.repartition("bucket")
        .sortWithinPartitions(
            "bucket", F.col("n_tok").desc(), F.col("doc_id").asc())
        .mapInPandas(pack, out_schema)
    )


def bin_stats(packed: DataFrame, capacity: int = CHUNK) -> DataFrame:
    """One-row packing-quality report over a pack_bins assignment:
    (n_docs, n_bins, n_oversize, fill_frac) where fill_frac counts only
    regular bins (oversize bins are the caller's problem by contract)."""
    per_bin = packed.groupBy("bin_id").agg(
        F.sum(F.col("n_tok").cast("bigint")).alias("toks"),
        F.count(F.lit(1)).alias("docs"),
        F.max(F.col("oversize").cast("int")).alias("over"),
    )
    reg = F.col("over") == 0
    n_reg = F.sum(reg.cast("bigint"))
    return per_bin.agg(
        F.sum("docs").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("over").cast("bigint").alias("n_oversize"),
        # every-bin-oversize -> 0.0 by definition, not a NULL that reads
        # as missing data downstream
        F.when(n_reg > 0,
               F.round(F.sum(F.when(reg, F.col("toks")).otherwise(0))
                       / (n_reg * capacity), 6))
        .otherwise(F.lit(0.0)).alias("fill_frac"),
    )


def pack_sequences(seq: DataFrame, packed: DataFrame) -> DataFrame:
    """Materialize the training rows for a pack_bins assignment: one row
    per bin — (bin_id, tokens, doc_starts, n_docs, n_tok) where tokens is
    the bin's documents concatenated (ascending id order — deterministic,
    not insert order) and doc_starts[i] is the offset where document i
    begins: exactly the block-diagonal attention-mask / loss-boundary
    input a trainer needs so packed documents cannot attend across
    boundaries.

    Scale shape: an equi-join on id (packed is (id, bin_id) — key-scale,
    AQE-broadcastable) then ONE groupBy(bin_id) that moves each token
    array once.  The concatenation and the prefix-sum of lengths are
    single JVM higher-order expressions (F.aggregate) over the collected
    bin — a bin holds <= capacity tokens by construction, so the
    per-group state is bounded by the bin capacity, never by the corpus.
    No SQL twin: the upstream FFD assignment is itself non-relational;
    invariants (flatten length == sum n_tok, starts == exclusive prefix
    sums, every doc exactly once) are pinned in pytest instead.
    """
    j = seq.select("doc_id", "tokens").join(
        packed.select("doc_id", "bin_id"), "doc_id")
    grouped = j.groupBy("bin_id").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "tokens")))
        .alias("__arr"))
    arr = F.col("__arr")
    toks = F.flatten(F.transform(arr, lambda s: s["tokens"]))
    starts = F.aggregate(
        arr,
        F.struct(F.array().cast("array<int>").alias("st"),
                 F.lit(0).alias("off")),
        lambda acc, s: F.struct(
            F.concat(acc["st"], F.array(acc["off"])).alias("st"),
            (acc["off"] + F.size(s["tokens"])).alias("off")),
        lambda acc: acc["st"],
    )
    return grouped.select(
        "bin_id",
        toks.alias("tokens"),
        starts.alias("doc_starts"),
        F.size(arr).alias("n_docs"),
        F.size(toks).alias("n_tok"),
    )


def length_bucket_stats(df: DataFrame) -> DataFrame:
    """Padding-waste accounting for LENGTH-BUCKETED batching — the cheap
    alternative to pack_bins when documents must stay un-concatenated
    (e.g. SFT rows).  Each sequence lands in the power-of-two bucket
    ceil'd from its length (floored at ``MIN_BUCKET``); batching within a
    bucket pads every row to the bucket width.  Output: one row per
    bucket — (bucket, n_seqs, sum_tok, pad_tok, pad_frac) with pad_tok =
    n_seqs*bucket - sum_tok — plus the padding a pad-to-global-max
    batcher would spend is derivable as max(bucket)*total_seqs - total
    tokens, so the report quantifies exactly what bucketing buys.

    Scale shape: one map-side bucket expression + one groupBy(bucket) —
    a dozen-row aggregate with map-side combine; no joins, no windows.
    Rows with NULL or non-positive length are excluded by contract
    (report them separately, don't fold them into padding math).
    """
    n = F.col("n_tok").cast("bigint")
    # double log2/pow CAN misround near exact powers of two; the two
    # guards below self-correct both directions, making the bucket
    # integer-exact at every 2^k edge (pinned by the 1..600 sweep test).
    exp = F.when(n <= MIN_BUCKET, F.lit(float(MIN_BUCKET))).otherwise(
        F.pow(F.lit(2.0), F.ceil(F.log2(n.cast("double")))))
    bucket = exp.cast("bigint")
    # guard the float-log edge: if pow/log2 rounding undershot (bucket<n)
    # double it; if it overshot a full level (bucket >= 2n), halve it.
    bucket = F.when(bucket < n, bucket * 2).otherwise(bucket)
    bucket = F.when((bucket >= n * 2) & (bucket > MIN_BUCKET), bucket / 2)\
        .otherwise(bucket).cast("bigint")
    return (
        df.filter(n.isNotNull() & (n > 0))
        .select(bucket.alias("bucket"), n.alias("__n"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("__n").alias("sum_tok"),
            (F.count(F.lit(1)) * F.first("bucket") - F.sum("__n"))
            .alias("pad_tok"),
        )
        .select(
            "bucket", "n_seqs", "sum_tok", "pad_tok",
            F.round(F.col("pad_tok") / (F.col("pad_tok") + F.col("sum_tok")),
                    6).alias("pad_frac"),
        )
    )


def length_bucket_stats_sql(table: str) -> str:
    """DuckDB twin of length_bucket_stats (integer-exact bucket via the
    same guarded float-log construction, so edge rows agree bitwise)."""
    n = "CAST(n_tok AS BIGINT)"
    b0 = (f"CASE WHEN {n} <= {MIN_BUCKET} THEN {MIN_BUCKET}.0 "
          f"ELSE pow(2.0, ceil(log2(CAST({n} AS DOUBLE)))) END")
    b1 = f"CAST({b0} AS BIGINT)"
    b2 = f"(CASE WHEN {b1} < {n} THEN {b1} * 2 ELSE {b1} END)"
    b3 = (f"CAST(CASE WHEN {b2} >= {n} * 2 AND {b2} > {MIN_BUCKET} "
          f"THEN {b2} / 2 ELSE {b2} END AS BIGINT)")
    return f"""
        SELECT bucket, n_seqs, sum_tok, pad_tok,
               round(pad_tok / CAST(pad_tok + sum_tok AS DOUBLE), 6)
                 AS pad_frac
        FROM (
          SELECT bucket,
                 count(*) AS n_seqs,
                 sum(n)::BIGINT AS sum_tok,
                 (count(*) * any_value(bucket) - sum(n))::BIGINT AS pad_tok
          FROM (SELECT {b3} AS bucket, {n} AS n FROM {table}
                WHERE n_tok IS NOT NULL AND n_tok > 0)
          GROUP BY bucket
        )
    """


def pack_segments(packed: DataFrame) -> DataFrame:
    """Per-position SEGMENT IDS and IN-DOCUMENT POSITIONS for packed
    training rows — the two arrays a trainer derives from (tokens,
    doc_starts) to build the block-diagonal attention mask and the
    reset position embeddings (the "packing without cross-contamination"
    recipe: each packed document attends only within its own segment and
    restarts positions at 0).  Materializing them beside the tokens lets
    a data loader consume shards with zero per-step bookkeeping.

    Adds two columns to ``packed``: segment_ids[p] = index of the
    document owning position p (0-based, aligned with doc_starts), and
    pos_in_doc[p] = p - doc_starts[segment_ids[p]].  Works on any frame
    carrying (tokens, doc_starts) — pack_sequences output, or the
    relational hash-bucket packing the oracle query uses.

    Scale shape: pure per-row array algebra, LINEAR in n_tok (document
    lengths are recovered from consecutive starts and each segment is
    emitted with array_repeat/sequence, then flattened — not the
    O(n_tok x n_docs) per-position filter), one codegen span, no
    shuffle; co-partitions with the input.
    """
    toks, starts = F.col("tokens"), F.col("doc_starts")
    nd = F.size(starts)
    n = F.size(toks)
    # gate nd = 0: sequence(0, -1) counts DOWN in Spark (the recorded
    # descending-sequence trap), which would poison the transforms with
    # index -1 -> NULL arrays instead of empty ones
    idx = F.when(nd > 0, F.sequence(F.lit(0), nd - 1)) \
        .otherwise(F.array().cast("array<int>"))

    def seg_len(i):
        nxt = F.when(i == nd - 1, n).otherwise(F.get(starts, i + 1))
        return nxt - F.get(starts, i)

    seg_ids = F.flatten(F.transform(
        idx, lambda i: F.array_repeat(i.cast("int"), seg_len(i))))
    pos = F.flatten(F.transform(
        idx, lambda i: F.when(
            seg_len(i) > 0,
            F.sequence(F.lit(0), seg_len(i) - 1)).otherwise(
            F.array().cast("array<int>")).cast("array<int>")))
    return packed.select(
        "*", seg_ids.alias("segment_ids"), pos.alias("pos_in_doc"))


def bucket_pack_segments_sql(
    table: str, id_col: str, tokens_col: str, buckets_expr: str,
) -> str:
    """DuckDB twin of the RELATIONAL packing composition the oracle
    query runs: assign bin_id = ``buckets_expr`` (a deterministic hash
    bucket), concatenate each bin's documents in ascending id order,
    derive doc_starts as the exclusive prefix sum of lengths (a plain
    window — the oracle may be single-node), then emit the same linear
    segment_ids / pos_in_doc arrays as :func:`pack_segments`."""
    return f"""
        WITH b AS (
          SELECT {buckets_expr} AS bin_id, {id_col}, {tokens_col} AS t
          FROM {table}
        ),
        w AS (
          SELECT bin_id, {id_col}, t,
                 CAST(sum(len(t)) OVER (PARTITION BY bin_id
                        ORDER BY {id_col}
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - len(t) AS INTEGER) AS st
          FROM b
        ),
        g AS (
          SELECT bin_id,
                 flatten(list(t ORDER BY {id_col})) AS tokens,
                 list(st ORDER BY {id_col}) AS doc_starts,
                 count(*)::INT AS n_docs,
                 CAST(sum(len(t)) AS INT) AS n_tok
          FROM w GROUP BY bin_id
        )
        SELECT bin_id, tokens, doc_starts, n_docs, n_tok,
               flatten([[CAST(i - 1 AS INTEGER)
                         FOR x IN range(CASE WHEN i = len(doc_starts)
                                        THEN len(tokens)
                                        ELSE doc_starts[i + 1] END
                                        - doc_starts[i])]
                        FOR i IN range(1, len(doc_starts) + 1)])
                 AS segment_ids,
               flatten([[CAST(x AS INTEGER)
                         FOR x IN range(CASE WHEN i = len(doc_starts)
                                        THEN len(tokens)
                                        ELSE doc_starts[i + 1] END
                                        - doc_starts[i])]
                        FOR i IN range(1, len(doc_starts) + 1)])
                 AS pos_in_doc
        FROM g
    """
