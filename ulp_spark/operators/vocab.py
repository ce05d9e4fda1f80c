"""Vocabulary / tokenizer-training statistics over a document corpus:
word frequencies and BPE-style adjacent-character-pair counts.

These are the aggregations a tokenizer-training pipeline runs over the
full corpus before BPE merges can be chosen (Sennrich et al. 2016,
arXiv:1508.07909): exactly the "count every word, then count every
adjacent symbol pair weighted by word frequency" step.  Scale shape:

* the FIRST aggregation collapses the corpus to its vocabulary
  (``groupBy(word).count`` — map-side partial combine means each executor
  emits one row per distinct word it saw, not per occurrence); every
  later step runs at vocabulary scale, which is orders of magnitude
  smaller than corpus scale.
* pair extraction is array algebra on the distinct-word rows
  (``transform`` over a ``sequence`` of offsets), then one more
  combine-heavy ``groupBy(pair).sum``.
* top-k uses ``orderBy(...).limit(k)`` which Spark executes as
  TakeOrderedAndProject — per-partition heaps, no global sort.

Tokenization reuses curation.word_tokens (explicit whitespace class —
identical under Java regex and RE2/DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ulp_spark.operators.curation import word_tokens, word_tokens_sql

BPE_MIN_COUNT = 2  # a pair seen fewer times than this ends bpe training
BPE_TOP_MERGES = 20  # merges bpe_top_merges returns by default
BPE_MAX_WORDS = 200_000  # most frequent words bpe_train learns merges on


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, n) corpus word frequencies — the vocabulary."""
    return (
        df.select(F.explode(word_tokens(F.col(text_col))).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    )


def word_counts_sql(table: str, text_col: str) -> str:
    return f"""
    SELECT w AS word, count(*)::BIGINT AS n
    FROM (SELECT unnest({word_tokens_sql(text_col)}) AS w FROM {table})
    GROUP BY w
    """


def _char_pairs(word: Column) -> Column:
    """All adjacent character pairs of ``word`` in order (len<2 -> empty):
    substr(word, i, 2) for i in 1..len-1."""
    n = F.length(word)
    return F.when(
        n >= 2,
        F.transform(F.sequence(F.lit(1), n - 1),
                    lambda i: word.substr(i, F.lit(2))),
    ).otherwise(F.array().cast("array<string>"))


def bpe_pair_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(pair, n) adjacent-character-pair counts weighted by word frequency
    — the statistic argmaxed by each BPE merge step.  Pairs are counted
    per OCCURRENCE within a word (``aa`` in ``aaa`` counts twice), then
    weighted by how often the word occurs in the corpus."""
    wc = word_counts(df, text_col)
    return (
        wc.select("n", F.explode(_char_pairs(F.col("word"))).alias("pair"))
        .groupBy("pair").agg(F.sum("n").alias("n"))
    )


def bpe_pair_counts_sql(table: str, text_col: str) -> str:
    return f"""
    SELECT pair, sum(n)::BIGINT AS n
    FROM (
      SELECT n, unnest(list_transform(range(1, len(word)), i -> substr(word, i, 2))) AS pair
      FROM ({word_counts_sql(table, text_col)})
      WHERE len(word) >= 2
    )
    GROUP BY pair
    """


def bpe_top_merges(
    df: DataFrame, text_col: str, k: int = BPE_TOP_MERGES,
) -> DataFrame:
    """Top-``k`` candidate BPE merges (ties -> lexicographically smaller
    pair), i.e. the first ``k`` greedy merge choices if pair statistics
    were frozen."""
    return (
        bpe_pair_counts(df, text_col)
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(k)
    )


def bpe_top_merges_sql(table: str, text_col: str) -> str:
    return (f"SELECT pair, n FROM ({bpe_pair_counts_sql(table, text_col)}) "
            f"ORDER BY n DESC, pair LIMIT {BPE_TOP_MERGES}")


def bpe_train(
    df: DataFrame, text_col: str, n_merges: int,
) -> dict:
    """Learn an ordered BPE merge list from the corpus — the full
    iterative loop, closing the learn -> apply chain: ``bpe_top_merges``
    exposes the FIRST iteration's frozen statistics; this runs the real
    recurrence (count pairs, merge the argmax everywhere, recount) and
    its output feeds ``tokenizer.bpe_tokenize`` directly.

    Scale shape (the two-regime design every real BPE trainer uses,
    incl. the train-on-sample precedent of ``ivf_train_spherical``): the
    corpus-scale work is ONE distributed word-count aggregate — map-side
    partial combine collapses 100 TB of text to its vocabulary on the
    first exchange — plus a TakeOrderedAndProject keeping the
    ``BPE_MAX_WORDS`` most frequent words; the merge recurrence then runs on
    that bounded driver table (pair counts updated incrementally, only
    words containing the merged pair are revisited).  The recurrence is
    inherently sequential (merge i+1's statistics depend on merge i
    having been applied), so no distributed form exists that isn't
    n_merges full shuffles.

    Tie-break: highest count, then lexicographically smallest
    ``(left, right)`` tuple — deterministic at any partitioning.  Pair
    occurrences count per-occurrence within a word ("aa" twice in
    "aaa"), matching ``bpe_pair_counts``.  Stops early when no pair
    reaches ``BPE_MIN_COUNT``.

    Returns ``{"merges": [(l, r), ...], "vocab": [piece, ...],
    "n_words_trained", "n_words_total", "freq_mass_kept"}`` — ``vocab``
    is base characters (sorted) then merged symbols in rank order,
    first-occurrence deduplicated, ready for ``bpe_tokenize``; the two
    coverage numbers make the ``BPE_MAX_WORDS`` cap loud, never silent.
    """
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    wc = word_counts(df, text_col)
    tot = wc.agg(F.count(F.lit(1)).alias("w"),
                 F.sum("n").alias("m")).collect()[0]
    n_words_total, mass_total = tot["w"] or 0, tot["m"] or 0
    rows = [(r["word"], r["n"]) for r in
            wc.orderBy(F.col("n").desc(), "word").limit(BPE_MAX_WORDS)
            .collect()]
    mass_kept = sum(n for _, n in rows)
    merges, vocab = bpe_merge_loop(rows, n_merges)
    return {
        "merges": merges,
        "vocab": vocab,
        "n_words_trained": len(rows),
        "n_words_total": n_words_total,
        "freq_mass_kept": (float(mass_kept) / mass_total
                           if mass_total else 1.0),
    }


def bpe_merge_loop(
    rows: list[tuple[str, int]], n_merges: int,
) -> tuple[list[tuple[str, str]], list[str]]:
    """The driver-side merge recurrence behind ``bpe_train``, exposed as
    a pure function of a (word, count) table so tests and oracles can
    drive it without a SparkSession.  Incremental bookkeeping: pair
    counts update in place and only words containing the merged pair are
    revisited (stale inverted-index entries are re-checked at use time);
    pinned against a recount-from-scratch naive reference in pytest.
    Returns (merges in rank order, vocab = sorted base chars then merged
    symbols, first-occurrence deduplicated)."""
    from collections import defaultdict

    syms = [list(w) for w, _ in rows]
    freq = [n for _, n in rows]

    pair_counts: dict = defaultdict(int)
    pair_words: dict = defaultdict(set)

    def add_word(i, sign=1):
        s = syms[i]
        for a, b in zip(s, s[1:]):
            pair_counts[(a, b)] += sign * freq[i]
            if sign > 0:
                pair_words[(a, b)].add(i)

    for i in range(len(syms)):
        add_word(i)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best, best_n = None, 0
        for p, c in pair_counts.items():
            if c > best_n or (c == best_n and best is not None and p < best):
                best, best_n = p, c
        if best is None or best_n < BPE_MIN_COUNT:
            break
        merges.append(best)
        l, r = best
        for i in list(pair_words[best]):
            if (l, r) not in zip(syms[i], syms[i][1:]):
                continue  # stale index entry from an earlier rewrite
            add_word(i, sign=-1)
            out, j = [], 0
            s = syms[i]
            while j < len(s):  # merge ALL occurrences, L->R non-overlap
                if j < len(s) - 1 and s[j] == l and s[j + 1] == r:
                    out.append(l + r)
                    j += 2
                else:
                    out.append(s[j])
                    j += 1
            syms[i] = out
            add_word(i)
        pair_counts.pop(best, None)
        pair_words.pop(best, None)

    base = sorted({c for w, _ in rows for c in w})
    vocab, seen = [], set()
    for piece in base + [l + r for l, r in merges]:
        if piece not in seen:
            seen.add(piece)
            vocab.append(piece)
    return merges, vocab
