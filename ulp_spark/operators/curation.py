"""Corpus-curation operators for training-data pipelines: Gopher-style
repetition signals, passage-level dedup, PII redaction and boilerplate
removal.

These are the filters an LLM data pipeline runs AFTER parsing and BEFORE
tokenization (reference analog: the per-record enrich/filter stage of the
ulp DAG, src/lib.rs record loop — here generalized to corpus hygiene).
Design rules, same as textstats/dedup:

* per-document signals are pure Column expressions over the token ARRAY
  (higher-order functions) — zero shuffle, whole-stage codegen, O(n·k)
  per row; at 100 TB they run at scan speed.
* corpus-global signals (passage dup counts, boilerplate) shuffle ONLY
  on the content key (passage hash), never all-pairs.
* every op has a DuckDB SQL twin producing identical values, so each is
  oracle-gated.

Word n-grams here are SEQUENCES (position-preserving, duplicates kept) —
unlike dedup._grams, which builds the distinct shingle SET — because the
repetition signals measure exactly those duplicates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ulp_spark.operators.textstats import SPLIT_WS
from ulp_spark.session import seam

PASSAGE_WORDS = 8          # words per dedup passage
BOILER_MIN_DOCS = 2        # distinct docs that make a passage boilerplate
ROUND = 6                  # decimal places for ratio outputs


# --------------------------------------------------------------------------
# word tokens + word n-gram sequences (duplicates kept)
# --------------------------------------------------------------------------

def word_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens; empty/blank text -> empty array
    (same emptiness rule as textstats.token_count_ws_sql)."""
    t = F.trim(F.lower(text))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(t, SPLIT_WS))


def word_tokens_sql(text: str) -> str:
    # SPLIT_WS, not `\s`: Java \s includes \x0B, RE2's does not.
    return (f"CASE WHEN len(trim(lower({text}))) = 0 THEN []::VARCHAR[] "
            f"ELSE regexp_split_to_array(trim(lower({text})), '{SPLIT_WS}') END")


def word_grams(tokens: Column, k: int) -> Column:
    """All word ``k``-grams in order, duplicates kept; < k tokens -> empty.

    Windows are built from k ``element_at`` reads instead of
    ``slice``+join: slice allocates a fresh array per gram, and the
    per-gram allocation dominated the whole repetition battery (measured
    24 s -> 2 s building g2+g3 over the 500k-doc bench corpus).
    Every window is full (the sequence bound stops at n-k+1), so the
    joined strings are identical.  Pass an ATTRIBUTE for ``tokens`` on
    corpus-scale data (the reused-expression trap)."""
    n = F.size(tokens)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tokens, i + j) for j in range(k)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_grams_sql(tokens: str, k: int) -> str:
    # DuckDB list slice l[a:b] is 1-based inclusive; range(a, b) excludes b.
    return (
        f"CASE WHEN len({tokens}) >= {k} THEN "
        f"list_transform(range(1, len({tokens}) - {k - 1} + 1), "
        f"i -> array_to_string(({tokens})[i:i+{k - 1}], ' ')) "
        f"ELSE []::VARCHAR[] END"
    )


# --------------------------------------------------------------------------
# Gopher-style repetition signals (per document, zero shuffle)
# --------------------------------------------------------------------------

def _dup_frac(grams: Column) -> Column:
    """Fraction of n-gram OCCURRENCES whose gram appears more than once:
    (total - distinct) / total; 0.0 when there are no grams."""
    total = F.size(grams)
    dup = total - F.size(F.array_distinct(grams))
    return F.when(total == 0, F.lit(0.0)).otherwise(
        F.round(dup.cast("double") / total, ROUND))


def _dup_frac_sql(grams: str) -> str:
    return (f"CASE WHEN len({grams}) = 0 THEN 0.0 ELSE "
            f"round((len({grams}) - len(list_distinct({grams})))::DOUBLE "
            f"/ len({grams}), {ROUND}) END")


def dup_frac(grams: Column) -> Column:
    """Public staged-form building block: duplicate-occurrence fraction
    over an ALREADY-STAGED token/gram array column (see repetition_stats
    for why callers should stage the array once)."""
    return _dup_frac(grams)


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Duplicate-n-gram fractions a-la Gopher quality filtering
    (Rae et al. 2021, arXiv:2112.11446 §A1.1): repeated word / 2-gram /
    3-gram mass signals boilerplate and degenerate generation loops.

    Everything is array algebra on one row — size/array_distinct over
    transform-built gram arrays — so the op is a codegen'd projection:
    no shuffle, no UDF, cost O(n·k) per doc.  The token and gram arrays
    are staged as columns once: inlined, each ``_dup_frac`` references
    its gram array twice and Catalyst does not CSE across those copies,
    which compiled/evaluated ~15x slower (19.9 s vs 1.4 s for 5k docs
    x10 replicas, local[32]).  Identical values to
    :func:`repetition_signals_sql`.
    """
    toks = word_tokens(F.col(text_col))
    staged = df.select(F.col(id_col), toks.alias("toks")).select(
        id_col, "toks",
        word_grams(F.col("toks"), 2).alias("g2"),
        word_grams(F.col("toks"), 3).alias("g3"),
    )
    n = F.size("toks")
    distinct_ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(F.size(F.array_distinct("toks")).cast("double") / n, ROUND))
    return staged.select(
        id_col,
        n.alias("n_words"),
        distinct_ratio.alias("distinct_word_ratio"),
        _dup_frac(F.col("toks")).alias("dup_word_frac"),
        _dup_frac(F.col("g2")).alias("dup_2gram_frac"),
        _dup_frac(F.col("g3")).alias("dup_3gram_frac"),
    )


def repetition_signals_sql(text: str) -> dict[str, str]:
    toks = word_tokens_sql(text)
    n = f"len({toks})"
    return {
        "n_words": n,
        "distinct_word_ratio": (
            f"CASE WHEN {n} = 0 THEN 0.0 ELSE "
            f"round(len(list_distinct({toks}))::DOUBLE / ({n}), {ROUND}) END"),
        "dup_word_frac": _dup_frac_sql(toks),
        "dup_2gram_frac": _dup_frac_sql(word_grams_sql(toks, 2)),
        "dup_3gram_frac": _dup_frac_sql(word_grams_sql(toks, 3)),
    }


# --------------------------------------------------------------------------
# passage-level dedup (CCNet-style, corpus-global)
# --------------------------------------------------------------------------

def _passage_hashes_from_tokens(toks: Column) -> Column:
    """md5 of each consecutive ``PASSAGE_WORDS``-word chunk (last chunk
    partial)
    of an ALREADY-STAGED token array column — pass an attribute so the
    chunk lambda references cheap input.

    Chunking (stride = width) rather than sliding keeps the explode factor
    at n/words instead of n — the CCNet paragraph-dedup shape applied to
    token windows."""
    words = PASSAGE_WORDS
    n = F.size(toks)
    n_chunks = F.ceil(n / F.lit(float(words))).cast("int")
    # try_element_at instead of slice+join (the word_grams allocation
    # win); the LAST chunk is partial — try_element_at past the end
    # yields NULL (plain element_at THROWS under Spark 4's ANSI default)
    # and concat_ws skips NULLs, so the joined string is identical
    return F.when(n == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda j: F.md5(F.concat_ws(
                " ", *[F.try_element_at(toks, j * words + 1 + i)
                       for i in range(words)])),
        ))


def passage_hashes_sql(text: str) -> str:
    toks = word_tokens_sql(text)
    words = PASSAGE_WORDS
    return (
        f"CASE WHEN len({toks}) = 0 THEN []::VARCHAR[] ELSE "
        f"list_transform(range(0, CAST(ceil(len({toks}) / {words}.0) AS INT)), "
        f"j -> md5(array_to_string(({toks})[j*{words}+1 : j*{words}+{words}], ' '))) END"
    )


def passage_dup_stats(
    df: DataFrame, text_col: str, id_col: str, via: str = "join",
) -> DataFrame:
    """Per-document duplicated-passage stats against the WHOLE corpus
    (passages of ``PASSAGE_WORDS`` words).

    Two physical strategies, identical results (equality pinned on a
    degenerate 20k-docs-one-boilerplate corpus in pytest):

    * ``via="join"`` (default): the downstream only needs the BOOLEAN
      "is this passage duplicated", so: explode -> groupBy(ph).count
      (map-side partial combine collapses a hot passage to ONE row per
      upstream partition) -> keep only count>1 keys (the DUP set, far
      smaller than the passage table on any deduplicatable corpus) ->
      LEFT join that set back.  AQE picks the join physically: a small
      dup set becomes a runtime broadcast (the corpus is then NEVER
      shuffled on ph), a huge one a sort-merge join whose hot keys AQE
      skew-splitting can subdivide.
    * ``via="window"``: count over Window.partitionBy(ph) — no join, but
      a passage shared by M documents becomes ONE window partition that
      WindowExec must sort and buffer (spilling at large M); AQE cannot
      split a window partition.  Kept for corpora known skew-free.

    No collect, no all-pairs — a passage shared by M docs costs M rows,
    not M^2, on both paths.

    The join path seams the exploded (id, ph) frame (session.seam): the
    dup-key census and the probe side BOTH consume it, and unseamed each
    re-pays the full text-derivation + explode — measured 17 s vs 7.4 s
    for the single-pass window on the sf0.1 bench corpus.  The window
    path has one consumer and needs no seam.
    """
    # stage the token array (one split/lower pass), THEN chunk-hash over
    # the attribute — the inline form re-splits the text per chunk
    exploded = df.select(
        F.col(id_col),
        word_tokens(F.col(text_col)).alias("__toks"),
    ).select(
        F.col(id_col),
        F.explode(_passage_hashes_from_tokens(F.col("__toks")))
        .alias("ph"),
    )
    if via == "join":
        exploded = seam(exploded)
    if via == "window":
        cnt = F.count(F.lit(1)).over(Window.partitionBy("ph"))
        per_passage = exploded.withColumn("is_dup", cnt > 1)
    elif via == "join":
        dup_keys = (
            exploded.groupBy("ph").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .select("ph", F.lit(True).alias("__dup"))
        )
        per_passage = (
            exploded.join(dup_keys, "ph", "left")
            .withColumn("is_dup", F.coalesce(F.col("__dup"), F.lit(False)))
        )
    else:
        raise ValueError(f"via must be 'join' or 'window', got {via!r}")
    n_p = F.count(F.lit(1))
    n_dup = F.sum(F.col("is_dup").cast("int"))
    return per_passage.groupBy(id_col).agg(
        n_p.alias("n_passages"),
        n_dup.cast("bigint").alias("n_dup_passages"),
        F.round(n_dup.cast("double") / n_p, ROUND).alias("dup_frac"),
    )


def passage_dup_stats_sql(table: str, text_col: str, id_col: str) -> str:
    return f"""
        WITH p AS (
            SELECT {id_col},
                   unnest({passage_hashes_sql(text_col)}) AS ph
            FROM {table}
        ),
        c AS (SELECT ph, count(*) AS ph_count FROM p GROUP BY ph)
        SELECT p.{id_col},
               count(*)::BIGINT AS n_passages,
               sum((c.ph_count > 1)::INT)::BIGINT AS n_dup_passages,
               round(sum((c.ph_count > 1)::INT)::DOUBLE / count(*), {ROUND}) AS dup_frac
        FROM p JOIN c USING (ph)
        GROUP BY p.{id_col}
    """


# --------------------------------------------------------------------------
# PII redaction (regex scrub, per row, zero shuffle)
# --------------------------------------------------------------------------

# Patterns restricted to syntax identical under Java regex and RE2
# (DuckDB): ASCII classes, \\b word boundaries, bounded repeats.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact(text: Column) -> tuple[Column, dict[str, Column]]:
    """Apply ``PII_RULES`` in order; returns (redacted, {name: n_hits}).

    Hit counts are measured on the text as each rule sees it (post prior
    redactions), matching what was actually replaced. Pure regexp_replace /
    regexp_count — codegen'd, no UDF.
    """
    counts: dict[str, Column] = {}
    out = text
    for name, pat, repl in PII_RULES:
        counts[name] = F.regexp_count(out, F.lit(pat))
        out = F.regexp_replace(out, pat, repl)
    return out, counts


def redact_sql(text: str) -> tuple[str, dict[str, str]]:
    counts: dict[str, str] = {}
    out = text
    for name, pat, repl in PII_RULES:
        sp, sr = pat.replace("'", "''"), repl.replace("'", "''")
        counts[name] = f"len(regexp_extract_all({out}, '{sp}'))"
        out = f"regexp_replace({out}, '{sp}', '{sr}', 'g')"
    return out, counts


# --------------------------------------------------------------------------
# boilerplate passage removal (document REWRITE, not just a flag)
# --------------------------------------------------------------------------

def strip_boilerplate(
    df: DataFrame, text_col: str, id_col: str,
) -> DataFrame:
    """Remove every passage (``PASSAGE_WORDS``-word chunk, the
    passage_dup_stats unit) that occurs in >= ``BOILER_MIN_DOCS``
    DISTINCT documents, and rebuild
    each document from its surviving chunks — the CCNet boilerplate rule
    as a document REWRITE rather than a per-doc flag (reference parity:
    ulp only routes/aggregates; this is LLM-pipeline breadth like the
    rest of this module).

    Returns one row per input document: (id, text, n_chunks, n_dropped)
    where text is the surviving chunks joined by single spaces.  The
    rebuild is whitespace-normalizing by construction (chunks come from
    ``word_tokens``: lowercased, whitespace-split), so a document with no
    boilerplate comes back as its lowercased space-normalized self — the
    exact-equality invariant pinned in pytest.  Documents whose every
    chunk is boilerplate (and empty documents) come back as ''.

    Scale shape: chunking explodes to n/words rows (stride = width, the
    passage_dup_stats factor); the census aggregates DISTINCT (ph, id)
    pairs — map-side partial distinct collapses intra-doc repeats — down
    to passage-key scale, and the boiler set (count >= BOILER_MIN_DOCS) is far
    smaller still, so AQE broadcasts the anti-join on realistic corpora
    and skew-splits a sort-merge join on adversarial ones (same trade as
    passage_dup_stats via="join").  The one corpus-scale exchange is the
    groupBy(id) re-assembly — unavoidable for a rewrite whose unit spans
    the row — and it moves surviving chunk TEXT once, nothing else.  No
    collect, no window over a hot passage partition.

    The exploded chunk table is seamed once (session.seam): the census,
    the anti-join probe, the per-doc chunk totals, and the rebuild all
    read that ONE materialization, so the full-width corpus is scanned
    exactly once (plus one column-pruned id scan for the every-doc output
    frame).
    """
    # null text behaves like empty text (n_chunks 0, rebuilt as '')
    words = PASSAGE_WORDS
    toks = word_tokens(F.coalesce(F.col(text_col), F.lit("")))
    n_chunks = F.ceil(F.size(toks) / F.lit(float(words))).cast("int")
    chunk = F.struct(
        F.col("j").alias("pos"),
        # try_element_at instead of slice+join (see word_grams; plain
        # element_at throws past the end under ANSI): the partial tail
        # chunk joins identically because concat_ws skips NULLs
        F.concat_ws(
            " ", *[F.try_element_at(F.col("__toks"),
                                    F.col("j") * words + 1 + i)
                   for i in range(words)]
        ).alias("chunk"),
    )
    base = df.select(
        F.col(id_col), toks.alias("__toks"), n_chunks.alias("n_chunks"))
    ex = (
        base.filter(F.col("n_chunks") > 0)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("j"),
            "__toks",
        )
        .select(id_col, chunk.alias("c"))
        .select(id_col, F.col("c.pos").alias("pos"),
                F.col("c.chunk").alias("chunk"),
                F.md5(F.col("c.chunk")).alias("ph"))
    )
    ex = seam(ex)
    boiler = (
        ex.select("ph", id_col).distinct()
        .groupBy("ph").agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= BOILER_MIN_DOCS)
        .select("ph")
    )
    kept = ex.join(boiler, "ph", "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s["chunk"],
                ),
            ).alias("__text"),
            F.count(F.lit(1)).alias("__n_kept"),
        )
    )
    # per-doc chunk totals from the seam, not a second corpus scan; the
    # every-doc output frame needs only the id column (pruned)
    totals = ex.groupBy(id_col).agg((F.max("pos") + 1).alias("n_chunks"))
    out = (
        df.select(id_col)
        .join(totals, id_col, "left")
        .na.fill({"n_chunks": 0})
    )
    return (
        out.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__text"), F.lit("")).alias(text_col),
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            (F.col("n_chunks") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("bigint").alias("n_dropped"),
        )
    )


def strip_boilerplate_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB twin: same chunk -> distinct census -> anti-join -> ordered
    string_agg rebuild.  range(0, 0) is empty, so zero-chunk docs drop out
    of the unnest exactly like Spark's explode; they re-enter as '' via
    the final left join."""
    toks = word_tokens_sql(f"coalesce({text_col}, '')")
    words = PASSAGE_WORDS
    return f"""
        WITH base AS (
          SELECT {id_col}, {toks} AS toks,
                 CAST(ceil(len({toks}) / {words}.0) AS INT) AS n_chunks
          FROM {table}
        ),
        ch AS (
          SELECT {id_col},
                 unnest([{{'pos': j,
                           'chunk': array_to_string(
                               toks[j*{words}+1 : j*{words}+{words}], ' ')}}
                         FOR j IN range(0, n_chunks)],
                        recursive := true)
          FROM base
        ),
        boiler AS (
          SELECT ph FROM (
            SELECT md5(chunk) AS ph, count(DISTINCT {id_col}) AS nd
            FROM ch GROUP BY 1)
          WHERE nd >= {BOILER_MIN_DOCS}
        ),
        kept AS (
          SELECT c.* FROM ch c LEFT JOIN boiler b ON md5(c.chunk) = b.ph
          WHERE b.ph IS NULL
        ),
        reb AS (
          SELECT {id_col}, string_agg(chunk, ' ' ORDER BY pos) AS t,
                 count(*) AS n_kept
          FROM kept GROUP BY {id_col}
        )
        SELECT base.{id_col},
               coalesce(reb.t, '') AS {text_col},
               base.n_chunks::BIGINT AS n_chunks,
               (base.n_chunks - coalesce(reb.n_kept, 0))::BIGINT AS n_dropped
        FROM base LEFT JOIN reb USING ({id_col})
    """


# --------------------------------------------------------------------------
# C4 line-level cleaning (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning" SS2.2) — rule-based document rewrite
# --------------------------------------------------------------------------

C4_TERMINAL_CHARS = (".", "!", "?", '"', "”")
C4_LINE_BLACKLIST = ("javascript", "lorem ipsum", "cookie policy")
C4_MIN_WORDS = 3           # whitespace words a kept line needs
C4_MIN_LINES = 2           # kept lines a document needs for keep_doc


def _line_keep(line: Column) -> Column:
    t = F.trim(line)
    low = F.lower(t)
    black = F.lit(False)
    for phrase in C4_LINE_BLACKLIST:
        black = black | F.contains(low, F.lit(phrase))
    return (
        (F.length(t) > 0)
        & F.substring(t, -1, 1).isin(*C4_TERMINAL_CHARS)
        & (F.size(F.split(t, r"\s+")) >= C4_MIN_WORDS)
        & ~black
    )


def clean_lines(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """C4's line-level cleaning as a document REWRITE: keep only lines
    that (a) end in a terminal punctuation mark, (b) have at least
    ``C4_MIN_WORDS`` whitespace words, and (c) contain no
    ``C4_LINE_BLACKLIST`` phrase (C4 dropped any line with the word
    "javascript"); rebuild the text from survivors and flag documents
    keeping fewer than ``C4_MIN_LINES`` lines (C4 dropped pages with < 3
    sentences — reported as a flag here so callers choose drop vs
    inspect).  Complements strip_boilerplate
    (census-based, corpus-global) with the rule-based, corpus-free
    member of the curation family.

    Returns one row per input document:
    (id, text_clean, n_lines, n_kept, keep_doc) — ``n_lines`` counts
    non-blank lines, null text behaves like empty text.

    Scale shape: pure per-row array algebra (split, filter-lambda,
    array_join) in ONE whole-stage-codegen span — no shuffle, no UDF, no
    census; co-partitions with the input at any scale.
    """
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    kept = F.filter(lines, _line_keep)
    nonblank = F.filter(lines, lambda l: F.length(F.trim(l)) > 0)
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text_clean"),
        F.size(nonblank).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_kept"),
        (F.size(kept) >= C4_MIN_LINES).alias("keep_doc"),
    )


def clean_lines_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB twin: identical rules over string_split/list_filter."""
    terminals = ", ".join(
        "'" + c.replace("'", "''") + "'" for c in C4_TERMINAL_CHARS)
    black = " OR ".join(
        f"contains(lower(trim(x)), '{p}')" for p in C4_LINE_BLACKLIST)
    ok = (
        f"length(trim(x)) > 0 AND right(trim(x), 1) IN ({terminals}) "
        f"AND len(string_split_regex(trim(x), '{SPLIT_WS}')) >= {C4_MIN_WORDS} "
        f"AND NOT ({black})"
    )
    return f"""
        SELECT {id_col},
               coalesce(array_to_string(
                 list_filter(string_split(coalesce({text_col}, ''), chr(10)),
                             x -> {ok}), chr(10)), '') AS text_clean,
               len(list_filter(string_split(coalesce({text_col}, ''), chr(10)),
                   x -> length(trim(x)) > 0))::INT AS n_lines,
               len(list_filter(string_split(coalesce({text_col}, ''), chr(10)),
                   x -> {ok}))::INT AS n_kept,
               len(list_filter(string_split(coalesce({text_col}, ''), chr(10)),
                   x -> {ok})) >= {C4_MIN_LINES} AS keep_doc
        FROM {table}
    """


# --------------------------------------------------------------------------
# Gopher rule-bundle quality filter (Rae et al. 2021, appendix A1.1)
# --------------------------------------------------------------------------

# Deterministic re-derivation of the Gopher document-level rules on the
# signals this repo already computes cross-engine.  Thresholds are the
# published ones; the symbol/bullet character sets are pinned explicitly
# (the paper's are prose-described) so both engines agree bit-for-bit.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WLEN = 3.0
GOPHER_MAX_MEAN_WLEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1     # '#' or ellipsis per word
GOPHER_MAX_BULLET_FRAC = 0.9      # lines starting with a bullet
GOPHER_MAX_ELLIPSIS_FRAC = 0.3    # lines ending with an ellipsis
GOPHER_MIN_ALPHA_FRAC = 0.8       # words containing a letter
GOPHER_MIN_STOPWORDS = 2          # distinct members of STOP_EN present
_SYMBOL_RE = r"#|\.\.\.|…"
_ALPHA_RE = r"\p{L}"             # any Unicode letter (Java and RE2 alike)
_BULLETS = ("-", "*", "•", "‣")


def gopher_rules(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The Gopher rule-bundle quality filter as one row of per-rule
    verdicts: MassiveWeb's document-level heuristics (word count
    50..100k, mean word length 3..10, symbol-to-word ratio <= 0.1,
    bullet-started lines <= 90%, ellipsis-ended lines <= 30%, >= 80% of
    words contain a letter — any Unicode letter (``_ALPHA_RE``) on both
    engines, so ``café`` and ``日本語`` count — >= 2 distinct English
    stopwords).  Unlike
    ``quality_score`` (a soft composite for ranking) this is the
    hard-reject bundle production corpora apply first; emitting each
    rule's boolean lets curation dashboards attribute WHY a document
    fell, which a single pass/fail cannot.

    Returns (id, n_words, mean_word_len, symbol_ratio, bullet_frac,
    ellipsis_frac, alpha_frac, n_stop_present, r_*: boolean per rule,
    gopher_pass).  Ratios are rounded to 6 places and the rule verdicts
    compare the ROUNDED values, so both engines decide identically at
    the thresholds.  Null text behaves as empty (fails the word-count
    rule).  Line fractions are over non-blank lines; a document with no
    non-blank lines has fraction 0 (passes those two rules).

    Scale shape: pure per-row expressions (split / filter / aggregate
    lambdas + a handful of regexp_counts) in ONE whole-stage-codegen
    span — no shuffle, no UDF, co-partitions with the input.  The words
    array is materialized once in its own projection and every signal
    reads the alias (the recorded reused-expression rule: a referenced
    expression inside higher-order lambdas is re-evaluated per element).
    """
    from ulp_spark.operators.textstats import STOP_EN

    text = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.select(
        F.col(id_col),
        text.alias("__t"),
        word_tokens(text).alias("__w"),
        F.filter(F.split(text, "\n"),
                 lambda l: F.length(F.trim(l)) > 0).alias("__ln"),
    )
    w, ln, t = F.col("__w"), F.col("__ln"), F.col("__t")
    n_words = F.size(w)
    safe_w = F.greatest(n_words, F.lit(1)).cast("double")
    n_lines = F.size(ln)
    safe_ln = F.greatest(n_lines, F.lit(1)).cast("double")
    sum_wlen = F.aggregate(w, F.lit(0).cast("bigint"),
                           lambda acc, x: acc + F.length(x))
    mean_wlen = F.round(sum_wlen.cast("double") / safe_w, ROUND)
    sym_ratio = F.round(
        F.regexp_count(t, F.lit(_SYMBOL_RE)).cast("double") / safe_w, ROUND)
    bullet = F.size(F.filter(
        ln, lambda l: F.substring(F.ltrim(l), 1, 1).isin(*_BULLETS)))
    bullet_frac = F.round(bullet.cast("double") / safe_ln, ROUND)
    ellip = F.size(F.filter(
        ln, lambda l: F.endswith(F.rtrim(l), F.lit("..."))
        | F.endswith(F.rtrim(l), F.lit("…"))))
    ellip_frac = F.round(ellip.cast("double") / safe_ln, ROUND)
    alpha = F.size(F.filter(w, lambda x: x.rlike(_ALPHA_RE)))
    alpha_frac = F.round(alpha.cast("double") / safe_w, ROUND)
    n_stop = sum(
        (F.array_contains(w, s).cast("int") for s in STOP_EN),
        F.lit(0))
    m = staged.select(
        F.col(id_col), n_words.alias("n_words"), mean_wlen.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"), bullet_frac.alias("bullet_frac"),
        ellip_frac.alias("ellipsis_frac"), alpha_frac.alias("alpha_frac"),
        n_stop.alias("n_stop_present"),
    )
    r = m.select(
        "*",
        ((F.col("n_words") >= GOPHER_MIN_WORDS)
         & (F.col("n_words") <= GOPHER_MAX_WORDS)).alias("r_word_count"),
        ((F.col("mean_word_len") >= GOPHER_MIN_MEAN_WLEN)
         & (F.col("mean_word_len") <= GOPHER_MAX_MEAN_WLEN))
        .alias("r_mean_word_len"),
        (F.col("symbol_ratio") <= GOPHER_MAX_SYMBOL_RATIO).alias("r_symbol"),
        (F.col("bullet_frac") <= GOPHER_MAX_BULLET_FRAC).alias("r_bullet"),
        (F.col("ellipsis_frac") <= GOPHER_MAX_ELLIPSIS_FRAC)
        .alias("r_ellipsis"),
        (F.col("alpha_frac") >= GOPHER_MIN_ALPHA_FRAC).alias("r_alpha"),
        (F.col("n_stop_present") >= GOPHER_MIN_STOPWORDS).alias("r_stopwords"),
    )
    return r.select(
        "*",
        (F.col("r_word_count") & F.col("r_mean_word_len") & F.col("r_symbol")
         & F.col("r_bullet") & F.col("r_ellipsis") & F.col("r_alpha")
         & F.col("r_stopwords")).alias("gopher_pass"),
    )


def gopher_rules_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB twin: same staged words/lines arrays, same rounded-value
    rule comparisons."""
    from ulp_spark.operators.textstats import STOP_EN

    text = f"coalesce({text_col}, '')"
    words = word_tokens_sql(text)
    bullets = ", ".join(f"'{b}'" for b in _BULLETS)
    stop_sum = " + ".join(
        "CAST(list_contains(__w, '" + w.replace("'", "''") + "') AS INT)"
        for w in STOP_EN)
    return f"""
        WITH staged AS (
          SELECT {id_col}, {text} AS __t, {words} AS __w,
                 list_filter(string_split({text}, chr(10)),
                             l -> len(trim(l)) > 0) AS __ln
          FROM {table}
        ),
        m AS (
          SELECT {id_col},
                 len(__w)::INT AS n_words,
                 round(coalesce(list_sum(list_transform(__w, x -> len(x))), 0)
                       ::DOUBLE / greatest(len(__w), 1), {ROUND})
                   AS mean_word_len,
                 round(len(regexp_extract_all(__t, '{_SYMBOL_RE}'))::DOUBLE
                       / greatest(len(__w), 1), {ROUND}) AS symbol_ratio,
                 round(len(list_filter(__ln,
                       l -> substr(ltrim(l), 1, 1) IN ({bullets})))::DOUBLE
                       / greatest(len(__ln), 1), {ROUND}) AS bullet_frac,
                 round(len(list_filter(__ln,
                       l -> ends_with(rtrim(l), '...')
                            OR ends_with(rtrim(l), '…')))::DOUBLE
                       / greatest(len(__ln), 1), {ROUND}) AS ellipsis_frac,
                 round(len(list_filter(__w,
                       x -> regexp_matches(x, '{_ALPHA_RE}')))::DOUBLE
                       / greatest(len(__w), 1), {ROUND}) AS alpha_frac,
                 ({stop_sum})::INT AS n_stop_present
          FROM staged
        )
        SELECT *,
               (r_word_count AND r_mean_word_len AND r_symbol AND r_bullet
                AND r_ellipsis AND r_alpha AND r_stopwords) AS gopher_pass
        FROM (
          SELECT *,
                 (n_words >= {GOPHER_MIN_WORDS}
                  AND n_words <= {GOPHER_MAX_WORDS}) AS r_word_count,
                 (mean_word_len >= {GOPHER_MIN_MEAN_WLEN}
                  AND mean_word_len <= {GOPHER_MAX_MEAN_WLEN})
                   AS r_mean_word_len,
                 (symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}) AS r_symbol,
                 (bullet_frac <= {GOPHER_MAX_BULLET_FRAC}) AS r_bullet,
                 (ellipsis_frac <= {GOPHER_MAX_ELLIPSIS_FRAC}) AS r_ellipsis,
                 (alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}) AS r_alpha,
                 (n_stop_present >= {GOPHER_MIN_STOPWORDS}) AS r_stopwords
          FROM m
        )
    """
