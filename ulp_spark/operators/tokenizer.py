"""Vocabulary tokenizer APPLY (text -> token ids) — the
step between the text-side corpus (documents) and the token-side table
(doc_id, tokens, n_tok, source) that every other tokens.* operator
consumes.  vocab.py LEARNS vocabulary/merge statistics from a corpus;
this module APPLIES a finished vocabulary.

Algorithm: greedy longest-match (WordPiece-style inference without the
continuation-prefix convention): at each position take the longest
vocabulary piece matching; if none matches, emit ``UNK_ID`` and advance
one character.  Text is lowercased first.  This is NOT iterative BPE
merge-rank application — for a merge list learned by
vocab.bpe_top_merges the greedy result can differ from true BPE on
adversarial vocabularies; greedy is what WordPiece/unigram runtimes ship
for inference and is deterministic given the piece set, which is the
property the oracle needs.

Why a regex: the longest-match recurrence consumes a variable-length
prefix per step, so each output token depends on where the previous match
ended — not expressible as Catalyst column algebra over fixed offsets
(contrast token_grams, whose windows are position-independent).  But a
leftmost-first regex alternation with the pieces ordered longest-first
IS that recurrence, so ``tokenize`` is one JVM projection
(``regexp_extract_all`` + a piece -> id map lookup): no Python worker,
no Arrow round trip, zero shuffles.  ``bpe_tokenize``
(merge-rank order depends on the whole symbol sequence) stays the one
mapInPandas path here.

The DuckDB twin (tokenize_sql) drives the same greedy recurrence with a
recursive CTE, so even this non-relational operator gets a full
value-level SQL oracle.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ulp_spark.functions.sqltext import ident, lit

# The characters a Java regex reads as syntax outside a character class
# (no COMMENTS flag); a backslash before any of them is that character.
_REGEX_META = re.compile(r"([\\^$.|?*+()\[\]{}])")

# The id a character no vocabulary piece covers becomes.
UNK_ID = -1


def tokenize(
    df: DataFrame, text_col: str, id_col: str, vocab: list[str],
) -> DataFrame:
    """(id, tokens array<int>, n_tok) by greedy longest-match over
    ``vocab`` (piece i gets id i).  Null/empty text -> empty array.

    One projection: ``regexp_extract_all(lower(text), '(?s:<pieces
    longest-first>|.)', 0)``, each match mapped to its id through a
    literal piece -> id map (``UNK_ID`` when absent).  Java alternation is
    leftmost-first, like Python ``re``, so trying longer pieces first at
    every position is the greedy rule; equal-length alternatives only
    both match when they are the same string, so their order is
    irrelevant.  The trailing ``.`` consumes one code point (line
    terminators included) — the unk path.  The pattern and the map are
    SQL text in one expression, so planning costs the same handful of
    Py4J calls for any vocab size.

    Scale shape: a narrow projection — no shuffle, no driver collect, no
    Python worker.  ``transform`` has no code generation in Spark 4.1, so
    this Project runs as a generated projection that evaluates the lambda
    interpreted, between the whole-stage-codegen scan and ``size``; the
    regex dominates its cost either way.  Partitioning and row order pass
    through untouched, so the output co-partitions with the input for
    whatever joins follow.  Per position the regex tries the
    alternatives in turn, and the id lookup scans the map's keys, so a
    token costs O(|vocab|) comparisons at worst — the same order as a
    backtracking regex alternation in any engine.

    Lowercasing is Spark's ``lower`` (JVM case mapping), not Python's
    ``str.lower``.  The two agree except on the final-sigma rule when a
    Σ sits next to a case-ignorable character such as ``^``: CPython and
    the JVM decide "end of word" differently there, so one may give ς
    where the other gives σ (pinned in pytest).  The DuckDB twin lowers
    Σ to σ always, so the three implementations already disagreed on
    that case.
    """
    if not vocab:
        raise ValueError("vocab must be non-empty")
    if len(set(vocab)) != len(vocab):
        raise ValueError("vocab has duplicate pieces")
    if "" in vocab:
        raise ValueError("vocab may not contain the empty string")
    text = f"lower(coalesce({ident(text_col)}, ''))"
    alts = "|".join(_REGEX_META.sub(r"\\\1", p)
                    for p in sorted(vocab, key=len, reverse=True))
    ids = ", ".join(f"{lit(p)}, {i}" for i, p in enumerate(vocab))
    tokens = (f"transform(regexp_extract_all({text}, {lit(f'(?s:{alts}|.)')},"
              f" 0), m -> coalesce(element_at(map({ids}), m), {UNK_ID}))")
    return (df.selectExpr(ident(id_col), f"{tokens} AS tokens")
            .selectExpr(ident(id_col), "tokens", "size(tokens) AS n_tok"))


def tokenize_sql(
    table: str, text_col: str, id_col: str, vocab: list[str],
) -> str:
    """DuckDB twin: the greedy recurrence as a recursive CTE.  One
    recursion step consumes one token (longest piece matching at the
    cursor via a correlated ORDER BY len DESC LIMIT 1); rows finish when
    the cursor passes the end.  Oracle-scale only — the point is value
    parity, not throughput."""
    # VALUES list with SQL escaping ('' for ')
    pieces = ", ".join(
        "({}, '{}')".format(i, p.replace("'", "''")) for i, p in enumerate(vocab))
    text = f"lower({text_col})"
    return f"""
        WITH RECURSIVE v(tid, piece) AS (VALUES {pieces}),
        src AS (
          SELECT {id_col}, coalesce({text}, '') AS s FROM {table}
        ),
        step AS (
          SELECT {id_col}, s, 1 AS pos, CAST([] AS INT[]) AS ids FROM src
          UNION ALL
          SELECT {id_col}, s,
                 pos + coalesce(m.len, 1),
                 ids || [coalesce(m.tid, {UNK_ID})]
          FROM step LEFT JOIN LATERAL (
            SELECT v.tid, length(v.piece) AS len FROM v
            WHERE substr(step.s, step.pos, length(v.piece)) = v.piece
            ORDER BY length(v.piece) DESC, v.tid LIMIT 1
          ) m ON TRUE
          WHERE pos <= length(s)
        )
        SELECT {id_col}, ids AS tokens, len(ids)::INT AS n_tok
        FROM step WHERE pos > length(s)
    """


# --------------------------------------------------------------------------
# True BPE merge-rank application (closes the learn -> apply loop with
# vocab.bpe_top_merges; reference-free breadth — the reference has no
# tokenizer, Sennrich et al. 2016 arXiv:1508.07909 defines the algorithm)
# --------------------------------------------------------------------------

def bpe_tokenize(
    df: DataFrame, text_col: str, id_col: str,
    merges: list[tuple[str, str]], vocab: list[str],
) -> DataFrame:
    """(id, tokens array<int>, n_tok) by ITERATIVE merge-rank BPE — the
    faithful GPT-2/Llama-style apply, not greedy longest-match: start
    from characters, repeatedly pick the adjacent symbol pair with the
    LOWEST merge rank present and merge ALL its occurrences left-to-right
    (non-overlapping), until no adjacent pair is in the merge table;
    then map final symbols to ids via ``vocab`` (absent symbol ->
    ``UNK_ID``).  Text is lowercased first (Python ``str.lower``).
    ``tokenize``'s docstring concedes greedy can diverge from this on
    adversarial vocabularies; the divergence is pinned as a pytest
    case.  ``merges[i]`` has rank i — exactly the order
    ``vocab.bpe_top_merges`` emits (its 2-char ``pair`` strings, split
    into (left, right)).

    Scale shape: the one mapInPandas path in this module (``tokenize``
    is a JVM projection) — the merge recurrence is variable-length and
    order-dependent (each step depends on the whole current symbol
    sequence), which no regex alternation expresses: ranks+vocab
    broadcast once per executor, Arrow batches, zero shuffles,
    partitioning passed through.  Per-string cost is
    O(len^2) worst case (each merge pass scans the symbols; symbol count
    strictly decreases), in practice O(len * applied_merges).
    """
    if not vocab:
        raise ValueError("vocab must be non-empty")
    if len(set(vocab)) != len(vocab):
        raise ValueError("vocab has duplicate pieces")
    seen = set()
    for m in merges:
        if len(m) != 2 or not m[0] or not m[1]:
            raise ValueError(f"merge must be a pair of non-empty strings: {m!r}")
        if tuple(m) in seen:
            raise ValueError(f"duplicate merge pair: {m!r}")
        seen.add(tuple(m))
    sc = df.sparkSession.sparkContext
    branks = sc.broadcast({(l, r): i for i, (l, r) in enumerate(merges)})
    bvocab = sc.broadcast({p: i for i, p in enumerate(vocab)})

    id_field = df.schema[id_col]
    schema = T.StructType([
        id_field,
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
    ])

    def run(batches):
        import pandas as pd

        ranks = branks.value
        v = bvocab.value
        big = len(ranks) + 1

        def bpe(s):
            word = list(s)
            while len(word) >= 2:
                # lowest-rank adjacent pair present this iteration
                best, best_rank = None, big
                for i in range(len(word) - 1):
                    r = ranks.get((word[i], word[i + 1]), big)
                    if r < best_rank:
                        best, best_rank = (word[i], word[i + 1]), r
                if best is None or best_rank == big:
                    break
                l, rgt = best
                out, i = [], 0
                while i < len(word):          # merge ALL occurrences, L->R
                    if (i < len(word) - 1 and word[i] == l
                            and word[i + 1] == rgt):
                        out.append(l + rgt)
                        i += 2
                    else:
                        out.append(word[i])
                        i += 1
                word = out
            return [v.get(sym, UNK_ID) for sym in word]

        for pdf in batches:
            toks = []
            for s in pdf[text_col]:
                toks.append([] if s is None else bpe(s.lower()))
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "tokens": toks,
                "n_tok": [len(t) for t in toks],
            })

    return df.select(id_col, text_col).mapInPandas(run, schema)


_SEP = "\x01"


def bpe_tokenize_sql(
    table: str, text_col: str, id_col: str,
    merges: list[tuple[str, str]], vocab: list[str],
) -> str:
    """DuckDB twin of ``bpe_tokenize`` as a recursive CTE.  One recursion
    step applies ONE full merge: symbols ride as a chr(1)-joined string,
    the best present pair is the lowest-rank one whose
    ``SEP||l||SEP||r||SEP`` pattern occurs, and ``replace()`` (all
    non-overlapping occurrences, left-to-right) IS the BPE merge-all
    semantics — shared boundary separators make consecutive occurrences
    resolve left-to-right exactly like the symbol walk.  Oracle-scale
    only.  Pieces/merges must not contain chr(1) (guarded)."""
    for p in vocab:
        if _SEP in p:
            raise ValueError("vocab piece contains the reserved separator")
    for l, r in merges:
        if _SEP in l or _SEP in r:
            raise ValueError("merge side contains the reserved separator")

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    mrows = ", ".join(
        f"({i}, {q(l)}, {q(r)})" for i, (l, r) in enumerate(merges))
    vkeys = ", ".join(q(p) for p in vocab)
    vids = ", ".join(str(i) for i in range(len(vocab)))
    text = f"lower({text_col})"
    # string_split('', SEP) yields [''], so empty text needs the guard
    return f"""
        WITH RECURSIVE m(rank, l, r) AS (VALUES {mrows}),
        src AS (
          SELECT {id_col},
                 list_aggregate(string_split(coalesce({text}, ''), ''),
                                'string_agg', chr(1)) AS s
          FROM {table}
        ),
        step AS (
          SELECT {id_col}, coalesce(s, '') AS s, 0 AS done FROM src
          UNION ALL
          SELECT {id_col},
                 CASE WHEN b.rank IS NULL THEN s ELSE
                   substr(replace(chr(1) || s || chr(1),
                                  chr(1) || b.l || chr(1) || b.r || chr(1),
                                  chr(1) || b.l || b.r || chr(1)),
                          2, length(replace(chr(1) || s || chr(1),
                                  chr(1) || b.l || chr(1) || b.r || chr(1),
                                  chr(1) || b.l || b.r || chr(1))) - 2)
                 END,
                 CASE WHEN b.rank IS NULL THEN 1 ELSE 0 END
          FROM step LEFT JOIN LATERAL (
            SELECT m.rank, m.l, m.r FROM m
            WHERE instr(chr(1) || step.s || chr(1),
                        chr(1) || m.l || chr(1) || m.r || chr(1)) > 0
            ORDER BY m.rank LIMIT 1
          ) b ON TRUE
          WHERE done = 0
        ),
        final AS (SELECT {id_col}, s FROM step WHERE done = 1)
        SELECT {id_col},
               CASE WHEN s = '' THEN CAST([] AS INT[]) ELSE
                 list_transform(
                   string_split(s, chr(1)),
                   sym -> coalesce(
                     map_extract(map([{vkeys}], [{vids}]), sym)[1],
                     {UNK_ID})::INT)
               END AS tokens,
               CASE WHEN s = '' THEN 0 ELSE
                 len(string_split(s, chr(1))) END::INT AS n_tok
        FROM final
    """


def fertility_stats(docs: DataFrame, tok: DataFrame) -> DataFrame:
    """Tokenizer fertility report per source — the standard tokenizer-
    evaluation table (how many tokens the tokenizer spends per char /
    per word, and how much of the stream falls to UNK) computed over a
    (docs, tokenized) pair joined on ``doc_id``: ``docs`` carries
    ``text`` and ``source``, ``tok`` is ``tokenize``/``bpe_tokenize``
    output:

    (source, n_docs, n_tokens, n_unk, n_chars, n_words,
     chars_per_token, tokens_per_word, unk_frac)

    High tokens_per_word / low chars_per_token = an ill-fitting vocab
    for that source (the signal vocab sizing and per-language coverage
    decisions read); unk_frac > 0 quantifies out-of-vocab mass.

    Cross-engine exactness: every aggregate is an integer sum (token,
    unk, char, word counts); the three ratios are single divisions of
    exact bigints rounded to 6 dp — identical on both engines.  Null
    sources ride '__null__' (the tokens module's convention); ratios are
    NULL when their denominator is 0.

    Scale shape: one key-scale join (docs ids against tokenized ids —
    co-partitioned when ``tok`` came straight from ``tokenize``, which
    preserves partitioning) followed by one map-side-combined aggregate
    at |sources| rows.  Token arrays are reduced to per-row counts in
    the scan projection — they never shuffle.
    """
    from ulp_spark.operators.curation import word_tokens

    txt = F.coalesce(F.col("text"), F.lit(""))
    d = docs.select(
        F.col("doc_id"),
        F.coalesce(F.col("source"), F.lit("__null__")).alias("__src"),
        F.length(txt).cast("bigint").alias("__chars"),
        F.size(word_tokens(txt)).cast("bigint").alias("__words"),
    )
    t = tok.select(
        F.col("doc_id"),
        F.col("n_tok").cast("bigint").alias("__ntok"),
        F.size(F.filter(F.col("tokens"),
                        lambda x: x == F.lit(UNK_ID))).cast("bigint")
        .alias("__nunk"),
    )
    g = (
        d.join(t, "doc_id")
        .groupBy(F.col("__src").alias("source"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("__ntok").alias("n_tokens"),
             F.sum("__nunk").alias("n_unk"),
             F.sum("__chars").alias("n_chars"),
             F.sum("__words").alias("n_words"))
    )
    return g.select(
        "source", "n_docs", "n_tokens", "n_unk", "n_chars", "n_words",
        F.when(F.col("n_tokens") > 0,
               F.round(F.col("n_chars").cast("double")
                       / F.col("n_tokens").cast("double"), 6))
        .alias("chars_per_token"),
        F.when(F.col("n_words") > 0,
               F.round(F.col("n_tokens").cast("double")
                       / F.col("n_words").cast("double"), 6))
        .alias("tokens_per_word"),
        F.when(F.col("n_tokens") > 0,
               F.round(F.col("n_unk").cast("double")
                       / F.col("n_tokens").cast("double"), 6))
        .alias("unk_frac"),
    )


def fertility_stats_sql(docs_table: str, tok_sql: str) -> str:
    """DuckDB twin; ``tok_sql`` is a subquery yielding (doc_id, tokens,
    n_tok) — e.g. tokenize_sql(...)."""
    from ulp_spark.operators.curation import word_tokens_sql

    txt = "coalesce(text, '')"
    return f"""
        WITH d AS (
          SELECT doc_id,
                 coalesce(source, '__null__') AS source,
                 length({txt})::BIGINT AS chars,
                 len({word_tokens_sql(txt)})::BIGINT AS words
          FROM {docs_table}
        ),
        t AS (
          SELECT doc_id, n_tok::BIGINT AS ntok,
                 len(list_filter(tokens, x -> x = {UNK_ID}))::BIGINT AS nunk
          FROM ({tok_sql})
        ),
        g AS (
          SELECT d.source,
                 count(*) AS n_docs,
                 sum(t.ntok) AS n_tokens,
                 sum(t.nunk) AS n_unk,
                 sum(d.chars) AS n_chars,
                 sum(d.words) AS n_words
          FROM d JOIN t USING (doc_id)
          GROUP BY d.source
        )
        SELECT source, n_docs::BIGINT AS n_docs,
               n_tokens::BIGINT AS n_tokens, n_unk::BIGINT AS n_unk,
               n_chars::BIGINT AS n_chars, n_words::BIGINT AS n_words,
               CASE WHEN n_tokens > 0
                    THEN round(n_chars::DOUBLE / n_tokens::DOUBLE, 6)
               END AS chars_per_token,
               CASE WHEN n_words > 0
                    THEN round(n_tokens::DOUBLE / n_words::DOUBLE, 6)
               END AS tokens_per_word,
               CASE WHEN n_tokens > 0
                    THEN round(n_unk::DOUBLE / n_tokens::DOUBLE, 6)
               END AS unk_frac
        FROM g
    """
