"""Text analysis for training-data pipelines: quality scoring, token
counting, document fingerprinting.

All pure Column expressions (regexp_count / split / md5), with DuckDB SQL
twins — identical numbers on both engines, so every op is oracle-gated.
The heuristics are deliberately simple and deterministic (no model files):
surface statistics and English stopword evidence for quality.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace written out as an explicit class: Java regex \s includes
# vertical tab \x0B but RE2 (DuckDB) \s does not, so a bare `\s` drifts
# between the two engines on \x0B. Both engines read this class
# identically (backslash escapes interpreted by the regex engine).
WS = r"\t\n\x0B\f\r "
SPLIT_WS = rf"[{WS}]+"
PUNCT_RE = rf"[^A-Za-z0-9{WS}]"
# English stopwords (lowercase, matched as whole words)
STOP_EN = ["the", "and", "of", "to", "is", "in", "that", "it"]
STOP_EN_RE = r"\b(" + "|".join(STOP_EN) + r")\b"


def token_count_ws_sql(text: str) -> str:
    """Whitespace tokens (0 for empty/blank); the Spark side counts them
    as ``F.size(curation.word_tokens(text))``."""
    return (f"CASE WHEN len(trim({text})) = 0 THEN 0 "
            f"ELSE len(regexp_split_to_array(trim({text}), '{SPLIT_WS}')) END")


def quality_features(text: Column, n_tokens: Column) -> dict[str, Column]:
    """Surface-statistics quality signals (all deterministic doubles).

    ``n_tokens`` is the whitespace token count,
    ``F.size(curation.word_tokens(text))``; pass it as a staged column to
    avoid re-inlining the whitespace split — Catalyst does not CSE the
    copies (see curation.repetition_stats for the measured cost).
    """
    n_chars = F.length(text)
    n_tok = n_tokens
    n_punct = F.regexp_count(text, F.lit(PUNCT_RE))
    n_stop = F.regexp_count(F.lower(text), F.lit(STOP_EN_RE))
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_tok = F.greatest(n_tok, F.lit(1)).cast("double")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "punct_ratio": F.round(n_punct / safe_chars, 6),
        "stopword_ratio": F.round(n_stop / safe_tok, 6),
        "mean_token_len": F.round(
            (n_chars - (n_tok - 1).cast("double")).cast("double") / safe_tok, 6),
    }


def quality_score(text: Column, n_tokens: Column) -> Column:
    """[0,1] composite: long enough, some stopwords, sane punctuation."""
    f = quality_features(text, n_tokens)
    len_ok = F.least(f["n_tokens"].cast("double") / F.lit(20.0), F.lit(1.0))
    stop_ok = F.least(f["stopword_ratio"] * 4, F.lit(1.0))
    punct_pen = F.greatest(F.lit(1.0) - f["punct_ratio"] * 5, F.lit(0.0))
    return F.round((len_ok + stop_ok + punct_pen) / 3, 6)


def quality_features_sql(text: str) -> dict[str, str]:
    n_chars = f"len({text})"
    n_tok = token_count_ws_sql(text)
    n_punct = f"len(regexp_extract_all({text}, '{PUNCT_RE}'))"
    n_stop = f"len(regexp_extract_all(lower({text}), '{STOP_EN_RE}'))"
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "punct_ratio": f"round(({n_punct}) / greatest({n_chars}, 1)::DOUBLE, 6)",
        "stopword_ratio": f"round(({n_stop}) / greatest({n_tok}, 1)::DOUBLE, 6)",
        "mean_token_len": (
            f"round((({n_chars}) - (({n_tok}) - 1))::DOUBLE / greatest({n_tok}, 1), 6)"),
    }


def quality_score_sql(text: str) -> str:
    f = quality_features_sql(text)
    len_ok = f"least(({f['n_tokens']})::DOUBLE / 20.0, 1.0)"
    stop_ok = f"least(({f['stopword_ratio']}) * 4, 1.0)"
    punct_pen = f"greatest(1.0 - ({f['punct_ratio']}) * 5, 0.0)"
    return f"round((({len_ok}) + ({stop_ok}) + ({punct_pen})) / 3, 6)"


def fingerprint(text: Column) -> Column:
    """Canonical content fingerprint: md5 of the case/punct-normalized text.

    (The rolling-hash winnowing variant is dedup.minhash_signature — this is
    the whole-document id used for exact near-canonical dedup.)
    """
    norm = F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " ")
    return F.substring(F.md5(F.trim(norm)), 1, 16)


def fingerprint_sql(text: str) -> str:
    return (f"substr(md5(trim(regexp_replace(lower({text}), '[^a-z0-9]+', ' ', 'g'))), 1, 16)")
