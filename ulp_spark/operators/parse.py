"""P1/P2/S2 — vectorized log-line parsing with format detection.

Reference: per-record Rust loops turning EVTX/MFT binaries into flat JSON
(``src/evtx.rs:46-68``, ``src/mft.rs:54-78``) behind per-file format
detection by magic bytes (``src/lib.rs:58-72``).  Here the unit is a line
(or any string payload column) and both steps are Column expressions:

* detection = first matching pattern in a fixed-order registry (``RLIKE``
  cascade — the analog of the magic-byte sniff);
* extraction = one ``regexp_replace`` + split per row (per-field
  ``regexp_extract`` only as a fallback), JVM-side and codegen'd.

Every stage is built as SQL text (patterns quoted by
:func:`ulp_spark.functions.sqltext.lit`) and selected with one
``selectExpr`` per stage: building the same cascades node by node with the
Column DSL took ~9k Py4J round trips per call, the driver's largest cost
in the route_fanout job, where the text form takes a few hundred.

Why not a pandas UDF: one compiled Java regex per (pattern, field) runs
inside whole-stage codegen with zero Python/Arrow transfer; profiling at
sf0.1 showed the built-in path beats an Arrow-batched ``re`` UDF for these
group counts.

No-match rows are NOT dropped: ``parser`` stays null and ``parse_error``
is set — the quarantine path (the reference panics on unknown formats,
``src/lib.rs:90``; we route to a quarantine sink instead, documented
deviation).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame

from ulp_spark.functions import sniff
from ulp_spark.functions.sqltext import ident, lit


@dataclass(frozen=True)
class LogPattern:
    """One parse rule: ``fields[i]`` binds to regex group ``i+1``."""

    name: str
    regex: str
    fields: tuple[str, ...]


# The fixture dialect (FIXTURES.md T2) — the stand-in for the reference's
# EVTX/MFT parser pair (kv_provider ≈ evtx, kv_plain ≈ mft: two formats,
# distinct field sets, same downstream DAG).
KV_PROVIDER = LogPattern(
    "kv_provider",
    r'^(\S+) (\S+) provider="([^"]*)" doc=(\S+) src=(\S*) n=([0-9]+)$',
    ("ts", "level", "provider", "doc", "src", "n"),
)
KV_PLAIN = LogPattern(
    "kv_plain",
    r"^(\S+) (\S+) doc=(\S+) src=(\S*) n=([0-9]+)$",
    ("ts", "level", "doc", "src", "n"),
)
DEFAULT_PATTERNS: tuple[LogPattern, ...] = (KV_PROVIDER, KV_PLAIN)


def all_fields(patterns: Sequence[LogPattern]) -> list[str]:
    seen: dict[str, None] = {}
    for p in patterns:
        for f in p.fields:
            seen.setdefault(f)
    return list(seen)


GROUP_SEP = "\x01"  # separator for the one-pass group extraction


def parse_lines(df: DataFrame) -> DataFrame:
    """Parse the ``line`` column with :data:`DEFAULT_PATTERNS` into typed
    fields + parser tag + error flag.

    Adds per field ``f``: the raw extracted text ``f`` and its sniffed
    map-type code ``f__t`` (see functions.sniff docstrings).  Missing field
    / no match -> NULL (never "").

    Group extraction runs ONE regex execution per row for the matching
    pattern — ``regexp_replace`` rewrites the line to its groups joined by
    ``GROUP_SEP`` (0x01), then a literal split + ``element_at`` per field.
    k fields cost one match + one split instead of k full matches.
    Guarded: ``\\S``-class and ``[^"]*`` groups CAN capture a literal
    0x01, which would shift the split — so each row checks
    ``size(split) == len(fields)`` and falls back to per-field
    ``regexp_extract`` on mismatch (CASE branches evaluate lazily, so
    clean rows — the overwhelming majority — still pay one match + one
    split; a poisoned row pays the k-match price but parses CORRECTLY
    instead of silently shifting every subsequent field).  Any 0x01
    inside a group always inflates the split count (k groups joined by
    k-1 separators yield exactly k parts only when no group contains the
    separator), so the guard cannot miss.  The DuckDB twin
    :func:`parse_sql` mirrors the per-field ``regexp_extract`` shape.
    """
    line, patterns = ident("line"), DEFAULT_PATTERNS
    parser = "CAST(NULL AS STRING)"
    for p in reversed(patterns):  # first match wins
        parser = (f"CASE WHEN {line} RLIKE {lit(p.regex)} THEN {lit(p.name)}"
                  f" ELSE {parser} END")

    # Staged selects (not a withColumn loop): each stage's expressions
    # reference the previous stage's *attributes*, keeping the plan linear
    # in fields instead of re-inlining the detection cascade per field.
    fields = all_fields(patterns)
    groups = {p.name: ident(f"__g_{p.name}") for p in patterns}
    is_p = {p.name: f"`parser` = {lit(p.name)}" for p in patterns}
    garr = []
    for p in patterns:
        repl = GROUP_SEP.join(f"${i + 1}" for i in range(len(p.fields)))
        garr.append(
            f"CASE WHEN {is_p[p.name]} THEN split(regexp_replace({line}, "
            f"{lit(p.regex)}, {lit(repl)}), {lit(GROUP_SEP)}) END"
            f" AS {groups[p.name]}")
    stage1 = df.selectExpr("*", f"{parser} AS `parser`").selectExpr(
        "*", *garr)
    value_cols = []
    for f in fields:
        value = "CAST(NULL AS STRING)"
        for p in reversed(patterns):
            if f in p.fields:
                idx = p.fields.index(f) + 1
                clean = f"size({groups[p.name]}) = {len(p.fields)}"
                value = (
                    f"CASE WHEN {is_p[p.name]} AND {clean}"
                    f" THEN element_at({groups[p.name]}, {idx})"
                    # group contained GROUP_SEP: slow-but-correct
                    f" WHEN {is_p[p.name]}"
                    f" THEN regexp_extract({line}, {lit(p.regex)}, {idx})"
                    f" ELSE {value} END"
                )
        value_cols.append(f"{value} AS {ident(f)}")
    stage2 = stage1.selectExpr(
        "*", "`parser` IS NULL AS parse_error", *value_cols
    ).drop(*[f"__g_{p.name}" for p in patterns])
    return stage2.selectExpr(
        "*", *[f"{sniff.sniff_code(ident(f))} AS {ident(f + '__t')}"
               for f in fields])


def parse_sql(line_expr: str) -> dict[str, str]:
    """DuckDB twins: SELECT-able SQL for parser tag and each field."""
    exprs: dict[str, str] = {}
    parser = "NULL"
    for p in reversed(DEFAULT_PATTERNS):
        parser = (f"CASE WHEN regexp_matches({line_expr}, '{p.regex}') "
                  f"THEN '{p.name}' ELSE {parser} END")
    exprs["parser"] = parser
    for f in all_fields(DEFAULT_PATTERNS):
        v = "NULL"
        for p in reversed(DEFAULT_PATTERNS):
            if f in p.fields:
                idx = p.fields.index(f) + 1
                v = (f"CASE WHEN ({parser}) = '{p.name}' THEN "
                     f"regexp_extract({line_expr}, '{p.regex}', {idx}) "
                     f"ELSE {v} END")
        exprs[f] = v
    return exprs
