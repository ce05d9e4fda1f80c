"""P8 — sink-name sanitization (reference ``src/elastic.rs:156-182``).

Order pinned from the reference: ASCII lowercase -> strip
``: " * + / \\ | ? # % > <`` -> spaces to ``_`` -> trim leading ``_``, then
leading ``.``, then leading ``-`` (three SEQUENTIAL trims, the Rust order:
``-_foo`` keeps ``_foo``, it does not strip the mixed run).  Lowercasing is
ASCII-only (``make_ascii_lowercase`` — non-ASCII bytes untouched), so
``É`` survives as-is rather than mapping to ``é``.  Pure SQL-text
expression (and a separate DuckDB twin), no UDF.
"""

from __future__ import annotations

from ulp_spark.functions.sqltext import lit

_BAD = r'[:"*+/\\|?#%><]'
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


def sanitize_sink_name(e: str) -> str:
    """SQL text sanitizing the string expression ``e`` into a sink name."""
    out = f"translate({e}, {lit(_UPPER)}, {lit(_LOWER)})"  # ASCII-only lowercase
    for pattern, repl in ((_BAD, ""), (" ", "_"), ("^_+", ""),
                          (r"^\.+", ""), ("^-+", "")):
        out = f"regexp_replace({out}, {lit(pattern)}, {lit(repl)})"
    return out


def sanitize_sink_name_sql(expr: str) -> str:
    """DuckDB twin of :func:`sanitize_sink_name`."""
    return (
        "regexp_replace(regexp_replace(regexp_replace("
        "replace(regexp_replace("
        f"translate({expr}, '{_UPPER}', '{_LOWER}'), "
        "':|\"|\\*|\\+|/|\\\\|\\||\\?|#|%|>|<', '', 'g'), ' ', '_'), "
        "'^_+', ''), '^\\.+', ''), '^-+', '')"
    )
