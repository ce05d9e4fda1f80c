"""P4/P5 — route templates: compile once on the driver, evaluate as a single
``concat`` SQL expression per row.

Reference: ``IndexPatternObject::from(&str)`` splits ``"lit_{{path}}_lit"``
into (part, eval) pieces (``src/type_map.rs:14-35``);
``generate_index_pattern`` evaluates them per record (``src/type_map.rs:37-62``)
with these semantics, all replicated here:

* missing key            -> ``"NONE"``
* array value            -> ``"ARRAY"``
* object value           -> ``"OBJECT"``
* string value           -> itself
* non-string scalar (number/bool/null) -> appends **nothing** (the
  silent-empty quirk, ``src/type_map.rs:49-53`` — only ``as_str()`` is used)

In this engine a parsed record is a struct of extracted string fields plus
their sniffed type codes (the JSON-typed view: the reference's EVTX parser
emits typed JSON, so a field whose content sniffs numeric corresponds to a
JSON number there).  ``field_part`` therefore keys off the sniffed code.
"""

from __future__ import annotations

import re

from ulp_spark.functions import sniff
from ulp_spark.functions.sqltext import lit

_TOKEN = re.compile(r"\{\{(.+?)\}\}")


def split_template(template: str) -> list[tuple[str, bool]]:
    """``"a_{{x}}_b"`` -> ``[("a_", False), ("x", True), ("_b", False)]``."""
    parts: list[tuple[str, bool]] = []
    pos = 0
    for m in _TOKEN.finditer(template):
        if m.start() > pos:
            parts.append((template[pos:m.start()], False))
        parts.append((m.group(1), True))
        pos = m.end()
    if pos < len(template):
        parts.append((template[pos:], False))
    return parts


def field_part(value: str, type_code: str) -> str:
    """Route contribution of one extracted field (P5 semantics), as SQL
    text over the field's value and sniffed-code expressions.

    Evaluates on the MATERIALIZED JSON runtime type: IPv4/IPv6/Date-sniffed
    values are runtime strings (``as_str()`` succeeds in the reference), so
    they route as themselves; only true non-string scalars append nothing.
    Non-finite Float sniffs ("inf", "1e999") can never be JSON numbers —
    the reference holds ``Value::String("inf")``, ``as_str()`` succeeds,
    and the record routes as the text (the same materialized-runtime rule
    the cast stage already uses; plain runtime_code here silently-emptied
    them — wrong sink).
    """
    rcode = sniff.materialized_runtime_code(value, type_code)
    return (
        f"CASE WHEN {value} IS NULL THEN {lit('NONE')}"
        f" WHEN ({rcode}) = {sniff.STR} THEN {value}"
        f" ELSE {lit('')} END"  # numeric/bool/null scalars: silent empty
    )


def compile_template(template: str, fields: dict[str, tuple[str, str]]) -> str:
    """Compile a route template into one SQL-text expression.

    ``fields`` maps field name -> (value expression, sniffed type-code
    expression).  Unknown field names evaluate as missing (-> "NONE"),
    matching the reference's get_value miss (``src/type_map.rs:44-46``).
    """
    parts: list[str] = []
    for text, is_eval in split_template(template):
        if not is_eval:
            parts.append(lit(text))
        elif text in fields:
            parts.append(field_part(*fields[text]))
        else:
            parts.append(lit("NONE"))
    return f"concat({', '.join(parts)})" if parts else lit("")


def field_part_sql(value_expr: str, code_expr: str) -> str:
    """DuckDB twin of :func:`field_part` (incl. the non-finite-Float ->
    runtime-string rule)."""
    return f"""
    CASE
      WHEN {value_expr} IS NULL THEN 'NONE'
      WHEN ({code_expr}) IN ({sniff.STR}, {sniff.IPV4}, {sniff.IPV6}, {sniff.DATE})
        THEN {value_expr}
      WHEN ({code_expr}) = {sniff.FLOAT}
           AND NOT (regexp_matches({value_expr}, '{sniff.RE_FLOAT}')
                    AND isfinite(try_cast({value_expr} AS DOUBLE)))
        THEN {value_expr}
      ELSE ''
    END
    """
