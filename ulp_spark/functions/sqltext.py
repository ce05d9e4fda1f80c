"""Spark SQL text: the quoting rules every expression builder shares.

The builders in :mod:`ulp_spark.functions` and :mod:`ulp_spark.operators.parse`
take SQL-text operands and return SQL text, so nesting one builder in
another is string composition, and a caller pays ONE ``F.expr`` (a few
Py4J round trips) per output column.  Built node by node with the Column
DSL, the same expressions cost one round trip per node: ~16k calls to
plan the parse -> route -> cast job, which made it driver-bound.  An
operand must be atomic — an identifier, a literal, a function call or a
parenthesized expression — since builders splice it in unparenthesized.

String literals go through :func:`lit`, which reads the same under either
setting of ``spark.sql.parser.escapedStringLiterals``; the Column DSL never
depended on that conf, so the SQL text must not either.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# The backslash and the quote are the only characters the two literal
# parsers (escape-processing and raw) read differently.
_PARSER_SENSITIVE = re.compile(r"([\\'])")


def lit(s: str) -> str:
    """A SQL string literal for ``s``, conf-independent: backslashes and
    quotes go in as ``chr()`` pieces of a ``concat`` (foldable, so the
    optimizer turns it back into one literal and a regex still compiles
    once per task)."""
    pieces = [f"chr({ord(p)})" if _PARSER_SENSITIVE.fullmatch(p) else f"'{p}'"
              for p in _PARSER_SENSITIVE.split(s) if p]
    if len(pieces) == 1:
        return pieces[0]
    return f"concat({', '.join(pieces)})" if pieces else "''"


def ident(name: str) -> str:
    """A back-quoted column identifier."""
    return "`" + name.replace("`", "``") + "`"


def column(sql: str, name: str) -> Column:
    """The one ``F.expr`` of an output column, alias included."""
    return F.expr(f"{sql} AS {ident(name)}")
