"""P3 — dotted-path field extraction.

Reference: ``get_value(&Value, "a.b.0.c")`` walks a JSON tree, numeric
segments indexing arrays (``src/type_map.rs:65-88``); a miss is None (which
route templates later render as "NONE").

:func:`json_path` compiles the dotted path to a JsonPath once on the
driver and evaluates it over a JSON *string* column with
``get_json_object`` (JVM).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_json_path(dotted: str) -> str:
    """``"a.b.0.c"`` -> ``"$.a.b[0].c"`` (compile once, driver-side — the
    analog of IndexPatternObject::from)."""
    parts = []
    for seg in dotted.split("."):
        if seg.isdigit():
            parts.append(f"[{int(seg)}]")
        else:
            parts.append("." + seg)
    return "$" + "".join(parts)


def json_path(col: Column, dotted: str) -> Column:
    """Extract a dotted path from a JSON string column (miss -> NULL)."""
    return F.get_json_object(col, to_json_path(dotted))


