"""M0 — pure-Python row-at-a-time oracle for the ulp type semantics.

The stand-in for the Rust reference in tests that the DuckDB twins can't
express (recursive type trees).  Implements, record-at-a-time, exactly the
semantics of SURVEY §1.2 with the pinned canonical lattice:

* ``sniff_py``    — the nested string battery (types.rs:150-221)
* ``get_type``    — JSON value -> type tree (types.rs:29-57): scalars to
  codes, dicts to {key: tree}, lists to positional {index: tree}
* ``merge_tree``  — recursive lattice merge (type_casting/src/lib.rs:14-166)
  with Object⊔List index-stringification (lib.rs:69-86) and List⊔scalar
  index-0 fold (lib.rs:88-97); scalar pairs via the canonical bitmask
  lattice (functions.sniff.resolve_mask_py)

Container codes: LIST=8, OBJECT=9 (functions.sniff.TYPE_NAMES).
"""

from __future__ import annotations

import re
from typing import Any

from ulp_spark.functions import sniff

Tree = int | dict  # scalar code, or {"kind": LIST/OBJECT, "children": {...}}

_RE_INT = re.compile(sniff.RE_INT)
_RE_HEX = re.compile(sniff.RE_HEX)
_RE_FLOAT = re.compile(sniff.RE_FLOAT)
_RE_FLOAT_SPECIAL = re.compile(sniff.RE_FLOAT_SPECIAL.replace("(?i)", ""), re.I)
_RE_IPV4 = re.compile(sniff.RE_IPV4)
_RE_IPV6 = re.compile(sniff.RE_IPV6)
_RE_DATE = re.compile(sniff.RE_DATE)

I64_MIN, I64_MAX = -(1 << 63), (1 << 63) - 1


def str_int_py(s: str) -> int | None:
    """types.rs:168-181 — decimal, then trimmed-lower hex, then bool words."""
    if _RE_INT.match(s):
        v = int(s)
        if I64_MIN <= v <= I64_MAX:
            return v
    low = s.strip().lower()
    if _RE_HEX.match(low):
        return int(low, 16)
    if low == "true":
        return 1
    if low == "false":
        return 0
    return None


def sniff_py(s: str | None) -> int:
    if s is None:
        return sniff.NULL
    low = s.strip().lower()
    if low == "null" or s == "0":
        return sniff.NULL
    iv = str_int_py(s)
    if low in ("true", "false") or iv in (0, 1):
        return sniff.BOOL
    if iv is not None:
        return sniff.INT
    if _RE_FLOAT.match(s) or _RE_FLOAT_SPECIAL.match(s):
        return sniff.FLOAT
    if _RE_IPV4.match(s):
        return sniff.IPV4
    if _RE_IPV6.match(s):
        return sniff.IPV6
    if _RE_DATE.match(s):
        return sniff.DATE
    return sniff.STR


def get_type(v: Any) -> Tree:
    """JSON value -> type tree (Types::get_type)."""
    if v is None:
        return sniff.NULL
    if isinstance(v, bool):
        return sniff.BOOL
    if isinstance(v, int):
        return sniff.INT
    if isinstance(v, float):
        return sniff.FLOAT
    if isinstance(v, str):
        return sniff_py(v)
    if isinstance(v, list):
        return {"kind": sniff.LIST,
                "children": {i: get_type(x) for i, x in enumerate(v)}}
    if isinstance(v, dict):
        return {"kind": sniff.OBJECT,
                "children": {k: get_type(x) for k, x in v.items()}}
    raise TypeError(type(v))


def merge_tree(a: Tree, b: Tree) -> Tree:
    """Recursive canonical lattice merge (commutative by construction)."""
    a_scalar, b_scalar = isinstance(a, int), isinstance(b, int)
    if a_scalar and b_scalar:
        return sniff.merge_codes_py(a, b)
    if a_scalar or b_scalar:
        scalar, tree = (a, b) if a_scalar else (b, a)
        if scalar == sniff.NULL:  # Null is the identity (lib.rs:99)
            return tree
        if tree["kind"] == sniff.LIST:
            # List ⊔ scalar folds into index 0 (lib.rs:88-97)
            ch = dict(tree["children"])
            ch[0] = merge_tree(ch.get(0, sniff.NULL), scalar)
            return {"kind": sniff.LIST, "children": ch}
        # Object ⊔ non-Null scalar is unimplemented!() in the reference
        # (lib.rs:159-163); canonicalized here to Str-typed conflict marker.
        return sniff.STR
    if a["kind"] == b["kind"]:
        keys = set(a["children"]) | set(b["children"])
        return {"kind": a["kind"], "children": {
            k: merge_tree(a["children"].get(k, sniff.NULL),
                          b["children"].get(k, sniff.NULL))
            for k in keys
        }}
    # Object ⊔ List: list indices become stringified object keys
    # (lib.rs:69-86)
    obj, lst = (a, b) if a["kind"] == sniff.OBJECT else (b, a)
    ch = dict(obj["children"])
    for i, t in lst["children"].items():
        k = str(i)
        ch[k] = merge_tree(ch.get(k, sniff.NULL), t)
    return {"kind": sniff.OBJECT, "children": ch}


def encode_tree(t: Tree) -> Any:
    """JSON-safe encoding (LIST children keys stringified)."""
    if isinstance(t, int):
        return t
    return {"kind": t["kind"],
            "children": {str(k): encode_tree(v) for k, v in t["children"].items()}}


def decode_tree(e: Any) -> Tree:
    if isinstance(e, int):
        return e
    kind = e["kind"]
    conv = (lambda k: int(k)) if kind == sniff.LIST else (lambda k: k)
    return {"kind": kind,
            "children": {conv(k): decode_tree(v) for k, v in e["children"].items()}}


def tree_to_paths(t: Tree) -> dict[str, int]:
    """Flatten a tree to {dotted path: scalar code} (leaves only)."""
    return _paths(t, "")


def _paths(t: Tree, prefix: str) -> dict[str, int]:
    if isinstance(t, int):
        return {prefix or "$": t}
    out: dict[str, int] = {}
    for k, child in t["children"].items():
        p = f"{prefix}.{k}" if prefix else str(k)
        out.update(_paths(child, p))
    return out
