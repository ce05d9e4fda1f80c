"""P6 — the string type-sniff battery, vectorized.

Reference semantics (``type_casting/src/types.rs:150-221``): a JSON string's
type is inferred from its content, tested in fixed order
null -> bool -> int -> float -> ipv4 -> ipv6 -> date -> str.  The battery is
*nested*: ``str_bool`` falls back to ``str_int(s) ∈ {0,1}`` and ``str_int``
accepts decimal i64, ``0x…`` hex, and the words true/false
(``types.rs:159-181``).  Quirks kept bit-for-bit:

* ``"null"`` (trimmed, case-insensitive) OR exactly ``"0"`` (untrimmed!)
  sniff Null (``types.rs:150-156``);
* ``"1"``, ``"+1"``, ``"00"``, ``"0x0"``, ``"0x1"`` sniff **Bool** (the
  str_bool -> str_int fallback, ``types.rs:159-167``);
* decimal ints are range-checked (i64 overflow falls through to Float);
  hex is range-checked (overflow falls through to Str);
* Rust's int/float parsers do NOT trim — `` 42 `` is Str;
* float accepts ``inf``/``NaN`` (``f64::from_str``);
* date is RFC3339 only (``types.rs:197-202``).

Implementation: one SQL-text ``CASE`` cascade of regex/try_cast checks
(:func:`sniff_code`) — pure Catalyst expressions, no Python in the hot
path.  Every Spark-side builder here takes SQL-text operands and returns
SQL text (see :mod:`ulp_spark.functions.sqltext`), so the cascade nests
inside the parse, route and cast builders by string composition and its
caller pays one ``F.expr``, not one Py4J round trip per node.  The same
regex constants are emitted into the separate DuckDB oracle SQL (the
``*_sql`` twins below) so both engines classify identically (patterns use
only the Java-regex ∩ RE2 subset).

Documented deviations (pinned in tests/test_sniff.py):
* decimal-int parse uses ``try_cast(bigint)`` guarded by an untrimmed regex —
  Rust rejects inputs with internal '+' placement differences we accept none;
* IPv6 regex covers every text form ``Ipv6Addr::from_str`` accepts (full,
  ``::`` compression at any position, compressed AND uncompressed
  IPv4-embedded tails); scoped addresses (``fe80::1%eth0``) are Str here,
  Str in Rust too (std rejects scope ids), so no drift;
* RFC3339 dates are CALENDAR-exact (month lengths, leap years incl. the
  400-century rule, field ranges, case-insensitive T/Z) — the one pinned
  gap vs chrono is the leap second :60, rejected here (see RE_DATE).
"""

from __future__ import annotations

from ulp_spark.functions.sqltext import lit

# Lattice codes: stable ints used everywhere (engine, oracle SQL, manifest).
NULL, BOOL, INT, FLOAT, IPV4, IPV6, DATE, STR = range(8)
# Container codes (type maps only — JSON runtime containers):
LIST, OBJECT = 8, 9
TYPE_NAMES = ["null", "bool", "int", "float", "ipv4", "ipv6", "date", "str",
              "list", "object"]
# Bit per type: schema merge = bit_or of masks (associative + commutative,
# unlike the reference's order-asymmetric merge — see resolve_mask).
BIT = [1 << c for c in range(10)]

RE_INT = r"^[+-]?[0-9]+$"                      # applied UNtrimmed (Rust i64::from_str)
RE_HEX = r"^0x(0*[0-9a-fA-F]{1,15}|0*[0-7][0-9a-fA-F]{15})$"  # fits in i64; applied to lower(trim())
RE_FLOAT = r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$"
RE_FLOAT_SPECIAL = r"^[+-]?((?i)inf|infinity|nan)$"  # f64::from_str extras
RE_IPV4 = (
    r"^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
    r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$"
)
# Complete IPv6 coverage (everything Rust ``Ipv6Addr::from_str`` accepts):
# for each count g of leading uncompressed groups, the tail is either
# 1..(7-g) compressed groups, a (possibly compressed) IPv4-embedded tail
# (incl. the UNcompressed six-group form ``0:0:0:0:0:ffff:1.2.3.4``), or a
# bare ``::``.  Scoped addresses (``fe80::1%eth0``) are rejected by Rust std
# too, so no drift.
_H = "[0-9a-fA-F]{1,4}"
_V4TAIL = RE_IPV4[1:-1]


def _ipv6_alts() -> list[str]:
    alts = [f"({_H}:){{7}}({_H}|:)",                       # full / 7 groups + ::
            f"({_H}:){{6}}(:{_H}|{_V4TAIL}|:)"]            # incl. uncompressed v4
    for g in range(5, 0, -1):
        v4 = f"(:{_H}){{0,{5 - g}}}:{_V4TAIL}" if g < 5 else f":{_V4TAIL}"
        alts.append(f"({_H}:){{{g}}}((:{_H}){{1,{7 - g}}}|{v4}|:)")
    alts.append(f":((:{_H}){{1,7}}|(:{_H}){{0,5}}:{_V4TAIL}|:)")
    return alts


RE_IPV6 = "^(" + "|".join(_ipv6_alts()) + ")$"
# RFC3339, CALENDAR-EXACT: month lengths per month, Feb 29 only in leap
# years (divisible by 4; century years only when divisible by 400 — the
# year alternation encodes both rules), clock fields range-checked,
# case-insensitive T/Z (RFC3339 is; chrono accepts 't'/'z').  This matches
# chrono::parse_from_rfc3339's accept set exactly on the date part —
# '2024-02-31' and '2023-02-29' sniff Str, '2024-02-29' and '2000-02-29'
# sniff Date (golden cases).  Sole remaining pinned deviation: the leap
# second :60 (chrono folds it into 59.999...; both our sniff and the cast
# reject it — 22 leap seconds have ever existed, none since 2016).
_LEAP_YEAR = (
    "([0-9]{2}(0[48]|[2468][048]|[13579][26])"   # any century, year%4==0 (not 00)
    "|(0[48]|[2468][048]|[13579][26])00"         # century years %400==0
    "|0000)"                                     # proleptic year 0 (0%400==0)
)
_CAL_DATE = (
    "("
    "[0-9]{4}-(0[13578]|1[02])-(0[1-9]|[12][0-9]|3[01])"   # 31-day months
    "|[0-9]{4}-(0[469]|11)-(0[1-9]|[12][0-9]|30)"          # 30-day months
    "|[0-9]{4}-02-(0[1-9]|1[0-9]|2[0-8])"                  # Feb 1-28
    f"|{_LEAP_YEAR}-02-29"                                 # leap Feb 29
    ")"
)
RE_DATE = (
    f"^{_CAL_DATE}"
    r"[Tt]([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9]"
    r"(\.[0-9]+)?([Zz]|[+-]([01][0-9]|2[0-3]):[0-5][0-9])$"
)


def _is_dec_int(e: str) -> str:
    """Rust ``i64::from_str`` success (untrimmed, range-checked)."""
    return f"({e} RLIKE {lit(RE_INT)} AND try_cast({e} AS BIGINT) IS NOT NULL)"


def _is_hex_int(e: str) -> str:
    """Rust hex fallback: lowercase-trimmed ``0x…`` within i64 range."""
    return f"(lower(trim({e})) RLIKE {lit(RE_HEX)})"


def int_value(e: str) -> str:
    """The i64 ``str_int`` would return (null when it errors).

    Order per ``types.rs:168-181``: decimal, then hex, then true/false words.
    """
    low = f"lower(trim({e}))"
    return (
        f"CASE WHEN {_is_dec_int(e)} THEN try_cast({e} AS BIGINT)"
        f" WHEN {_is_hex_int(e)}"
        f" THEN CAST(conv(regexp_replace({low}, {lit('^0x')}, {lit('')}),"
        f" 16, 10) AS BIGINT)"
        f" WHEN {low} = {lit('true')} THEN CAST(1 AS BIGINT)"
        f" WHEN {low} = {lit('false')} THEN CAST(0 AS BIGINT)"
        f" ELSE CAST(NULL AS BIGINT) END"
    )


def sniff_code(e: str) -> str:
    """Type code (0-7) of a string SQL expression — the fixed-order nested
    battery.

    Perf: cheap first-char / contains gates in front of each regex family.
    Every gate is a strict superset of its family's language (any i64/f64
    literal starts with [0-9+-.], ``inf/nan`` with i/n, every IPv6 text form
    contains ':', every IPv4/RFC3339 form starts with a digit), so the gates
    never change the classification — they just let the ~80%% of real log
    values that are plain words skip the whole numeric battery (measured
    ~2.5x on the parse stage at 1M rows).
    """
    low = f"lower(trim({e}))"
    iv = int_value(e)
    # int/float/bool-word parsers reach through trim (hex + word paths), so
    # their gate looks at the TRIMMED first char; IPv4/IPv6/Date parse the
    # raw string, so their gates look at the raw text.
    first_t = f"substring(trim({e}), 1, 1)"
    numericish = f"(instr({lit('0123456789+-.')}, {first_t}) > 0)"
    floatish = f"({numericish} OR lower({first_t}) IN ({lit('i')}, {lit('n')}))"
    digit_start = f"(instr({lit('0123456789')}, substring({e}, 1, 1)) > 0)"
    # every dotted-quad contains '.', so digit-start non-dotted values
    # (timestamps, plain ints) skip the IPv4 regex — same superset-gate
    # rule as the other gates, classification unchanged
    has_dot = f"(instr({e}, {lit('.')}) > 0)"
    # '-' is not in the IPv6 alphabet, so RFC3339 timestamps (very common in
    # log fields, always colon-bearing) must not reach the 11-alternation
    # IPv6 regex — without this gate it ran on every timestamp row and
    # dominated the whole sniff battery.
    has_colon = f"(instr({e}, {lit(':')}) > 0 AND instr({e}, {lit('-')}) = 0)"
    return (
        f"CASE WHEN {e} IS NULL THEN {NULL}"
        f" WHEN ({low} = {lit('null')} OR {e} = {lit('0')}) THEN {NULL}"
        f" WHEN ({low} = {lit('true')} OR {low} = {lit('false')}"
        f" OR ({numericish} AND ({iv}) IN (0, 1))) THEN {BOOL}"
        f" WHEN ({numericish} AND ({iv}) IS NOT NULL) THEN {INT}"
        f" WHEN ({floatish} AND ({e} RLIKE {lit(RE_FLOAT)}"
        f" OR {e} RLIKE {lit(RE_FLOAT_SPECIAL)})) THEN {FLOAT}"
        f" WHEN ({digit_start} AND {has_dot} AND {e} RLIKE {lit(RE_IPV4)})"
        f" THEN {IPV4}"
        f" WHEN ({has_colon} AND {e} RLIKE {lit(RE_IPV6)}) THEN {IPV6}"
        f" WHEN ({digit_start} AND {e} RLIKE {lit(RE_DATE)}) THEN {DATE}"
        f" ELSE {STR} END"
    )


def runtime_code(code: str) -> str:
    """Collapse a sniffed code to its JSON *runtime* type.

    Sniffing types the map, not the value (``Types::get_type`` on
    ``Value::String`` content, ``types.rs:29-57``): an IPv4/IPv6/Date string
    stays a JSON string at runtime, so casts dispatch through
    ``cast_str_with_type``.  Numeric/bool/null sniffs correspond to typed
    JSON emitted by the parser (EVTX emits real numbers), which our parse
    stage mirrors by materializing sniffed scalars.
    """
    return (f"CASE WHEN ({code}) IN ({IPV4}, {IPV6}, {DATE}) THEN {STR}"
            f" ELSE ({code}) END")


def materialized_runtime_code(value: str, code: str) -> str:
    """Runtime type a parser would give this raw text when materializing
    typed JSON: like :func:`runtime_code`, but a Float sniff only becomes a
    runtime number when the text is a finite JSON-representable number —
    ``inf``/``NaN``/overflowing exponents can never appear as JSON numbers,
    so they stay runtime strings (and still type the map as Float, exactly
    like ``Value::String("inf")`` in the reference)."""
    dbl = f"try_cast({value} AS DOUBLE)"
    finite = (f"({value} RLIKE {lit(RE_FLOAT)} AND NOT isnan({dbl})"
              f" AND abs({dbl}) != CAST({lit('Infinity')} AS DOUBLE))")
    # nested CASE: the finite check (regex + casts) only evaluates on the
    # small Float-sniffed subset, not on every row
    return (f"CASE WHEN ({code}) = {FLOAT}"
            f" THEN CASE WHEN {finite} THEN {FLOAT} ELSE {STR} END"
            f" ELSE {runtime_code(code)} END")


def code_mask(code: str) -> str:
    """Bitmask (1 << code) of a type code — feed straight into ``bit_or``."""
    bits = ", ".join(str(b) for b in BIT)
    return f"element_at(array({bits}), ({code}) + 1)"


# --------------------------------------------------------------------------
# Mask resolution — the canonical (commutative) merge lattice
# --------------------------------------------------------------------------
# Reference lattice (type_casting/src/lib.rs:14-166): Null identity;
# Bool<Int<Float; X⊔Str→Str; IPv4⊔IPv6→Str; Date/IP vs numeric→Str.  The
# reference is order-asymmetric for (Float,IPv6) and (Float,Date)
# (lib.rs:124-125 vs :138,:145) — a parallel fold cannot reproduce an
# order-dependent merge, so we pin the canonical commutative choice Str
# (FIXTURES.md T6; deviation documented in SURVEY §4.3).

_NUMERIC_MASK = BIT[BOOL] | BIT[INT] | BIT[FLOAT]


def resolve_mask_py(mask: int) -> int:
    """Python-side resolution (used by the oracle + driver-side schema)."""
    m = mask & ~BIT[NULL]
    if m == 0:
        return NULL
    if m & (m - 1) == 0:  # single bit
        return m.bit_length() - 1
    if m & ~_NUMERIC_MASK == 0:  # subset of {bool,int,float}
        return FLOAT if m & BIT[FLOAT] else INT
    return STR


def merge_codes_py(a: int, b: int) -> int:
    """Pairwise canonical lattice merge (oracle-side convenience)."""
    return resolve_mask_py(BIT[a] | BIT[b])


def resolve_mask(mask: str) -> str:
    """SQL-text resolution of a bit_or-merged mask to a type code."""
    m = f"(({mask}) & {~BIT[NULL]})"
    single = f"(({m} & ({m} - 1)) = 0)"
    branches = "".join(f" WHEN ({single} AND {m} = {BIT[code]}) THEN {code}"
                       for code in (BOOL, INT, FLOAT, IPV4, IPV6, DATE, STR,
                                    LIST, OBJECT))
    return (
        f"CASE WHEN {m} = 0 THEN {NULL}{branches}"
        f" WHEN ({m} & {~_NUMERIC_MASK}) = 0"
        f" THEN CASE WHEN ({m} & {BIT[FLOAT]}) != 0 THEN {FLOAT} ELSE {INT} END"
        f" ELSE {STR} END"
    )


# --------------------------------------------------------------------------
# DuckDB oracle twins
# --------------------------------------------------------------------------

def int_value_sql(e: str) -> str:
    """DuckDB twin of :func:`int_value` (str_int semantics)."""
    return f"""
    CASE
      WHEN regexp_matches({e}, '{RE_INT}')
           AND try_cast({e} AS BIGINT) IS NOT NULL THEN try_cast({e} AS BIGINT)
      WHEN regexp_matches(lower(trim({e})), '{RE_HEX}')
        THEN try_cast(lower(trim({e})) AS BIGINT)
      WHEN lower(trim({e})) = 'true' THEN 1
      WHEN lower(trim({e})) = 'false' THEN 0
      ELSE NULL
    END
    """


def sniff_code_sql(e: str) -> str:
    """DuckDB SQL computing the same type code for a VARCHAR expression."""
    iv = int_value_sql(e)
    return f"""
    CASE
      WHEN {e} IS NULL THEN {NULL}
      WHEN lower(trim({e})) = 'null' OR {e} = '0' THEN {NULL}
      WHEN lower(trim({e})) IN ('true','false') OR ({iv}) IN (0, 1) THEN {BOOL}
      WHEN ({iv}) IS NOT NULL THEN {INT}
      WHEN regexp_matches({e}, '{RE_FLOAT}')
           OR regexp_matches({e}, '{RE_FLOAT_SPECIAL}') THEN {FLOAT}
      WHEN regexp_matches({e}, '{RE_IPV4}') THEN {IPV4}
      WHEN regexp_matches({e}, '{RE_IPV6}') THEN {IPV6}
      WHEN regexp_matches({e}, '{RE_DATE}') THEN {DATE}
      ELSE {STR}
    END
    """


def materialized_runtime_code_sql(value: str, code: str) -> str:
    """DuckDB twin of :func:`materialized_runtime_code`: a Float sniff is
    a runtime number only when the text is a finite float literal."""
    return f"""
    CASE
      WHEN ({code}) = {FLOAT} THEN
        CASE WHEN regexp_matches({value}, '{RE_FLOAT}')
                  AND isfinite(try_cast({value} AS DOUBLE))
             THEN {FLOAT} ELSE {STR} END
      WHEN ({code}) IN ({IPV4}, {IPV6}, {DATE}) THEN {STR}
      ELSE ({code})
    END
    """


def json_runtime_code_sql(jtype: str, jval: str) -> str:
    """DuckDB twin of the JSON *runtime* typing (``Types::get_type``,
    ``type_casting/src/types.rs:29-57``): ``jtype`` is a ``json_type()``/
    ``json_each.type`` value, ``jval`` the JSON value.  Numbers/bools/null
    map DIRECTLY to their codes (never sniffed); only actual JSON strings go
    through the content battery."""
    content = f"json_extract_string({jval}, '$')"
    return f"""
    CASE {jtype}
      WHEN 'NULL' THEN {NULL}
      WHEN 'BOOLEAN' THEN {BOOL}
      WHEN 'BIGINT' THEN {INT}
      WHEN 'UBIGINT' THEN {INT}
      WHEN 'DOUBLE' THEN {FLOAT}
      WHEN 'ARRAY' THEN {LIST}
      WHEN 'OBJECT' THEN {OBJECT}
      ELSE ({sniff_code_sql(content)})
    END
    """


def resolve_mask_sql(expr: str) -> str:
    """DuckDB SQL resolving a bit_or-merged mask to a type code."""
    nm = _NUMERIC_MASK
    return f"""
    CASE
      WHEN ({expr} & ~1) = 0 THEN {NULL}
      WHEN (({expr} & ~1) & (({expr} & ~1) - 1)) = 0
        THEN CAST(round(log2({expr} & ~1)) AS INTEGER)
      WHEN (({expr} & ~1) & ~{nm}) = 0
        THEN CASE WHEN (({expr} & ~1) & {BIT[FLOAT]}) != 0
                  THEN {FLOAT} ELSE {INT} END
      ELSE {STR}
    END
    """
