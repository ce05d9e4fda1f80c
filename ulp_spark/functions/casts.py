"""P7 — the cast matrix, vectorized.

Reference: ``cast_value`` dispatches on the JSON *runtime* type of the value
and the target ``Types`` from the merged route map
(``type_casting/src/lib.rs:318-437``); scalar rules live in
``type_casting/src/types.rs:61-202``.  Full semantics kept:

* null -> bool ``false`` / int ``0`` / float ``0.0`` / str ``"null"``;
  null -> ipv4/ipv6/date is an ERROR (``lib.rs:318-329``)
* bool -> int 0/1, float 0.0/1.0, str "false"/"true"; -> null always ok
* int  -> bool only for 0/1 else error (``types.rs:102-108``);
  -> float **clamped to i32 bounds** (``types.rs:109-121``); -> str decimal
* float-> bool only for exactly 0.0/1.0; -> int ``round()`` (half away from
  zero); -> float identity
* str  -> null only for "null"/"0" else error; -> bool/int via the nested
  str_bool/str_int (hex + true/false accepted); -> float f64 parse (inf/NaN
  parse but ``Number::from_f64`` rejects them -> error, ``lib.rs:373``);
  -> ipv4/ipv6 parsed and **re-emitted normalized** ("0:0:0:0:0:0:0:1" ->
  "::1", ``lib.rs:375-376``); -> date RFC3339 re-emitted as UTC "+00:00"
  (``lib.rs:377``)

Every rule is Spark SQL text (see :mod:`ulp_spark.functions.sqltext`)
except IPv6 canonicalization, which is an Arrow-batched pandas UDF over
Python ``ipaddress`` (no JVM-side equivalent): the caller composes
:func:`ipv6_canonical` around the IPv6 branch as a Column.  :data:`NATIVE`
is the one table of each target's native Spark type.

Outputs are (value, error) pairs: the reference fails the whole record on
the first cast error (``lib.rs:389-397``); the pipeline turns the per-field
error flags into a quarantine column instead of dying (documented deviation:
error *handling* differs, error *detection* matches).

Documented deviations (pinned in tests/test_casts.py):
* float -> str uses Spark's double rendering ("3.0"), Rust prints "3";
  parity fixtures avoid whole-valued floats.
* str -> date keeps second precision plus any explicit fractional digits
  verbatim; chrono re-renders fractions (trailing-zero handling may differ).
* float -> int: a rounded value outside i64 is NULL with the cast error
  set, like every other out-of-domain cast (Spark's ANSI cast would abort
  the job instead).  The reference rounds (``types.rs:141-143``); if it
  converts with Rust's ``as i64``, which saturates, it yields i64::MIN/MAX
  there instead.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ulp_spark.functions import sniff
from ulp_spark.functions.sniff import (
    BOOL, DATE, FLOAT, INT, IPV4, IPV6, NULL, STR,
    RE_FLOAT, RE_IPV4, RE_IPV6,
)
from ulp_spark.functions.sqltext import ident, lit

I32_MAX, I32_MIN = 2147483647, -2147483648
I64_LIMIT = 2 ** 63  # i64 holds exactly the doubles in [-2^63, 2^63)

# Target type code -> native Spark type of the cast value (IP and date
# values stay strings: the reference emits them normalized; null casts to
# a null string).
NATIVE = {
    NULL: T.StringType(), BOOL: T.BooleanType(), INT: T.LongType(),
    FLOAT: T.DoubleType(), IPV4: T.StringType(), IPV6: T.StringType(),
    DATE: T.StringType(), STR: T.StringType(),
}


def _bool_value(e: str) -> str:
    """str_bool (``types.rs:159-167``): true/false words, else str_int ∈ {0,1}."""
    low = f"lower(trim({e}))"
    iv = sniff.int_value(e)
    return (
        f"CASE WHEN {low} = {lit('true')} THEN true"
        f" WHEN {low} = {lit('false')} THEN false"
        f" WHEN ({iv}) = 1 THEN true WHEN ({iv}) = 0 THEN false"
        f" ELSE CAST(NULL AS BOOLEAN) END"
    )


def _float_value(e: str) -> str:
    """f64::from_str success as double, finite only: ``Number::from_f64``
    rejects inf/NaN (``lib.rs:371-373``), and an overflowing literal like
    "1e999" parses to +inf — it must null out (-> cast error), not pass."""
    raw = f"CASE WHEN {e} RLIKE {lit(RE_FLOAT)} THEN try_cast({e} AS DOUBLE) END"
    return (f"CASE WHEN (NOT isnan({raw})"
            f" AND abs({raw}) != CAST({lit('Infinity')} AS DOUBLE)) THEN {raw} END")


_ipv6_udf_cache: tuple = (None, None)  # (session, udf)


def ipv6_canonical(col: Column) -> Column:
    """IPv6 canonical form (matches Rust std Display, RFC5952: longest
    zero-run compressed, lowercase, and — like Rust — IPv4-MAPPED addresses
    render in mixed notation ``::ffff:a.b.c.d``, where Python's
    ``ipaddress`` would print hex groups ``::ffff:102:304``).  Arrow-batched
    pandas UDF — the one cast rule with no JVM-side equivalent.

    Cached PER SESSION: pandas_udf memoizes a JVM handle bound to the
    active SparkContext, so a module-global cache broke after a session
    stop/restart in one Python process."""
    global _ipv6_udf_cache
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if _ipv6_udf_cache[0] is not session or _ipv6_udf_cache[1] is None:
        def _norm_series(s: pd.Series) -> pd.Series:
            import ipaddress

            def norm(x):
                if x is None:
                    return None
                try:
                    a = ipaddress.IPv6Address(x)
                except ValueError:
                    return None
                m = a.ipv4_mapped
                return f"::ffff:{m}" if m is not None else str(a)

            return s.map(norm)

        _ipv6_udf_cache = (session, pandas_udf(_norm_series, "string"))
    return _ipv6_udf_cache[1](col)


_RE_FRAC = r"\.[0-9]+"
_RE_OFFSET = r"([+-][0-9]{2}:[0-9]{2})$"
_RE_ZONE = r"(Z|[+-][0-9]{2}:[0-9]{2})$"
_UTC_FORMAT = "yyyy-MM-dd'T'HH:mm:ss"


def _date_canonical(e: str, is_date: str) -> str:
    """RFC3339 -> UTC RFC3339 with '+00:00' (chrono to_rfc3339, lib.rs:377),
    for values where the SQL predicate ``is_date`` holds.

    Implemented entirely on TIMESTAMP_NTZ + explicit offset arithmetic so
    the result is independent of ``spark.sql.session.timeZone`` (a
    date_format over an instant renders in session TZ — that was a latent
    wrong-answer under non-UTC driver sessions).

    Lowercase 't'/'z' separators (RFC3339-legal, chrono-accepted, matched
    by RE_DATE) are normalized first: in a RE_DATE-shaped string those
    letters can only be the separators, so translate() is safe."""
    e = f"translate({e}, {lit('tz')}, {lit('TZ')})"
    stripped = f"regexp_replace({e}, {lit(_RE_FRAC)}, {lit('')})"
    core = f"regexp_replace({stripped}, {lit(_RE_ZONE)}, {lit('')})"
    base = f"try_cast({core} AS TIMESTAMP_NTZ)"
    off = f"regexp_extract({stripped}, {lit(_RE_OFFSET)}, 1)"
    sign = f"CASE WHEN startswith({off}, {lit('-')}) THEN -1 ELSE 1 END"
    off_min = (f"CASE WHEN {off} = {lit('')} THEN 0"
               f" ELSE ({sign}) * (CAST(substring({off}, 2, 2) AS INT) * 60"
               f" + CAST(substring({off}, 5, 2) AS INT)) END")
    utc = f"({base} - make_interval(0, 0, 0, 0, 0, {off_min}, 0))"
    frac = f"regexp_extract({e}, {lit('(' + _RE_FRAC + ')')}, 1)"
    return (
        f"CASE WHEN ({is_date}) AND {base} IS NOT NULL"
        f" THEN concat(date_format({utc}, {lit(_UTC_FORMAT)}),"
        f" {frac}, {lit('+00:00')}) END"
    )


def helper_columns(field: str) -> list[str]:
    """Shared parse helpers for one field, as ``selectExpr`` items to be
    SELECTed once per frame: ``<f>__iv`` (str_int view), ``<f>__bv``
    (str_bool), ``<f>__fv`` (f64).

    These sub-expressions are big (regex + conv cascades); computing them as
    real columns keeps downstream cast cascades O(routes) instead of
    O(routes x |subexpr|) — without this the multi-route cast plan blows the
    Catalyst tree (observed: JVM heap OOM at 6 fields x 6 routes).  The
    casts then read them through ``cast_field``'s ``iv``/``bv``/``fv``
    column references.
    """
    c = ident(field)
    return [
        f"{sniff.int_value(c)} AS {ident(field + '__iv')}",
        f"{_bool_value(c)} AS {ident(field + '__bv')}",
        f"{_float_value(c)} AS {ident(field + '__fv')}",
    ]


def cast_field(
    value: str,
    rcode: str,
    target: int,
    sniff_code: str,
    iv: str | None = None,
    bv: str | None = None,
    fv: str | None = None,
) -> tuple[str, str]:
    """Cast one field to a target type code, as SQL text.

    ``value`` is the field's raw string form; ``sniff_code`` its sniffed
    type code (:func:`ulp_spark.functions.sniff.sniff_code`, or the parse
    stage's staged ``<f>__t``); ``rcode`` its JSON runtime type
    (sniff.runtime_code of the sniffed code: NULL/BOOL/INT/FLOAT/STR).
    Returns (casted value of the target's :data:`NATIVE` Spark type, error
    flag), both SQL text.

    IPV6 is the one target whose value text is not final: it is the
    VALIDATED address, and the caller composes :func:`ipv6_canonical` — a
    pandas UDF, which has no SQL-text form short of a session temp function
    — around that one branch as a Column.

    ``iv``/``bv``/``fv`` accept references to pre-computed
    :func:`helper_columns` to avoid re-inlining the heavy sub-expressions
    in multi-route cascades.

    The DATE branch tests ``sniff_code == DATE`` instead of re-running the
    calendar regex — provably the same predicate: the sniff cascade
    classifies a string as DATE iff it matches RE_DATE (every earlier
    branch fails on any RE_DATE-shaped value: int/float/hex literals
    cannot contain the mandatory '-', the IPv4 quad has no '-', the IPv6
    branch is gated on "contains ':' and no '-'", and the NULL/BOOL word
    forms are length-incompatible), and the DATE branch itself is that
    rlike.
    """
    iv = f"({iv if iv is not None else sniff.int_value(value)})"
    bv = f"({bv if bv is not None else _bool_value(value)})"
    fv = f"({fv if fv is not None else _float_value(value)})"
    is_null, is_bool = f"({rcode}) = {NULL}", f"({rcode}) = {BOOL}"
    is_int, is_float = f"({rcode}) = {INT}", f"({rcode}) = {FLOAT}"
    is_str = f"({rcode}) = {STR}"

    if target == NULL:
        # null<-anything is allowed except str whose content isn't "null"/"0"
        # (types.rs:77-79,98-100,127-130,150-156)
        err = (f"({is_str} AND NOT (lower(trim({value})) = {lit('null')}"
               f" OR {value} = {lit('0')}))")
        return "CAST(NULL AS STRING)", err

    if target == BOOL:
        val = (
            f"CASE WHEN {is_null} THEN false WHEN {is_bool} THEN {bv}"
            f" WHEN {is_int} THEN CASE WHEN {iv} IN (0, 1) THEN {iv} = 1 END"
            f" WHEN {is_float}"
            f" THEN CASE WHEN {fv} IN (0.0D, 1.0D) THEN {fv} = 1.0D END"
            f" WHEN {is_str} THEN {bv} END"
        )
        err = (f"(({is_int} AND NOT {iv} IN (0, 1))"
               f" OR ({is_float} AND NOT {fv} IN (0.0D, 1.0D))"
               f" OR ({is_str} AND {bv} IS NULL))")
        return val, err

    if target == INT:
        rounded = f"round({fv})"
        in_i64 = f"({rounded} >= -{I64_LIMIT}D AND {rounded} < {I64_LIMIT}D)"
        val = (
            f"CASE WHEN {is_null} THEN CAST(0 AS BIGINT)"
            f" WHEN ({is_bool} OR {is_int} OR {is_str}) THEN {iv}"
            f" WHEN {is_float} AND {in_i64} THEN CAST({rounded} AS BIGINT) END"
        )
        # bool/null runtimes never error here; str errors when str_int misses
        # (true/false words already yield 1/0 through int_value); a float
        # errors when its rounded value lies outside i64
        return val, (f"(({is_str} AND {iv} IS NULL)"
                     f" OR ({is_float} AND {fv} IS NOT NULL AND NOT {in_i64}))")

    if target == FLOAT:
        clamped = (
            f"CASE WHEN {iv} > {I32_MAX} THEN {float(I32_MAX)}D"
            f" WHEN {iv} < {I32_MIN} THEN {float(I32_MIN)}D"
            f" ELSE CAST({iv} AS DOUBLE) END"
        )
        val = (
            f"CASE WHEN {is_null} THEN 0.0D"
            f" WHEN {is_bool} THEN CAST(CAST({bv} AS INT) AS DOUBLE)"
            f" WHEN {is_int} THEN {clamped}"
            f" WHEN {is_float} THEN {fv} WHEN {is_str} THEN {fv} END"
        )
        return val, f"({is_str} AND {fv} IS NULL)"

    if target == STR:
        val = (
            f"CASE WHEN {is_null} THEN {lit('null')}"
            f" WHEN {is_bool}"
            f" THEN CASE WHEN {bv} THEN {lit('true')} ELSE {lit('false')} END"
            f" WHEN {is_int} THEN CAST({iv} AS STRING)"
            f" WHEN {is_float} THEN CAST({fv} AS STRING)"
            f" WHEN {is_str} THEN {value} END"
        )
        return val, "false"

    if target in (IPV4, IPV6):
        # Only a runtime string can cast to IP/date (lib.rs:367-377); the
        # parse round-trip is the identity for valid dotted-quads, and the
        # caller canonicalizes an IPv6 address with ipv6_canonical.
        pattern = RE_IPV4 if target == IPV4 else RE_IPV6
        ok = f"({is_str} AND {value} RLIKE {lit(pattern)})"
        return f"CASE WHEN {ok} THEN {value} END", f"NOT {ok}"

    if target == DATE:
        canon = _date_canonical(value, f"({sniff_code}) = {DATE}")
        ok = f"({is_str} AND ({canon}) IS NOT NULL)"
        return f"CASE WHEN {ok} THEN {canon} END", f"NOT {ok}"

    raise ValueError(f"unknown target type code {target}")


# --------------------------------------------------------------------------
# DuckDB oracle twins (the SQL-expressible subset; IPv6 canonicalization is
# exercised via pytest golden cases instead)
# --------------------------------------------------------------------------

def _float_value_sql(e: str) -> str:
    """DuckDB twin of :func:`_float_value`: the finite f64 parse."""
    dbl = f"try_cast({e} AS DOUBLE)"
    return (f"CASE WHEN regexp_matches({e}, '{RE_FLOAT}') AND isfinite({dbl})"
            f" THEN {dbl} END")


def _in_i64_sql(rounded: str) -> str:
    return (f"({rounded} >= -{I64_LIMIT}::DOUBLE"
            f" AND {rounded} < {I64_LIMIT}::DOUBLE)")


def cast_to_int_sql(value: str, rcode: str) -> str:
    iv = sniff.int_value_sql(value)
    rounded = f"round({_float_value_sql(value)})"
    return f"""
    CASE
      WHEN ({rcode}) = {NULL} THEN 0
      WHEN ({rcode}) IN ({BOOL}, {INT}, {STR}) THEN ({iv})
      WHEN ({rcode}) = {FLOAT} AND {_in_i64_sql(rounded)}
        THEN CAST({rounded} AS BIGINT)
    END
    """


def cast_to_int_error_sql(value: str, rcode: str) -> str:
    """DuckDB twin of :func:`cast_field`'s INT error flag: a runtime
    string whose str_int misses, or a runtime float whose rounded value
    lies outside i64."""
    iv = sniff.int_value_sql(value)
    fv = _float_value_sql(value)
    return f"""
    coalesce((({rcode}) = {STR} AND ({iv}) IS NULL)
             OR (({rcode}) = {FLOAT} AND ({fv}) IS NOT NULL
                 AND NOT {_in_i64_sql(f"round({fv})")}), false)
    """
