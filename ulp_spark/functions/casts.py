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

Every rule is a Column expression except IPv6 canonicalization, which is an
Arrow-batched pandas UDF over Python ``ipaddress`` (no JVM-side equivalent).

Outputs are (value, error) pairs: the reference fails the whole record on
the first cast error (``lib.rs:389-397``); the pipeline turns the per-field
error flags into a quarantine column instead of dying (documented deviation:
error *handling* differs, error *detection* matches).

Documented deviations (pinned in tests/test_casts.py):
* float -> str uses Spark's double rendering ("3.0"), Rust prints "3";
  parity fixtures avoid whole-valued floats.
* str -> date keeps second precision plus any explicit fractional digits
  verbatim; chrono re-renders fractions (trailing-zero handling may differ).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ulp_spark.functions import sniff
from ulp_spark.functions.sniff import (
    BOOL, DATE, FLOAT, INT, IPV4, IPV6, NULL, STR,
    RE_DATE, RE_FLOAT, RE_IPV4, RE_IPV6,
)

I32_MAX, I32_MIN = 2147483647, -2147483648


def _bool_value(col: Column) -> Column:
    """str_bool (``types.rs:159-167``): true/false words, else str_int ∈ {0,1}."""
    low = F.lower(F.trim(col))
    iv = sniff._int_value(col)
    return (
        F.when(low == "true", F.lit(True))
        .when(low == "false", F.lit(False))
        .when(iv == 1, F.lit(True))
        .when(iv == 0, F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def _float_value(col: Column) -> Column:
    """f64::from_str success as double, finite only: ``Number::from_f64``
    rejects inf/NaN (``lib.rs:371-373``), and an overflowing literal like
    "1e999" parses to +inf — it must null out (-> cast error), not pass."""
    raw = F.when(col.rlike(RE_FLOAT), col.try_cast("double"))
    return F.when(~F.isnan(raw) & (F.abs(raw) != float("inf")), raw)


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


def _date_canonical(col: Column, is_date: Column | None = None) -> Column:
    """RFC3339 -> UTC RFC3339 with '+00:00' (chrono to_rfc3339, lib.rs:377).

    Implemented entirely on TIMESTAMP_NTZ + explicit offset arithmetic so
    the result is independent of ``spark.sql.session.timeZone`` (a
    date_format over an instant renders in session TZ — that was a latent
    wrong-answer under non-UTC driver sessions).

    Lowercase 't'/'z' separators (RFC3339-legal, chrono-accepted, matched
    by RE_DATE) are normalized first: in a RE_DATE-shaped string those
    letters can only be the separators, so translate() is safe."""
    col = F.translate(col, "tz", "TZ")
    stripped = F.regexp_replace(col, r"\.[0-9]+", "")
    core = F.regexp_replace(stripped, r"(Z|[+-][0-9]{2}:[0-9]{2})$", "")
    base = core.try_cast("timestamp_ntz")
    off = F.regexp_extract(stripped, r"([+-][0-9]{2}:[0-9]{2})$", 1)
    sign = F.when(off.startswith("-"), F.lit(-1)).otherwise(F.lit(1))
    off_min = F.when(off == "", F.lit(0)).otherwise(
        sign * (F.substring(off, 2, 2).cast("int") * 60
                + F.substring(off, 5, 2).cast("int")))
    utc = base - F.make_interval(mins=off_min)
    frac = F.regexp_extract(col, r"(\.[0-9]+)", 1)
    shape_ok = col.rlike(RE_DATE) if is_date is None else is_date
    return F.when(
        shape_ok & base.isNotNull(),
        F.concat(F.date_format(utc, "yyyy-MM-dd'T'HH:mm:ss"), frac, F.lit("+00:00")),
    )


def helper_columns(field: str) -> list[Column]:
    """Shared parse helpers for one field, to be SELECTed once per frame:
    ``<f>__iv`` (str_int view), ``<f>__bv`` (str_bool), ``<f>__fv`` (f64).

    These sub-expressions are big (regex + conv cascades); computing them as
    real columns keeps downstream cast cascades O(routes) instead of
    O(routes x |subexpr|) — without this the multi-route cast plan blows the
    Catalyst tree (observed: JVM heap OOM at 6 fields x 6 routes).
    """
    c = F.col(field)
    return [
        sniff._int_value(c).alias(f"{field}__iv"),
        _bool_value(c).alias(f"{field}__bv"),
        _float_value(c).alias(f"{field}__fv"),
    ]


def cast_field(
    value: Column,
    rcode: Column,
    target: int,
    iv: Column | None = None,
    bv: Column | None = None,
    fv: Column | None = None,
    sniff_code: Column | None = None,
) -> tuple[Column, Column]:
    """Cast one field to a target type code.

    ``value`` is the field's raw string form; ``rcode`` its JSON runtime type
    (sniff.runtime_code of the sniffed code: NULL/BOOL/INT/FLOAT/STR).
    Returns (casted-value Column of the target's native Spark type, error
    Column).  Native types: bool->boolean, int->long, float->double,
    null->string(null), others->string.

    ``iv``/``bv``/``fv`` accept pre-computed :func:`helper_columns` to avoid
    re-inlining the heavy sub-expressions in multi-route cascades.

    ``sniff_code`` optionally passes the field's ALREADY-SNIFFED type code
    (the parse stage's ``<f>__t``).  The DATE branch then tests
    ``sniff_code == DATE`` instead of re-running the calendar regex —
    provably the same predicate: the sniff cascade classifies a string as
    DATE iff it matches RE_DATE (every earlier branch fails on any
    RE_DATE-shaped value: int/float/hex literals cannot contain the
    mandatory '-', the IPv4 quad has no '-', the IPv6 branch is gated on
    "contains ':' and no '-'", and the NULL/BOOL word forms are
    length-incompatible), and the DATE branch itself is that rlike.
    Callers without a staged sniff column omit it and keep the regex.
    """
    iv = iv if iv is not None else sniff._int_value(value)
    bv = bv if bv is not None else _bool_value(value)
    fv = fv if fv is not None else _float_value(value)
    is_null, is_bool = rcode == NULL, rcode == BOOL
    is_int, is_float, is_str = rcode == INT, rcode == FLOAT, rcode == STR

    if target == NULL:
        # null<-anything is allowed except str whose content isn't "null"/"0"
        # (types.rs:77-79,98-100,127-130,150-156)
        err = is_str & ~((F.lower(F.trim(value)) == "null") | (value == "0"))
        return F.lit(None).cast("string"), err

    if target == BOOL:
        val = (
            F.when(is_null, F.lit(False))
            .when(is_bool, bv)
            .when(is_int, F.when(iv.isin(0, 1), iv == 1))
            .when(is_float, F.when(fv.isin(0.0, 1.0), fv == 1.0))
            .when(is_str, bv)
        )
        err = (
            (is_int & ~iv.isin(0, 1))
            | (is_float & ~fv.isin(0.0, 1.0))
            | (is_str & bv.isNull())
        )
        return val, err

    if target == INT:
        val = (
            F.when(is_null, F.lit(0).cast("bigint"))
            .when(is_bool | is_int | is_str, iv)
            .when(is_float, F.round(fv).cast("bigint"))
        )
        # bool/null runtimes never error here; str errors when str_int misses
        # (true/false words already yield 1/0 through _int_value)
        err = is_str & iv.isNull()
        return val, err

    if target == FLOAT:
        clamped = (
            F.when(iv > I32_MAX, F.lit(float(I32_MAX)))
            .when(iv < I32_MIN, F.lit(float(I32_MIN)))
            .otherwise(iv.cast("double"))
        )
        val = (
            F.when(is_null, F.lit(0.0))
            .when(is_bool, bv.cast("int").cast("double"))
            .when(is_int, clamped)
            .when(is_float, fv)
            .when(is_str, fv)
        )
        err = is_str & fv.isNull()
        return val, err

    if target == STR:
        val = (
            F.when(is_null, F.lit("null"))
            .when(is_bool, F.when(bv, "true").otherwise("false"))
            .when(is_int, iv.cast("string"))
            .when(is_float, fv.cast("string"))
            .when(is_str, value)
        )
        return val, F.lit(False)

    if target == IPV4:
        # Only a runtime string can cast to IP/date (lib.rs:367-377); the
        # parse round-trip is the identity for valid dotted-quads.
        ok = is_str & value.rlike(RE_IPV4)
        return F.when(ok, value), ~ok

    if target == IPV6:
        ok = is_str & value.rlike(RE_IPV6)
        return F.when(ok, ipv6_canonical(value)), ~ok

    if target == DATE:
        canon = _date_canonical(
            value,
            None if sniff_code is None else sniff_code == DATE)
        ok = is_str & canon.isNotNull()
        return F.when(ok, canon), ~ok

    raise ValueError(f"unknown target type code {target}")


# --------------------------------------------------------------------------
# DuckDB oracle twins (the SQL-expressible subset; IPv6 canonicalization is
# exercised via pytest golden cases instead)
# --------------------------------------------------------------------------

def cast_to_int_sql(value: str, rcode: str) -> str:
    iv = sniff.int_value_sql(value)
    return f"""
    CASE
      WHEN ({rcode}) = {NULL} THEN 0
      WHEN ({rcode}) IN ({BOOL}, {INT}, {STR}) THEN ({iv})
      WHEN ({rcode}) = {FLOAT} THEN CAST(round(try_cast({value} AS DOUBLE)) AS BIGINT)
    END
    """
