"""P7@record-level + J1 — cast parsed records to their route's merged schema.

Reference: the ingest phase re-reads each NDJSON record, looks up its
route's type map and recursively casts (``src/elastic.rs:76-99`` ->
``Mapping::cast_json`` ``src/type_map.rs:174-198``), erroring the record on
the first bad field (``type_casting/src/lib.rs:389-397``).

Here the route->schema dict (A2 output, driver-side, KiB) becomes a
broadcast dimension (J1, :func:`schema_dim`) joined onto the records — one
broadcast hash join, no shuffle of the records, zero Python: the dimension
is a JVM ``LocalRelation`` built by :func:`ulp_spark.session.local_frame`,
so broadcasting it runs no Python-worker task — and each field's cast
branches over the distinct target types it takes across routes.  One cast
implementation, two shapes:

* :func:`cast_single_pass` — one DataFrame for all routes; casted values
  carried in canonical string form + per-row ``cast_error``.  Used for
  counting/parity and for a single ``partitionBy(route)`` fan-out write.
* :func:`cast_per_route` — one *typed* DataFrame per route (int fields are
  longs, bools are booleans...), the exact per-sink schema the reference
  PUTs as an index mapping (S8): a per-route projection of
  :func:`cast_single_pass` that casts each canonical string to its
  target's native type.  Routes come in sorted order (the reference's
  BTreeMap iteration, ``src/workerpool.rs:104``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ulp_spark.functions import casts, sniff, sqltext
from ulp_spark.functions.sqltext import ident, lit
from ulp_spark.session import local_frame


def _repr_str(value: str, rcode: str, target: int, helpers) -> tuple[str, str]:
    """Casted value rendered canonically as a string (parity form)."""
    val, err = casts.cast_field(value, rcode, target, **helpers)
    if target in (sniff.BOOL, sniff.INT, sniff.FLOAT):  # a failed cast stays NULL
        return f"CAST({val} AS STRING)", err
    return val, err


def schema_dim(
    spark, route_schemas: dict[str, dict[str, int]], fields: list[str],
) -> DataFrame:
    """Route -> per-field target-type dimension (KiB), the J1 broadcast dim.

    This is literally the reference's ``index_pattern_mappings`` BTreeMap
    shipped as a table (``src/type_map.rs:90-98``), as a ``LocalTableScan``
    (:func:`ulp_spark.session.local_frame`)."""
    rows = [
        tuple([r] + [route_schemas[r].get(f) for f in fields])
        for r in sorted(route_schemas)
    ]
    ddl = "route string, " + ", ".join(f"{f}__target int" for f in fields)
    return local_frame(spark, rows, ddl)


def cast_single_pass(
    df: DataFrame,
    route_schemas: dict[str, dict[str, int]],
    fields: list[str],
) -> DataFrame:
    """All routes in one pass over a frame of parsed records (each field
    ``<f>`` with its sniff code ``<f>__t``); adds ``<f>__cast`` string
    columns + ``cast_error``.  Rows whose route is absent from the schema
    dict get ``cast_error = true`` (the reference's unseen-route error,
    ``src/type_map.rs:193-196``).

    Plan shape (matters at every scale):
    * the route->schema map joins in as a BROADCAST DIM (J1), so the per-row
      lookup is a hash probe, not a |routes|-deep when-cascade;
    * casts branch over the DISTINCT TARGET TYPES a field takes across all
      routes (<= 8, usually 1-2), keyed by the joined ``<f>__target`` code;
    * the runtime code and the shared str_int/str_bool/str_float helpers
      are computed once per field and row.
    A naive per-route expression cascade is O(fields x routes x |helpers|)
    after optimizer inlining — observed to wedge Catalyst and OOM the JVM.
    """
    spark = df.sparkSession
    from pyspark.sql.functions import broadcast

    dim = schema_dim(spark, route_schemas, fields)
    # Helper columns (str_int/str_bool/str_float regex batteries) only for
    # fields whose target set can READ them: NULL/IPV4/IPV6/DATE casts
    # never touch iv/bv/fv (cast_field embeds helpers per target branch),
    # so e.g. a DATE-only field — typically the timestamp, whose
    # digit-leading values pay the full numeric battery — skips all three
    # eager columns.  Identical outputs: unused columns never reached the
    # plan's cast branches anyway, so computing them was pure waste.
    _HELPER_TARGETS = {sniff.BOOL, sniff.INT, sniff.FLOAT, sniff.STR}
    field_targets = {
        f: sorted({s[f] for s in route_schemas.values()
                   if s.get(f) is not None})
        for f in fields
    }
    helper_fields = [f for f in fields
                     if _HELPER_TARGETS & set(field_targets[f])]
    # Each field's runtime code <f>__r (the JSON type its value would
    # materialize as, from the value and its sniff code <f>__t) is a staged
    # column like the helpers: inlined into every target branch, its
    # finite-float check would run once per branch.
    runtime_codes = [
        f"{sniff.materialized_runtime_code(ident(f), ident(f + '__t'))}"
        f" AS {ident(f + '__r')}" for f in fields]
    staged = (
        df.join(broadcast(dim.withColumn("__known", F.lit(True))),
                on="route", how="left")
        .selectExpr("*", *runtime_codes,
                    *[c for f in helper_fields
                      for c in casts.helper_columns(f)])
    )
    err_any = "coalesce(`__known`, false) = false"
    out_cols: list[Column] = []
    for f in fields:
        value, rcode = ident(f), ident(f"{f}__r")
        # the sniff verdict also lets the DATE cast test it instead of
        # re-running the calendar regex per row (casts.cast_field
        # docstring proves the predicate equivalence)
        helpers = dict(sniff_code=ident(f"{f}__t"))
        if f in helper_fields:
            helpers.update(iv=ident(f"{f}__iv"), bv=ident(f"{f}__bv"),
                           fv=ident(f"{f}__fv"))
        tcol = ident(f"{f}__target")
        casted, ipv6 = "CAST(NULL AS STRING)", None
        for t in field_targets[f]:
            v, e = _repr_str(value, rcode, t, helpers)
            if t == sniff.IPV6:
                ipv6 = v
            else:
                casted = f"CASE WHEN {tcol} = {t} THEN {v} ELSE {casted} END"
            # coalesce guards three-valued logic: when this route's schema
            # omits the field, tcol is NULL and (NULL == t) AND TRUE is NULL
            # — which would turn cast_error itself NULL (a row that BOTH
            # filter(err) and filter(~err) drop).  Absent field = no cast =
            # no error, i.e. false.
            err_any = f"{err_any} OR coalesce({tcol} = {t} AND ({e}), false)"
        if ipv6 is None:
            out_cols.append(sqltext.column(casted, f"{f}__cast"))
        else:  # the pandas-UDF branch, composed as a Column
            out_cols.append(
                F.when(F.expr(f"{tcol} = {sniff.IPV6}"),
                       casts.ipv6_canonical(F.expr(ipv6)))
                .otherwise(F.expr(casted)).alias(f"{f}__cast"))
    drop_cols = [f"{f}__{s}" for f in fields
                 for s in ("r", "iv", "bv", "fv", "target")]
    drop_cols.append("__known")
    return (
        staged.select("*", *out_cols,
                      sqltext.column(f"({err_any})", "cast_error"))
        .drop(*drop_cols)
    )


def cast_per_route(
    df: DataFrame,
    route_schemas: dict[str, dict[str, int]],
    fields: list[str],
) -> dict[str, DataFrame]:
    """Sorted {route: typed DataFrame} — each with its own native schema:
    ``doc_id``, then every field the route's schema types, as
    ``CAST(<f>__cast AS <native>)`` of the :func:`cast_single_pass`
    string, then ``cast_error``.  The canonical strings round-trip
    exactly: a BIGINT's decimal digits, a DOUBLE's Java rendering and
    ``true``/``false`` cast back to the value they render, and a failed
    cast stays NULL.  ``df`` is read as given (for parsed records,
    :func:`ulp_spark.plans.pipeline.build`'s seamed ``routed``), so every
    route's filter runs over one scan of it.
    """
    casted = cast_single_pass(df, route_schemas, fields)
    out: dict[str, DataFrame] = {}
    for r in sorted(route_schemas):
        schema = route_schemas[r]
        typed = [
            f"CAST({ident(f + '__cast')} AS"
            f" {casts.NATIVE[schema[f]].simpleString()}) AS {ident(f)}"
            for f in fields if f in schema]
        out[r] = casted.filter(F.expr(f"`route` = {lit(r)}")).selectExpr(
            "doc_id", *typed, "cast_error")
    return out


