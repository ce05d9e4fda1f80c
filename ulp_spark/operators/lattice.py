"""A1/A2 — distributed schema inference (the type-lattice fold).

Reference: every worker thread folds each record into a global ``Mapping``
under a mutex taken PER RECORD (``src/evtx.rs:55-64``, ``src/job.rs:16``) —
the pipeline's single biggest bottleneck.  Here the fold is a plain
Catalyst aggregation with no shared state:

    per-row sniff mask (1 << type_code)            -- map side, codegen
    -> partial bit_or per partition                -- map-side combine
    -> final bit_or (+ groupBy(route) for A2)      -- one tiny shuffle
    -> resolve_mask to a type code                 -- constant-time

bit_or is associative and commutative, so partial aggregation is exact —
this is why the lattice had to be canonicalized (functions.sniff docstring).
Output rows are one per (route ×) field: KiB-sized at any input scale, so
collecting to the driver / re-broadcasting for the cast stage is free.

Nested records: ``json_field_schema`` infers per-key types inside a JSON
object column by exploding key/value pairs first — the flat analog of the
reference's recursive ``Object⊔Object`` merge (``type_casting/src/
lib.rs:27-45``); list indices would map the same way with ``posexplode``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ulp_spark.functions import sniff, sqltext
from ulp_spark.functions.sqltext import ident, lit


def field_masks(fields: list[str]) -> list:
    """bit_or aggregates per field over the parse stage's ``<f>__t`` sniff
    codes (one regex battery per value, total — not one per stage)."""
    return [sqltext.column(f"bit_or({sniff.code_mask(ident(f + '__t'))})", f)
            for f in fields]


def route_schemas(df: DataFrame, fields: list[str]
                  ) -> dict[str, dict[str, int]]:
    """A2: per-route merged schema (reference ``src/type_map.rs:162-172``).

    One groupBy over the already-parsed frame; result is |routes| rows —
    collected to a driver dict that the cast stage ships back as its
    broadcast dimension (J1, ``route_cast.schema_dim``).
    """
    rows = df.groupBy("route").agg(*field_masks(fields)).collect()
    return {
        r["route"]: {f: sniff.resolve_mask_py(r[f]) for f in fields if r[f] is not None}
        for r in rows
    }


def route_schema_frame(df: DataFrame, fields: list[str]) -> DataFrame:
    """A2 as a DataFrame (route, field, type_code) — oracle-comparable."""
    masks = df.groupBy("route").agg(*field_masks(fields))
    pairs = ", ".join(
        f"named_struct({lit('field')}, {lit(f)},"
        f" {lit('type_code')}, {sniff.resolve_mask(ident(f))})"
        for f in fields)
    return (
        masks.selectExpr("`route`", f"explode(array({pairs})) AS kv")
        .select("route", "kv.field", "kv.type_code")
    )


def json_field_schema_sql(table: str, json_col: str) -> str:
    """DuckDB twin of :func:`json_field_schema` (this DuckDB build has no
    ``json_each`` TVF: keys come from ``json_keys`` + unnest, per-key values
    from ``json_extract``; a JSON null extracts to SQL NULL, whose untyped
    path lands on the NULL code in both engines)."""
    from ulp_spark.functions import sniff as _sniff

    code = _sniff.json_runtime_code_sql("json_type(jval)", "jval")
    mask = f"bit_or(1::BIGINT << ({code}))"
    return f"""
    WITH kv AS (
      SELECT unnest(json_keys({json_col})) AS field, {json_col} AS j
      FROM {table} WHERE json_valid({json_col})
    ),
    vals AS (
      SELECT field, json_extract(j, '$."' || field || '"') AS jval FROM kv
    )
    SELECT field,
           CAST({_sniff.resolve_mask_sql(mask)} AS INTEGER) AS type_code,
           count(*)::BIGINT AS n_values
    FROM vals GROUP BY field
    """


def json_tree_schema(df: DataFrame, json_col: str):
    """A1 full-tree: recursive type-tree inference over a JSON string column.

    The distributed shape of the reference's mutex-guarded global fold
    (``Mapping::map_json``, ``src/type_map.rs:156-161``) for arbitrarily
    nested records: each Arrow batch folds its records into one partial
    tree (pure Python, but O(batches) not O(rows) in transfer), the driver
    merges the per-batch partials — the ``treeAggregate`` shape.  The
    lattice is the canonical commutative one, so batch/partition boundaries
    cannot change the result.

    Returns an ``ulp_spark.oracle`` Tree.  Malformed JSON rows are skipped
    (they belong to the quarantine path).
    """
    import json as _json

    import pandas as _pd

    from ulp_spark import oracle as _oracle
    from ulp_spark.functions import sniff as _sniff

    def partials(batches):
        acc = _sniff.NULL
        n = 0
        for pdf in batches:
            for s in pdf[json_col]:
                if s is None:
                    continue
                try:
                    v = _json.loads(s)
                except ValueError:
                    continue
                acc = _oracle.merge_tree(acc, _oracle.get_type(v))
                n += 1
        yield _pd.DataFrame({"tree": [_json.dumps(_oracle.encode_tree(acc))],
                             "n_rows": [n]})

    rows = df.select(json_col).mapInPandas(partials, "tree string, n_rows long").collect()
    final = _sniff.NULL
    for r in rows:
        final = _oracle.merge_tree(final, _oracle.decode_tree(_json.loads(r.tree)))
    return final


_RE_DECIMAL0 = r"^DECIMAL\([0-9]+,0\)$"


def json_runtime_code(v: str) -> str:
    """JSON *runtime* type code of a VARIANT expression, as SQL text
    (``Types::get_type``, ``type_casting/src/types.rs:29-57``):
    numbers/bools/null map DIRECTLY to INT/FLOAT/BOOL/NULL — they are never
    re-stringified and sniffed (JSON number ``0`` is Int, not the
    ``"0"``-string Null quirk; ``1`` is Int, not Bool).  Only actual JSON
    strings run the content battery.  Variant preserves quotedness, which
    ``from_json(map<string,string>)`` destroys: a string map cannot tell
    JSON ``0`` from ``"0"``."""
    st = f"schema_of_variant({v})"
    # serde_json Number rule (the reference's runtime): Int iff the value
    # fits i64 OR u64, else f64 -> Float.  Spark variant types u64-range
    # integers as DECIMAL(p,0), so a scale-0 decimal is Int exactly when
    # the VALUE lies in [i64::MIN, u64::MAX] — mirrors DuckDB's
    # BIGINT/UBIGINT/DOUBLE split at the same boundaries (verified).
    is_dec0 = f"{st} RLIKE {lit(_RE_DECIMAL0)}"
    dv = f"try_variant_get({v}, {lit('$')}, {lit('decimal(38,0)')})"
    in_serde_int_range = (
        f"{dv} >= CAST({lit('-9223372036854775808')} AS DECIMAL(38,0))"
        f" AND {dv} <= CAST({lit('18446744073709551615')} AS DECIMAL(38,0))")
    ints = ", ".join(lit(t) for t in ("BIGINT", "INT", "SMALLINT", "TINYINT"))
    return (
        f"CASE WHEN {st} = {lit('VOID')} THEN {sniff.NULL}"
        f" WHEN {st} = {lit('BOOLEAN')} THEN {sniff.BOOL}"
        f" WHEN {st} IN ({ints}) THEN {sniff.INT}"
        f" WHEN {is_dec0} AND {in_serde_int_range} THEN {sniff.INT}"
        f" WHEN {st} IN ({lit('DOUBLE')}, {lit('FLOAT')})"
        f" OR startswith({st}, {lit('DECIMAL')}) THEN {sniff.FLOAT}"
        f" WHEN startswith({st}, {lit('ARRAY')}) THEN {sniff.LIST}"
        f" WHEN startswith({st}, {lit('OBJECT')})"
        f" OR startswith({st}, {lit('STRUCT')}) THEN {sniff.OBJECT}"
        f" ELSE {sniff.sniff_code(f'CAST({v} AS STRING)')} END"
    )


def json_field_schema(df: DataFrame, json_col: str) -> DataFrame:
    """Dynamic per-key schema of a JSON-object string column.

    Output: (field, type_code, n_values).  The recursive-merge analog for
    one nesting level.  Values are exploded as VARIANT so JSON runtime
    types survive (see :func:`json_runtime_code`); nested containers fold
    in as LIST/OBJECT codes (a container mixed with any scalar
    canonicalizes to Str — the full-tree merge quirks live in
    :func:`json_tree_schema`).  Malformed JSON rows parse to null variants
    and contribute no key/value pairs (quarantine path).
    """
    # table-qualified: the source frame may itself carry `key`/`value` cols.
    # `ve.key IS NOT NULL` drops top-level-ARRAY payloads (variant_explode
    # emits their elements with a null key; json_keys on the DuckDB side
    # enumerates nothing for them) — this is an OBJECT-column operator and
    # non-object payloads contribute no fields, same as malformed rows.
    kv = df.sparkSession.sql(
        f"SELECT ve.key AS field, ve.value AS __variant FROM {{df}} src, "
        f"LATERAL variant_explode(try_parse_json(src.{json_col})) ve "
        f"WHERE ve.key IS NOT NULL",
        df=df,
    ).withColumnRenamed("__variant", "value")
    mask = sniff.code_mask(json_runtime_code("`value`"))
    return (
        kv.groupBy("field")
        .agg(
            sqltext.column(f"bit_or({mask})", "mask"),
            F.count(F.lit(1)).alias("n_values"),
        )
        .select("field",
                sqltext.column(sniff.resolve_mask("mask"), "type_code"),
                "n_values")
    )
