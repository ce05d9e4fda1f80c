"""Scalar-function layer: type sniffing, lattice codes, casts, sanitization,
route templates.  Everything here builds Spark SQL text (JVM-side,
whole-stage-codegen once wrapped in ``F.expr``; quoting rules in
:mod:`~ulp_spark.functions.sqltext`) except the one genuinely Python-bound
quirk (IPv6 canonicalization), an Arrow-batched pandas UDF.
"""

from ulp_spark.functions import casts, routes, sanitize, sniff, sqltext  # noqa: F401
