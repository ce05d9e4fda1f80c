"""J1/J2 — broadcast-hash-join enrichment.

Reference: two per-row dictionary lookups — route -> type-map
(``src/type_map.rs:184-192``) and parser -> default route template
(``src/lib.rs:48-56``).  Both become broadcast hash joins against small
dimension DataFrames: Catalyst keeps the probe side streaming (no shuffle
of the fact table), which is the only join shape this pipeline ever needs
at 10^12 rows — the dimensions are KiB-sized.  Both dimensions
(``fixtures.pattern_dict`` here, ``route_cast.schema_dim`` for the cast)
are JVM ``LocalRelation`` frames from :func:`ulp_spark.session.local_frame`:
the broadcast reads a ``LocalTableScan`` and runs no Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.functions import broadcast


def enrich(fact: DataFrame, dim: DataFrame, on: str | list[str]) -> DataFrame:
    """Broadcast left join of ``dim`` onto ``fact``.

    The left join keeps unmatched fact rows (unseen key -> NULL payload —
    the reference *errors* on an unseen route, ``src/type_map.rs:193-196``;
    callers surface that as an error/quarantine column instead of dying).
    """
    return fact.join(broadcast(dim), on=on, how="left")

