"""D1/S7/S8 — deterministic multi-sink fan-out writes.

Reference: one Elasticsearch index per distinct route, docs routed row by
row with buffered bulk POSTs and infinite retry (``src/elastic.rs:76-154``,
``src/workerpool.rs:104-126``).  Spark-side replacements:

* ONE pass, ``partitionBy(route)`` parquet/Iceberg write — every route
  lands in its own directory/partition in a single shuffle-free job
  (``plans.manifest.resume_fanout``);
* resumable commits: ``resume_fanout`` stages every pending route through
  that one write, then commits the routes one by one in sorted route
  order (the reference's BTreeMap iteration) — a rename into
  ``sinks/<route>`` and a manifest save each — so a crash resumes where it
  stopped;
* idempotent commit: parquet/Iceberg atomic job commit replaces the
  reference's retry-forever loop (``src/elastic.rs:124-151``); re-running a
  committed route is a no-op via the manifest check (plans.manifest).

No driver loop writes per route: AQE coalesces output files, and
per-partition stats become lineage rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def route_counts(df: DataFrame) -> DataFrame:
    """A5: rows per sink — the reference's implicit per-index doc count."""
    return df.groupBy("route").agg(F.count(F.lit(1)).alias("n_rows"))


