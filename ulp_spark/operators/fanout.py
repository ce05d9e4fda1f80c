"""D1/S7/S8 — deterministic multi-sink fan-out writes.

Reference: one Elasticsearch index per distinct route, docs routed row by
row with buffered bulk POSTs and infinite retry (``src/elastic.rs:76-154``,
``src/workerpool.rs:104-126``).  Spark-side replacements:

* ONE pass, ``partitionBy(route)`` parquet/Iceberg write — every route
  lands in its own directory/partition in a single shuffle-free job
  (:func:`write_partitioned`);
* resumable commits: ``plans.manifest.resume_fanout`` stages every pending
  route through that one write, then commits the routes one by one in
  sorted route order (the reference's BTreeMap iteration) — a rename into
  ``sinks/<route>`` and a manifest save each — so a crash resumes where it
  stopped;
* idempotent commit: parquet/Iceberg atomic job commit replaces the
  reference's retry-forever loop (``src/elastic.rs:124-151``); re-running a
  committed route is a no-op via the manifest check (plans.manifest);
* crash-safe per-route compaction (:func:`compact_route`,
  :func:`repair_compaction`).

No driver loop writes per route: AQE coalesces output files, and
per-partition stats become lineage rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str, route_col: str = "route"
                      ) -> None:
    """Single-pass fan-out: directory per route under ``path``, replacing
    whatever ``path`` held."""
    (
        df.write.mode("overwrite")
        .partitionBy(route_col)
        .parquet(path)
    )


def route_counts(df: DataFrame) -> DataFrame:
    """A5: rows per sink — the reference's implicit per-index doc count."""
    return df.groupBy("route").agg(F.count(F.lit(1)).alias("n_rows"))


def repair_compaction(path: str) -> dict[str, int]:
    """Recover a route directory from a compaction crashed at any point.

    Crash states and their repairs (``t`` = ``.compact-tmp``, ``o`` =
    ``.compact-old``, ``p`` = the route dir):

    * ``p`` present, ``t`` present (crash during/after the tmp write,
      before the swap): delete ``t`` — the route was never touched.
    * ``p`` absent, ``o`` present (crash between the two swap renames —
      the one window where readers see no directory): rename ``o`` back
      to ``p``; the original data is restored intact and the next
      compaction retries from scratch.
    * ``p`` present, ``o`` present (crash after the swap, before
      cleanup): delete ``o`` — the compacted data is already live.

    Returns counters for the maintenance log.  Idempotent; called
    automatically at :func:`compact_route` entry so a crashed run never
    blocks (or corrupts) the next one.
    """
    import shutil

    base = path.rstrip("/")
    tmp, old = base + ".compact-tmp", base + ".compact-old"
    restored = cleaned_tmp = cleaned_old = 0
    if not os.path.isdir(base) and os.path.isdir(old):
        os.rename(old, base)
        restored = 1
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
        cleaned_tmp = 1
    if os.path.isdir(old) and os.path.isdir(base):
        shutil.rmtree(old)
        cleaned_old = 1
    return {"restored": restored, "cleaned_tmp": cleaned_tmp,
            "cleaned_old": cleaned_old}


def compact_route(
    spark, path: str, target_rows_per_file: int = 1_000_000,
    min_files: int = 2, distinct: bool = False,
) -> dict[str, int]:
    """Small-files compaction for one route/shard directory — the
    maintenance op every long-running fan-out sink needs (many
    incremental commits -> thousands of KB-sized parquet files -> listing
    and open() overhead dominates reads at 100 TB).

    Rewrites the directory into ``ceil(rows / target_rows_per_file)``
    files via a temp dir + two-rename directory swap.  POSIX cannot
    rename a directory onto an existing non-empty one, so the swap is
    NOT atomic: a reader (or crash) between the two renames sees the
    route directory briefly missing.  Every entry therefore starts with
    :func:`repair_compaction`, which restores the original directory
    from ``.compact-old`` if a prior run died inside that window and
    clears stale ``.compact-tmp``/``.compact-old`` dirs, so data is
    never lost and a crashed run never wedges the next.  Skips
    directories already at or below ``min_files`` files.  Returns
    {files_before, files_after, rows} for the maintenance log.

    At cluster scale the equivalent is Iceberg's rewrite_data_files
    (BASELINE.md sink-substitution table), whose snapshot commit makes
    the swap genuinely atomic for readers; this is the local
    parquet-directory form with the crash-repair contract above.
    """
    import glob as _glob
    import math
    import shutil

    repair_compaction(path)
    files_before = len(_glob.glob(os.path.join(path, "*.parquet")))
    if files_before <= min_files:
        return {"files_before": files_before, "files_after": files_before,
                "rows": -1, "skipped": 1}
    df = spark.read.parquet(path)
    if distinct:
        # state-store form (tokens.compact_dedup_state): collapse exact
        # duplicate rows while rewriting — one extra exchange, key-scale
        df = df.distinct()
    rows = df.count()
    n_out = max(1, math.ceil(rows / target_rows_per_file))
    tmp = path.rstrip("/") + ".compact-tmp"
    df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".compact-old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    files_after = len(_glob.glob(os.path.join(path, "*.parquet")))
    return {"files_before": files_before, "files_after": files_after,
            "rows": rows, "skipped": 0}
