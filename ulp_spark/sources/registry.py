"""S1/S2 — input scan + format detection.

Reference: ``Job::from_glob`` expands a filesystem glob (``src/job.rs:52-73``)
and ``Parser::try_from`` sniffs the first 8 bytes per file — ``FILE0`` magic
-> MFT, ``ElfFile`` -> EVTX, extension fallback, panic otherwise
(``src/lib.rs:58-72,90``).

Spark-first translation: detection stays at the reference's granularity,
one sniff per FILE on the driver (file COUNT is the small dimension here,
not row count), and groups the matched paths by format
(:func:`plan_scan`).  The one group the parser understands, ``kv_log``,
then streams line-per-row through Spark's text reader (:func:`read_lines`),
which lists in parallel and decompresses ``.gz`` transparently.

Unknown formats are never a panic (documented deviation): they land in the
``unknown`` group, which the caller reports next to every other group it
does not read.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ulp_spark.session import local_frame

# (format name, magic prefix) — checked in order, first match wins, like
# the reference's match on the 8-byte header.
MAGIC: list[tuple[str, bytes]] = [
    ("parquet", b"PAR1"),
    ("orc", b"ORC"),
    ("ndjson", b"{"),
    ("kv_log", b""),  # fallthrough handled by extension below
]
GZIP_MAGIC = b"\x1f\x8b"
EXT_FALLBACK = {
    ".parquet": "parquet",
    ".orc": "orc",
    ".json": "ndjson",
    ".jsonl": "ndjson",
    ".ndjson": "ndjson",
    ".log": "kv_log",
    ".txt": "kv_log",
    ".csv": "csv",
    ".tsv": "csv",
}


def detect_file_format(path: str) -> str:
    """S2 at file granularity: magic bytes, then extension, else unknown.

    gzip members classify as their INNER format (``x.ndjson.gz`` ->
    ndjson): Spark's text/csv readers decompress ``.gz`` transparently,
    so compression is a storage property, not a format group."""
    try:
        with open(path, "rb") as f:
            head = f.read(8)
    except OSError:
        return "unknown"
    if head.startswith(GZIP_MAGIC):
        stem = path[:-3] if path.lower().endswith(".gz") else path
        return EXT_FALLBACK.get(os.path.splitext(stem)[1].lower(), "unknown")
    for name, magic in MAGIC:
        if magic and head.startswith(magic):
            return name
    return EXT_FALLBACK.get(os.path.splitext(path)[1].lower(), "unknown")


def plan_scan(pattern: str) -> dict[str, list[str]]:
    """S1 + S2: the glob's matches grouped by detected format, formats and
    paths in sorted order; empty (not a panic) when nothing matches."""
    groups: dict[str, list[str]] = {}
    for p in sorted(_glob.glob(pattern)):
        groups.setdefault(detect_file_format(p), []).append(p)
    return dict(sorted(groups.items()))


def read_lines(spark: SparkSession, plan: dict[str, list[str]]) -> DataFrame:
    """The plan's ``kv_log`` files as a ``(doc_id, path, line)`` frame, the
    ``lines_df`` of :func:`ulp_spark.plans.pipeline.build`.

    ``doc_id`` replaces the reference's v4 UUID (SURVEY P11): the sha-256
    of (path, the line's number among the EQUAL lines of its file, line).
    Reruns and any partitioning give the same ids, and equal lines of one
    file get different ones; numbering them costs one aggregate over
    ``(path, line)``, as the text reader exposes no line offset.
    """
    paths = plan.get("kv_log")
    if not paths:
        return local_frame(spark, [], "doc_id string, path string, line string")
    return (
        spark.read.text(paths)
        .select(F.input_file_name().alias("path"), F.col("value").alias("line"))
        .groupBy("path", "line").count()
        .selectExpr("path", "line", "explode(sequence(1L, `count`)) AS k")
        .selectExpr(
            "sha2(concat_ws(char(0), path, CAST(k AS STRING), line), 256)"
            " AS doc_id", "path", "line")
    )
