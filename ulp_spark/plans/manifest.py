"""S9 — run manifest + resumable fan-out (the reference's ``mappings.json``).

Reference: a completed job (paths, per-route type maps, per-file lineage)
serializes to ``{dir}/{job_id}/mappings.json`` (``src/workerpool.rs:200-228``)
and the ingest phase re-hydrates from it (``src/workerpool.rs:84-101``) —
manifest-based re-entry is ulp's actual resume semantic.

Here the manifest records, per run: fixture size (null for a run over
input files), route list, per-route schemas (type codes), per-route row
counts, per-route sink paths and commit state, and — once the fan-out is
done — the ``lineage`` rows of
:func:`ulp_spark.operators.lineage.partition_lineage`.  ``resume_fanout``
skips routes already committed (their parquet written + recorded) — re-running
a half-finished job writes only the missing routes, with no duplicate and
no loss.  ``job_status`` reads it back as ulp's ``GET /job``.  On a real
deployment the commit token is the Iceberg snapshot id; directory-level
parquet commits (_SUCCESS) model the same idempotency here.

No wall-clock in the manifest body (determinism); the run id is caller-
supplied (the reference's UUIDv4 job ids are nondeterministic — documented
deviation SURVEY §2 P11).
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ulp_spark.functions import sqltext
from ulp_spark.functions.sqltext import ident, lit


def manifest_path(base: str, run_id: str) -> str:
    return os.path.join(base, run_id, "manifest.json")


def load(base: str, run_id: str) -> dict[str, Any] | None:
    p = manifest_path(base, run_id)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def save(base: str, run_id: str, manifest: dict[str, Any]) -> str:
    """Atomic publish (tmp + rename, like the reference's final write).

    Also maintains the SNAPSHOT LOG: whenever the committed-route set
    differs from the latest snapshot, a new entry {snapshot_id,
    committed} is appended to ``manifest["history"]`` — the metadata
    analog of Iceberg's snapshot lineage (each commit = a new snapshot
    whose id is the resume token; BASELINE.md substitution
    table).  Ids are monotonically increasing ints, deterministic."""
    routes = manifest.get("routes", {})
    committed = sorted(r for r, e in routes.items() if e.get("committed"))
    hist = manifest.setdefault("history", [])
    if not hist or hist[-1]["committed"] != committed:
        hist.append({"snapshot_id": len(hist), "committed": committed})
    p = manifest_path(base, run_id)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(tmp, p)  # atomic publish, like the reference's final write
    return p


def new_manifest(run_id: str, n: int | None, route_schemas: dict[str, dict[str, int]]
                 ) -> dict[str, Any]:
    return {
        "run_id": run_id,
        "n_sequences": n,
        "routes": {
            r: {"schema": s, "committed": False, "path": None, "n_rows": None}
            for r, s in sorted(route_schemas.items())
        },
    }


def job_status(base: str, run_id: str) -> dict[str, Any] | None:
    """``GET /job`` analog (reference ``src/api.rs:79-88``: serialize the
    current job, or 204 when none).  Returns the manifest plus a derived
    summary — committed/pending route counts and total committed rows —
    or ``None`` when no manifest exists (the 204 case)."""
    m = load(base, run_id)
    if m is None:
        return None
    routes = m.get("routes", {})
    committed = [r for r, e in routes.items() if e.get("committed")]
    return {
        **m,
        "summary": {
            "n_routes": len(routes),
            "n_committed": len(committed),
            "n_pending": len(routes) - len(committed),
            "total_rows": sum(int(routes[r]["n_rows"] or 0)
                              for r in committed),
            "done": len(committed) == len(routes),
        },
    }


# Partition column of the staged write: a copy of the route column, so
# the route itself stays in every sink's data files.
_STAGE_COL = "__sink"


def _staged_route(dirname: str) -> str:
    """Route of a staged partition directory ``__sink=<value>``: Spark
    writes ``%XX`` escapes for characters such as ``= { [ ^ '`` (and more)
    in partition values, so the route is the unescaped value — never a
    name rebuilt from the route."""
    value = dirname.split("=", 1)[1]
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)),
                  value)


def resume_fanout(
    routed: DataFrame,
    manifest: dict[str, Any],
    base: str,
) -> dict[str, Any]:
    """Write every uncommitted route's rows; returns the updated manifest.

    All pending routes go out in ONE ``partitionBy`` parquet write into
    ``<run>/_staging/`` (one directory per route), and per-route row
    counts come from ``DataFrame.observe`` on that same write — one Spark
    job in all, with no count job and no per-route scan.  The routes then
    commit in deterministic sorted order (reference BTreeMap iteration,
    ``src/workerpool.rs:104``): the staged directory is renamed to
    ``sinks/<route>`` and the manifest saved — one commit point and one
    history snapshot per route.  A crash between commits resumes exactly
    where it stopped: the next call re-stages only the still-pending
    routes (the overwrite clears a stale ``_staging/``) and replaces any
    sink directory an uncommitted route left behind.  A pending route
    with no rows commits an empty sink with the frame's schema.

    ``routed`` is read as given: :func:`ulp_spark.plans.pipeline.build`'s
    ``routed`` (or a projection of it) is already the S5 seam, so the
    route filter runs over a scan of it, never the parse.
    """
    run_dir = os.path.join(base, manifest["run_id"])
    staging = os.path.join(run_dir, "_staging")
    pending = [r for r in sorted(manifest["routes"])
               if not manifest["routes"][r]["committed"]]
    if not pending:
        return manifest
    route = ident("route")
    # one count_if per pending route: a comparison per route per row,
    # negligible for the tens of sinks a run fans out to
    observed = Observation("resume_fanout")
    staged = (
        routed.filter(F.expr(
            f"{route} IN ({', '.join(lit(r) for r in pending)})"))
        .withColumn(_STAGE_COL, F.col("route"))
        .observe(observed, *[sqltext.column(f"count_if({route} = {lit(r)})",
                                            f"n{i}")
                             for i, r in enumerate(pending)])
    )
    staged.write.mode("overwrite").partitionBy(_STAGE_COL).parquet(staging)
    counts = observed.get
    staged_dirs = {_staged_route(d): os.path.join(staging, d)
                   for d in os.listdir(staging)
                   if d.startswith(_STAGE_COL + "=")}
    for i, route_name in enumerate(pending):
        entry = manifest["routes"][route_name]
        n_rows = int(counts[f"n{i}"])
        path = os.path.join(run_dir, "sinks", route_name)
        # a sink left by a commit the manifest never recorded (crash
        # between rename and save) is replaced
        shutil.rmtree(path, ignore_errors=True)
        if route_name in staged_dirs:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            os.rename(staged_dirs[route_name], path)
        elif n_rows:
            raise RuntimeError(f"route {route_name!r}: {n_rows} rows observed "
                               f"but no staged directory")
        else:
            routed.where("false").write.mode("overwrite").parquet(path)
        entry["path"] = path
        entry["n_rows"] = n_rows
        entry["committed"] = True
        save(base, manifest["run_id"], manifest)  # commit point per route
    shutil.rmtree(staging)
    return manifest
