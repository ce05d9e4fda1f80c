"""S9 — run manifest + resumable fan-out (the reference's ``mappings.json``).

Reference: a completed job (paths, per-route type maps, per-file lineage)
serializes to ``{dir}/{job_id}/mappings.json`` (``src/workerpool.rs:200-228``)
and the ingest phase re-hydrates from it (``src/workerpool.rs:84-101``) —
manifest-based re-entry is ulp's actual resume semantic.

Here the manifest records, per run: fixture size, route list, per-route
schemas (type codes), per-route row counts, per-route sink paths and
commit state.  ``resume_fanout`` skips routes already committed (their
parquet written + recorded) — re-running a half-finished job writes only
the missing routes, and the content digest proves no dup/loss.  On a real
deployment the commit token is the Iceberg snapshot id; directory-level
parquet commits (_SUCCESS) model the same idempotency here.

No wall-clock in the manifest body (determinism); the run id is caller-
supplied (the reference's UUIDv4 job ids are nondeterministic — documented
deviation SURVEY §2 P11).
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ulp_spark.session import seam


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
    whose id is the resume/rollback token; BASELINE.md substitution
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


def rollback(base: str, run_id: str, snapshot_id: int) -> dict[str, Any]:
    """Restore the manifest's route commit-state to ``snapshot_id`` (the
    Iceberg ``rollback_to_snapshot`` analog, metadata level: routes
    committed after that snapshot flip back to pending, so the next
    ``resume_fanout`` rewrites exactly those sinks — idempotent
    overwrite commits make the data catch up with the metadata).  The
    rollback itself is a new snapshot (history is append-only, like
    Iceberg's lineage).  Raises KeyError for an unknown snapshot."""
    m = load(base, run_id)
    if m is None:
        raise KeyError(f"no manifest for run {run_id!r}")
    hist = m.get("history", [])
    match = [h for h in hist if h["snapshot_id"] == snapshot_id]
    if not match:
        raise KeyError(f"snapshot {snapshot_id} not in history "
                       f"(have {[h['snapshot_id'] for h in hist]})")
    keep = set(match[0]["committed"])
    for r, e in m["routes"].items():
        if r not in keep and e.get("committed"):
            e["committed"] = False
            e["n_rows"] = None
    save(base, run_id, m)
    return m


def new_manifest(run_id: str, n: int, route_schemas: dict[str, dict[str, int]]
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


def delete_job(base: str, run_id: str, remove_sinks: bool = False) -> bool:
    """``DELETE /job`` analog (reference ``src/api.rs:98-107``: clears the
    in-memory job record, leaving prior outputs on disk).  Removes the
    manifest only; ``remove_sinks=True`` additionally removes the whole
    run directory (sink parquet included) — an explicit extension, not
    reference behavior.  Returns True if a manifest was deleted."""
    import shutil

    p = manifest_path(base, run_id)
    existed = os.path.exists(p)
    if remove_sinks:
        shutil.rmtree(os.path.join(base, run_id), ignore_errors=True)
    elif existed:
        os.remove(p)
    return existed


def resume_fanout(
    routed: DataFrame,
    manifest: dict[str, Any],
    base: str,
    route_col: str = "route",
) -> dict[str, Any]:
    """Write every uncommitted route's partition; returns updated manifest.

    Deterministic sorted route order (reference BTreeMap iteration,
    ``src/workerpool.rs:104``); each route commits independently, so a
    crash between routes resumes exactly where it stopped.

    Row counts for ALL pending routes come from ONE aggregate action up
    front (map-side-combined ``groupBy(route).count()``), not a
    ``part.count()`` per route — the per-route recount doubled the scan
    count (2R actions for R routes) at any scale.  The write itself is the
    only per-route action left; with many routes prefer the single-pass
    ``fanout.write_partitioned`` and use this loop for small R / resume.
    """
    run_dir = os.path.join(base, manifest["run_id"])
    pending = [r for r in sorted(manifest["routes"])
               if not manifest["routes"][r]["committed"]]
    if not pending:
        return manifest
    # S5 seam, REQUIRED for an unmaterialized `routed`: each route's
    # `filter(route == r)` would otherwise push the predicate down THROUGH
    # the route derivation, re-inlining the entire parse/sniff/template
    # tree into the filter condition — measured: whole-stage codegen grew
    # past Janino's 64 KB method limit (1700+ references), and every route
    # write spent ~100 s attempting and failing compilation before falling
    # back to interpreted mode.  Freezing the lineage once makes each write
    # a scan + tiny filter — and is the reference's own architecture (the
    # ingest phase reads the materialized NDJSON, never re-parses;
    # src/elastic.rs:83).
    routed = seam(routed, eager=True)
    counts = {
        r[route_col]: r["n_rows"]
        for r in routed.filter(F.col(route_col).isin(pending))
        .groupBy(route_col).agg(F.count(F.lit(1)).alias("n_rows")).collect()
    }
    for route in pending:
        entry = manifest["routes"][route]
        path = os.path.join(run_dir, "sinks", route)
        part = routed.filter(F.col(route_col) == route)
        part.write.mode("overwrite").parquet(path)
        entry["path"] = path
        entry["n_rows"] = int(counts.get(route, 0))
        entry["committed"] = True
        save(base, manifest["run_id"], manifest)  # commit point per route
    return manifest
