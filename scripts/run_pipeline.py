"""spark-submit driver for the full pipeline.

    scripts/build_pyfiles.sh
    spark-submit --py-files dist/ulp_spark.zip scripts/run_pipeline.py \
        --n 100000 --base /tmp/ulp_runs --run-id run-001 [--resume]
    spark-submit --py-files dist/ulp_spark.zip scripts/run_pipeline.py \
        --input '/data/logs/*' --base /tmp/ulp_runs --run-id run-002

On a cluster the same invocation works with --master yarn/k8s; the package
ships as the zip, the driver script is this file.  Resume (--resume) loads
the manifest and writes only uncommitted routes (S9 semantics).

Input is the fixture corpus of --n sequences, or with --input the files a
glob matches (ulp's ``Job::from_glob`` + magic-byte detection): the
``kv_log`` files are parsed, and every file of another or an unknown
format is listed by format under ``skipped_files``.  The printed totals
are the job status (ulp's ``GET /job``) read back from the manifest, which
also records the run's per-partition lineage (rows, bytes, digest).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# Runnable directly (python scripts/run_pipeline.py) as well as via
# spark-submit --py-files: put the repo root on the path.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=10_000)
    ap.add_argument("--input", default=None,
                    help="glob of input files (replaces the --n fixture)")
    ap.add_argument("--base", default="/tmp/ulp_runs")
    ap.add_argument("--run-id", default="run-001")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ulp_spark.operators import lattice, lineage, parse
    from ulp_spark.plans import manifest, pipeline
    from ulp_spark.session import get_spark
    from ulp_spark.sources import registry

    spark = get_spark("ulp_spark-pipeline", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    if args.input is None:
        n, skipped, lines = args.n, None, None
    else:
        plan = registry.plan_scan(args.input)
        n, lines = None, registry.read_lines(spark, plan)
        skipped = {f: paths for f, paths in plan.items() if f != "kv_log"}
    p = pipeline.build(spark, n=args.n, lines_df=lines, checkpoint="local")
    ok = p.routed.filter(~F.col("parse_error"))
    fields = parse.all_fields(parse.DEFAULT_PATTERNS)

    m = manifest.load(args.base, args.run_id) if args.resume else None
    if m is None:
        schemas = lattice.route_schemas(ok, fields)
        schemas["quarantine"] = {}
        m = manifest.new_manifest(args.run_id, n, schemas)
        manifest.save(args.base, args.run_id, m)

    todo = [r for r, e in m["routes"].items() if not e["committed"]]
    m = manifest.resume_fanout(
        p.routed.select("doc_id", "route", "parser", "parse_error"), m, args.base)
    if "lineage" not in m:
        # ulp's per-file lineage (src/type_map.rs:111-155), per partition of
        # the seam: recorded once, so a rerun of a finished run skips the job
        m["lineage"] = [r.asDict() for r in lineage.partition_lineage(
            p.routed.select("doc_id", "route")).orderBy("partition_id")
            .collect()]
        manifest.save(args.base, args.run_id, m)
    status = manifest.job_status(args.base, args.run_id)

    print(json.dumps({
        "run_id": args.run_id,
        "n": n,
        "skipped_files": skipped,
        "routes_written_this_run": len(todo),
        # row counts observed by the fan-out's own write: no extra action
        "status": status["summary"],
        "quarantined_rows": status["routes"][pipeline.QUARANTINE]["n_rows"],
        "rows_per_route": {r: e["n_rows"]
                           for r, e in sorted(status["routes"].items())},
        "lineage_partitions": len(status["lineage"]),
        "wall_sec": round(time.perf_counter() - t0, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
