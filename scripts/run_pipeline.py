"""spark-submit driver for the full pipeline.

    scripts/build_pyfiles.sh
    spark-submit --py-files dist/ulp_spark.zip scripts/run_pipeline.py \
        --n 100000 --base /tmp/ulp_runs --run-id run-001 [--resume]

On a cluster the same invocation works with --master yarn/k8s; the package
ships as the zip, the driver script is this file.  Resume (--resume) loads
the manifest and writes only uncommitted routes (S9 semantics).
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
    ap.add_argument("--base", default="/tmp/ulp_runs")
    ap.add_argument("--run-id", default="run-001")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ulp_spark.operators import lattice, lineage, parse
    from ulp_spark.plans import manifest, pipeline
    from ulp_spark.session import get_spark

    spark = get_spark("ulp_spark-pipeline", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    p = pipeline.build(spark, n=args.n, checkpoint="local")
    ok = p.routed.filter(~F.col("parse_error"))
    fields = parse.all_fields(parse.DEFAULT_PATTERNS)

    m = manifest.load(args.base, args.run_id) if args.resume else None
    if m is None:
        schemas = lattice.route_schemas(ok, fields)
        schemas["quarantine"] = {}
        m = manifest.new_manifest(args.run_id, args.n, schemas)
        manifest.save(args.base, args.run_id, m)

    todo = [r for r, e in m["routes"].items() if not e["committed"]]
    m = manifest.resume_fanout(
        p.routed.select("doc_id", "route", "parser", "parse_error"), m, args.base)

    lin = lineage.partition_lineage(
        p.routed, ["doc_id", "route"]).orderBy("partition_id").collect()
    print(json.dumps({
        "run_id": args.run_id,
        "n": args.n,
        "routes_total": len(m["routes"]),
        "routes_written_this_run": len(todo),
        # observed by the fan-out's own write: no extra Spark action
        "rows_written_this_run": sum(m["routes"][r]["n_rows"] for r in todo),
        "quarantined_rows": m["routes"][pipeline.QUARANTINE]["n_rows"],
        "rows_per_route": {r: e["n_rows"] for r, e in sorted(m["routes"].items())},
        "lineage_partitions": len(lin),
        "wall_sec": round(time.perf_counter() - t0, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
