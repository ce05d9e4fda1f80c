"""spark-submit driver for the training-data pipeline (the token side of
the engine, as scripts/run_pipeline.py is for the parse side):

    scripts/build_pyfiles.sh
    spark-submit --py-files dist/ulp_spark.zip scripts/run_training_data.py \
        --n 100000 --out /tmp/ulp_training [--shard-tokens 262144]

Chain: deterministic pre-tokenized corpus (fixtures.sequences: doc_id,
tokens, n_tok, source) -> exact sequence dedup on token fingerprints
(tokens.sequence_exact_dedup: the min doc_id survives) -> the survivors'
own rows -> temperature mixing plan over them (printed) -> the same
rows, token arrays included, written as shard-partitioned parquet via
sharding.write_shards (manifest
aggregated from the in-hand frame) -> data-loader resume position for a
sample checkpoint.  The last line reports the manifest's token total.  Every stage is the same code
the oracle-gated queries run; this script exists so the whole chain is
exercisable under spark-submit on a real cluster.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=10_000)
    ap.add_argument("--out", default="/tmp/ulp_training")
    ap.add_argument("--shard-tokens", type=int, default=1 << 18)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ulp_spark import fixtures
    from ulp_spark.operators import sharding, tokens
    from ulp_spark.session import get_spark, seam

    spark = get_spark("ulp_spark-training-data", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    seq = fixtures.sequences(spark, args.n)

    surv = seam(tokens.sequence_exact_dedup(seq, "tokens", "doc_id"))
    n_in, n_surv = seq.count(), surv.count()
    # each survivor's own row: its tokens are credited to its own source
    rows = seq.select("doc_id", "tokens", "n_tok", "source") \
        .join(surv.select("doc_id"), "doc_id", "left_semi")

    plan = tokens.source_mixing_plan(rows, budget=args.n * 200)
    print("mixing plan:")
    for r in plan.collect():
        print(f"  {r.source}: n_tokens={r.n_tokens} "
              f"epochs={r.n_epochs} tail={r.tail_frac}")

    manifest = sharding.write_shards(
        rows, f"{args.out}/shards", shard_tokens=args.shard_tokens)
    n_shards, n_tokens = manifest.agg(
        F.count(F.lit(1)), F.sum("n_tokens")).collect()[0]
    pos = sharding.resume_position(manifest, global_step=100, batch_size=32)
    print("resume position @step 100:", [tuple(r) for r in pos.collect()])

    wall = time.perf_counter() - t0
    print(f"rows in={n_in} survivors={n_surv} shards={n_shards} "
          f"tokens={n_tokens} wall={wall:.1f}s out={args.out}/shards")
    spark.stop()


if __name__ == "__main__":
    main()
