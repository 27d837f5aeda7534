"""spark-submit entry point: build a transcript membership forest.

Cluster form (north_rule):

    zip -r sparkfuse.zip sparkfuse
    spark-submit --py-files sparkfuse.zip \
        --conf spark.python.daemon.module=sparkfuse.daemon \
        --conf spark.executorEnv.PYTHONPATH=sparkfuse.zip \
        jobs/build_forest_job.py \
        --input  <parquet path | iceberg ident> \
        --output <forest parquet path> \
        --spec text --kind fuse --width 8 --shard-bits 9 --resume

Run it from the directory holding sparkfuse.zip. The two ``--conf`` pairs
(from ``sparkfuse.session.spark_conf_pairs``) fork the Python workers from
``sparkfuse.daemon``, which the executor imports from that relative zip
before any task has shipped it; without them the job runs on the stock
daemon and every task re-reads Spark's archive indexes.

In this sandbox the same job runs with master local[N]. --resume makes the
job idempotent mid-build: already-persisted shards are skipped by anti-join
and rebuilt shards are byte-identical (deterministic seeds), so a killed
job re-submitted with the same arguments completes the same forest.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--spec", default="text", help="conv|text|turn|turn_text")
    ap.add_argument("--kind", default="fuse", choices=["fuse", "xor"])
    ap.add_argument("--width", type=int, default=8)
    ap.add_argument("--shard-bits", type=int, default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None, help="override (default: spark-submit's)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(f"sparkfuse-build-{args.spec}")
    if args.master:
        builder = builder.master(args.master)
    spark = builder.config("spark.sql.adaptive.enabled", "true").getOrCreate()

    from sparkfuse.forest import build_forest, build_forest_resumable, write_forest
    from sparkfuse.keys import dedup_keys
    from sparkfuse.sources import load_table
    from sparkfuse.transcripts import transcript_key

    df = load_table(spark, args.input)
    keys = dedup_keys(df.select(transcript_key(args.spec).alias("key")))

    shard_bits = args.shard_bits
    if shard_bits is None and args.resume:
        raise SystemExit("--resume requires explicit --shard-bits (stable layout)")

    t0 = time.time()
    if args.resume:
        forest = build_forest_resumable(
            keys, args.output, spark,
            kind=args.kind, width=args.width, shard_bits=shard_bits,
        )
    else:
        forest_df = build_forest(
            keys, kind=args.kind, width=args.width, shard_bits=shard_bits
        )
        write_forest(forest_df, args.output, mode="overwrite")
        forest = spark.read.parquet(args.output)
    stats = forest.groupBy().agg(
        {"nkeys": "sum", "iterations": "max", "bits_per_entry": "avg"}
    ).first()
    print(json.dumps({
        "forest": args.output,
        "spec": args.spec,
        "kind": args.kind,
        "width": args.width,
        "n_shards": forest.count(),
        "n_keys": stats["sum(nkeys)"],
        "max_iterations": stats["max(iterations)"],
        "avg_bits_per_entry": round(stats["avg(bits_per_entry)"], 3),
        "wall_seconds": round(time.time() - t0, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
