"""spark-submit entry point: checkpointable sketch profile over transcripts.

Cluster form (north_rule: mergeable sketch UDAFs, resumable from checkpoint
with per-partition lineage + metrics, run via spark-submit --py-files):

    zip -r sparkfuse.zip sparkfuse
    spark-submit --py-files sparkfuse.zip \
        --conf spark.python.daemon.module=sparkfuse.daemon \
        --conf spark.executorEnv.PYTHONPATH=sparkfuse.zip \
        jobs/sketch_profile_job.py \
        --input <parquet path | iceberg ident> \
        --sink  <sketch-state parquet path> \
        --key-col conv_id --value-col text_len \
        --shard-bits 6 --resume

Run it from the directory holding sparkfuse.zip. The two ``--conf`` pairs
(from ``sparkfuse.session.spark_conf_pairs``) fork the Python workers from
``sparkfuse.daemon``, which the executor imports from that relative zip
before any task has shipped it; without them the job runs on the stock
daemon and every task re-reads Spark's archive indexes.

Builds HLL + CMS + Bloom + theta + Misra-Gries over the key column and
t-digest + KLL over the value column as per-shard states in the sink; --resume makes a
killed job idempotent (done shards are skipped by anti-join, rebuilt shards
are byte-identical — deterministic kernels), and a re-submit with different
specs/shard layout fails loudly instead of corrupting the sink. The report
line carries the finished estimates plus the per-sketch lineage rollup.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--sink", required=True)
    ap.add_argument("--key-col", default="conv_id")
    ap.add_argument(
        "--value-col",
        default="text_len",
        help="numeric column; 'text_len' derives length(text)",
    )
    ap.add_argument("--shard-bits", type=int, default=6)
    ap.add_argument("--bloom-fpp", type=float, default=0.01)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None, help="override (default: spark-submit's)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    builder = SparkSession.builder.appName(f"sparkfuse-sketch-{args.key_col}")
    if args.master:
        builder = builder.master(args.master)
    spark = builder.config("spark.sql.adaptive.enabled", "true").getOrCreate()

    from sparkfuse.bloom import BloomParams
    from sparkfuse.sketches import MgParams
    from sparkfuse.theta import ThetaParams
    from sparkfuse.sketchsink import (
        SketchSpec,
        build_sketch_states,
        build_sketch_states_resumable,
        finish_sketch_states,
        sketch_sink_metrics,
        write_sketch_states,
    )
    from sparkfuse.sources import load_table

    df = load_table(spark, args.input)
    if args.value_col == "text_len":
        df = df.withColumn("text_len", F.length("text").cast("double"))

    # row count upper-bounds the key cardinality, so the Bloom can only be
    # oversized (fpp <= target); deterministic given the same input, which
    # keeps the resume-time params guard happy
    n_rows = df.count()
    specs = [
        SketchSpec("key_hll", "hll", args.key_col),
        SketchSpec("key_cms", "cms", args.key_col),
        SketchSpec("value_td", "tdigest", args.value_col, quantiles=(0.5, 0.9, 0.99)),
        SketchSpec("value_kll", "kll", args.value_col, quantiles=(0.5, 0.9, 0.99)),
        SketchSpec(
            "key_bloom",
            "bloom",
            args.key_col,
            BloomParams.for_capacity(n_rows, args.bloom_fpp),
        ),
        # set-expression overlap vs other profiled tables, and enumerable
        # heavy-hitter candidates — all seven kinds in the same single pass
        SketchSpec("key_theta", "theta", args.key_col, ThetaParams(k=4096)),
        SketchSpec("key_mg", "mg", args.key_col, MgParams(capacity=4096)),
    ]

    t0 = time.time()
    if args.resume:
        sink = build_sketch_states_resumable(
            df, args.sink, spark, specs, args.shard_bits, args.key_col
        )
    else:
        write_sketch_states(
            build_sketch_states(df, specs, args.shard_bits, args.key_col),
            args.sink,
            mode="overwrite",
        )
        sink = spark.read.parquet(args.sink)

    stats = {
        f"{r['sketch']}.{r['stat']}": r["value"]
        for r in finish_sketch_states(sink, specs).collect()
    }
    lineage = {
        r["sketch"]: {
            "n_shards": r["n_shards"],
            "n_rows": r["n_rows"],
            "n_nulls": r["n_nulls"],
            "state_bytes": r["state_bytes"],
        }
        for r in sketch_sink_metrics(sink).collect()
    }
    print(
        json.dumps(
            {
                "sink": args.sink,
                "key_col": args.key_col,
                "value_col": args.value_col,
                "shard_bits": args.shard_bits,
                "n_input_rows": n_rows,
                "stats": stats,
                "lineage": lineage,
                "wall_seconds": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
