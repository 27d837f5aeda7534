"""spark-submit entry point: conversation-level transcript curation.

Cluster form (north_star: the training-data pipeline over transcript
tables, deployed like every other job here):

    python tools/make_pyfiles_zip.py sparkfuse.zip
    spark-submit --py-files sparkfuse.zip \
        --conf spark.python.daemon.module=sparkfuse.daemon \
        --conf spark.executorEnv.PYTHONPATH=sparkfuse.zip \
        jobs/curate_transcripts_job.py \
        --input  <parquet path | iceberg ident> \
        --output <curated turns parquet path> \
        --bench-input <parquet of benchmark rows>  (optional) \
        --bench-text-col text --holdout-fraction 0.1 --ngram 13

Run it from the directory holding sparkfuse.zip. The two ``--conf`` pairs
(from ``sparkfuse.session.spark_conf_pairs``) fork the Python workers from
``sparkfuse.daemon``, which the executor imports from that relative zip
before any task has shipped it; without them the job runs on the stock
daemon and every task re-reads Spark's archive indexes.

Stages (sparkfuse.transcripts.curate_transcripts): exact conversation
dedup by ordered-content digest → whole-conversation n-gram
decontamination vs the benchmark set → content-keyed train/holdout split.
Output is the curated turns plus a ``split`` column, partitioned by split
so downstream training readers prune at the directory level. The report
line carries per-stage row/conversation counts.
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
    ap.add_argument("--bench-input", default=None)
    ap.add_argument("--bench-text-col", default="text")
    ap.add_argument("--holdout-fraction", type=float, default=0.1)
    ap.add_argument("--ngram", type=int, default=13)
    ap.add_argument("--master", default=None, help="override (default: spark-submit's)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    builder = SparkSession.builder.appName("sparkfuse-curate-transcripts")
    if args.master:
        builder = builder.master(args.master)
    spark = builder.config("spark.sql.adaptive.enabled", "true").getOrCreate()

    from sparkfuse.sources import load_table
    from sparkfuse.transcripts import curate_transcripts

    transcripts = load_table(spark, args.input)
    bench_df = (
        load_table(spark, args.bench_input) if args.bench_input else None
    )

    t0 = time.time()
    curated = curate_transcripts(
        transcripts,
        bench_df=bench_df,
        bench_text=args.bench_text_col,
        holdout_fraction=args.holdout_fraction,
        n=args.ngram,
        spark=spark,
    )
    curated.write.mode("overwrite").partitionBy("split").parquet(args.output)
    out = spark.read.parquet(args.output)
    by_split = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    report = {
        "output": args.output,
        "n_input_turns": transcripts.count(),
        "n_input_convs": transcripts.select("conv_id").distinct().count(),
        "n_curated_turns": out.count(),
        "n_curated_convs": out.select("conv_id").distinct().count(),
        "turns_by_split": by_split,
        "decontaminated": bool(args.bench_input),
        "wall_seconds": round(time.time() - t0, 2),
    }
    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
