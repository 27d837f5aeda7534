"""spark-submit entry point: ONE parallelism level of the scaling ladder.

Cluster form (north_rule: same job at two cluster sizes, run via
spark-submit --py-files):

    zip -r sparkfuse.zip sparkfuse
    spark-submit --master local[8]  --py-files sparkfuse.zip \
        $(for kv in <sparkfuse.session.spark_conf_pairs>; do echo --conf $kv; done) \
        jobs/scaling_level_job.py --cores 8  --out level8.json
    spark-submit --master local[32] --py-files sparkfuse.zip ... \
        jobs/scaling_level_job.py --cores 32 --out level32.json

Both run from the directory holding sparkfuse.zip: the conf pairs fork the
Python workers from ``sparkfuse.daemon``, which the executor imports from
the relative ``spark.executorEnv.PYTHONPATH=sparkfuse.zip`` before any task
has shipped the zip.

On a real cluster, --master local[N] becomes the cluster manager at N and
4N executors; nothing in the measured jobs changes. ``bench.py --scaling``
is the orchestrator that runs both levels and assembles
BENCH/BASELINE.md. Session confs arrive via --conf (mirrored from
``sparkfuse.session.spark_conf_pairs`` by the orchestrator) so the
submitted job reproduces the exact in-process bench environment; --cores
is only recorded in the report (the parallelism itself comes from
--master).
"""

from __future__ import annotations

import argparse
import json


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True,
                    help="parallelism of the submitted master (recorded)")
    ap.add_argument("--out", required=True, help="write the level JSON here")
    ap.add_argument("--master", default=None,
                    help="override (default: spark-submit's --master)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(f"sparkfuse-scale-{args.cores}")
    if args.master:
        builder = builder.master(args.master)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from sparkfuse.scalebench import ScaleConfig, measure_level

    result = measure_level(spark, args.cores, ScaleConfig())
    with open(args.out, "w") as f:
        json.dump(result, f)
    print(json.dumps(result, default=float))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
