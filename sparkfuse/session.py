"""SparkSession helper with scale-appropriate defaults.

Designed for a multi-executor cluster; in this sandbox it runs local[N] with
the same configs. AQE is on so skewed shuffles re-plan at runtime; Arrow is on
so every pandas UDF crosses the JVM/Python boundary in columnar batches.
Python workers fork from ``sparkfuse.daemon``, so a job submitted with
``spark-submit --py-files sparkfuse.zip`` passes every ``spark_conf_pairs``
pair as ``--conf`` and runs from the directory holding the zip.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def export_repo_pythonpath() -> str:
    """Prepend the repo root to PYTHONPATH (env var) so Spark python workers
    forked by a LATER-created JVM can import sparkfuse from any cwd — the
    local-mode analog of ``spark-submit --py-files``. Returns the repo dir."""
    repo_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_dir not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_dir}{os.pathsep}{existing}" if existing else repo_dir
        )
    return repo_dir


def spark_conf_pairs(
    shuffle_partitions: int,
    shuffle_compress: bool = False,
) -> list[tuple[str, str]]:
    """The session confs this library runs under, as (key, value) pairs —
    shared by ``get_spark`` (in-process sessions) and by spark-submit
    orchestrators (``bench.py --scaling`` passes each pair as ``--conf`` so
    a submitted job reproduces the exact in-process environment).

    arrow.maxBytesPerBatch = Int.MaxValue disables the per-ROW batch-bytes
    check in the mapInArrow/mapInPandas input writer
    (BatchedPythonArrowInput): Int.MaxValue is the writer's documented
    short-circuit, so underBatchSizeLimit never calls
    ArrowWriter.sizeInBytes() — a full vector walk PER INPUT ROW under the
    64m default, and the root cause of the "mapInArrow poisoning"
    (PLANS.md §17): once a cogroup/applyInArrow query pollutes the shared
    JIT call sites, that per-row walk runs ~10x slower for the REST of the
    session (jstack-confirmed: task threads pinned in
    ArrowFieldWriter.getSizeInBytes under underBatchSizeLimit). Batch SIZE
    stays bounded by maxRecordsPerBatch x row width; operators with wide
    binary rows (multimodal) bound partition bytes explicitly, so the 64 MB
    byte cap is redundant here and pure per-row overhead.

    spark.python.daemon.module forks Python workers from
    ``sparkfuse.daemon``, which stops every task from re-reading Spark's
    zip and jar archive indexes (~0.27 s per task on Python < 3.13). The
    daemon starts before any task ships files, so under ``spark-submit
    --py-files sparkfuse.zip`` (no repo on PYTHONPATH) it imports the
    package from the relative ``sparkfuse.zip`` in the executor's working
    directory: the submit directory in local mode, the container directory
    the zip is shipped to on a cluster. In-process sessions import it from
    the repo root (``export_repo_pythonpath``)."""
    b = str(shuffle_compress).lower()
    return [
        ("spark.sql.shuffle.partitions", str(shuffle_partitions)),
        ("spark.shuffle.compress", b),
        ("spark.shuffle.spill.compress", b),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.execution.arrow.maxRecordsPerBatch", "65536"),
        ("spark.sql.execution.arrow.maxBytesPerBatch", str(2**31 - 1)),
        ("spark.driver.memory", os.environ.get("SPARKFUSE_DRIVER_MEM", "8g")),
        ("spark.sql.parquet.filterPushdown", "true"),
        ("spark.python.daemon.module", "sparkfuse.daemon"),
        ("spark.executorEnv.PYTHONPATH", "sparkfuse.zip"),
    ]


def get_spark(
    app_name: str = "sparkfuse",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    shuffle_compress: bool = False,
) -> SparkSession:
    """shuffle_compress defaults OFF: this engine's heavy shuffles carry
    64-bit hash keys and fingerprint blobs — incompressible by construction —
    so lz4 is pure CPU overhead (measured ~30% build slowdown). Pass True
    for pipelines whose dominant shuffles move raw text (e.g. heavy shingle
    joins)."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # must happen before getOrCreate(): workers inherit the JVM's env
    export_repo_pythonpath()
    builder = SparkSession.builder.master(f"local[{cores}]").appName(app_name)
    for k, v in spark_conf_pairs(shuffle_partitions, shuffle_compress):
        builder = builder.config(k, v)
    return builder.getOrCreate()
