"""Key extraction, dedup, and skew handling (SURVEY.md §1.3, §2.5).

The reference takes a pre-hashed ``[]uint64`` slice
(/root/reference/xorfilter.go:109, README.md:25-29); at cluster scale the
"caller-side hash" is Spark's built-in ``xxhash64`` (a 64-bit xxhash, same
family the reference tests use via xxhash.Sum64 at
/root/reference/binaryfusefilter_test.go:336-338) — fully JVM-side, so key
extraction never leaves whole-stage codegen.

Dedup notes (the reference's pruneDuplicates analog, xorfilter.go:282-292):
``dropDuplicates`` compiles to a partial (map-side) + final hash aggregate, so
a key repeated a million times on one hot conv_id emits ONCE per map task
before the shuffle — partial aggregation IS the skew-neutralizing step, which
is why dedup-before-build is both correct and cheap at 10^12-turn scale.
``dedup_keys_salted`` additionally demonstrates the explicit two-phase
(salt, unsalt) form for aggregations that lack partial agg.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def extract_keys(df: DataFrame, *cols: str | Column, key_name: str = "key") -> DataFrame:
    """Project a u64 key column (int64 carrier) from one or more columns.

    ``xxhash64`` runs JVM-side inside whole-stage codegen; only the 8-byte key
    crosses into any downstream shuffle — column pruning means a 100 TB text
    table contributes just its key bytes past the scan.
    """
    return df.select(F.xxhash64(*cols).alias(key_name))


def with_key(df: DataFrame, *cols: str | Column, key_name: str = "key") -> DataFrame:
    """Append the key column, keeping payload columns."""
    return df.withColumn(key_name, F.xxhash64(*cols))


def dedup_keys(keys_df: DataFrame, key_name: str = "key") -> DataFrame:
    """Distinct keys via partial+final hash aggregate (skew-safe, one shuffle)."""
    return keys_df.select(key_name).dropDuplicates([key_name])


def approx_distinct_keys(keys_df: DataFrame, key_name: str = "key") -> int:
    """HLL++ ``approx_count_distinct(key_name)`` over ``keys_df`` in ONE Spark
    job: the estimate is an ``Observation`` on a ``noop`` write of the key
    column. ``agg(approx_count_distinct).first()`` reads the same estimate in
    two AQE jobs (the partial-aggregate stage, then the final aggregate);
    HLL registers merge by register-max in any order, so the observed
    accumulator merge returns the identical value (0 for an empty frame).
    A failing input raises from the write, before the metric is read."""
    obs = Observation()
    (keys_df.select(key_name)
     .observe(obs, F.approx_count_distinct(key_name).alias("n"))
     .write.format("noop").mode("overwrite").save())
    return obs.get["n"]


def dedup_keys_salted(
    keys_df: DataFrame, key_name: str = "key", salt_buckets: int = 64
) -> DataFrame:
    """Explicit two-phase dedup: dedup within (key, salt), then across.

    Equivalent result to ``dedup_keys``; spelled out for operators where the
    engine cannot partial-aggregate (north_star requires explicit salting on
    hot conv_ids). Salt is derived from the partition-local row, so one hot
    key fans out over ``salt_buckets`` reducers in phase 1.
    """
    salted = keys_df.select(
        key_name, (F.spark_partition_id() % salt_buckets).alias("_salt")
    )
    phase1 = salted.dropDuplicates([key_name, "_salt"])
    return phase1.select(key_name).dropDuplicates([key_name])


def shard_column(key: str | Column, shard_bits: int, route: str = "xxh64") -> Column:
    """Shard id = top ``shard_bits`` bits of the routing hash of the key.

    Same top-bits scheme as the reference's segment assignment during its
    in-core counting sort (/root/reference/binaryfusefilter.go:152-161) —
    there it is a cache-locality sort; here it is the distributed partitioner
    (SURVEY.md §4: the one reference optimization that is a distribution
    strategy in disguise).

    route='xxh64' (default) rehashes with the JVM-side ``xxhash64`` so even
    adversarially non-uniform keys (sequential ids) shard evenly; probe-side
    routing mirrors it bit-exactly in numpy (``sparkfuse.hashing.xxh64_u64``).
    route='raw' uses the key's own top bits — valid only for keys that are
    already hash outputs.
    """
    col = F.col(key) if isinstance(key, str) else key
    if shard_bits <= 0:
        return F.lit(0).cast("long")
    if route == "xxh64":
        col = F.xxhash64(col)
    elif route != "raw":
        raise ValueError(f"unknown shard route {route!r}")
    return F.shiftrightunsigned(col, 64 - shard_bits)


def fan_out_small(df: DataFrame, per_core_bytes: int = 8 << 20) -> DataFrame:
    """Round-robin repartition a SMALL input to the session's default
    parallelism, so expansion-heavy operators (13-gram explode, per-doc
    fingerprints, codec decode) are not serialized on a one-file scan —
    parquet splits at row-group granularity, so a single-row-group file
    can never occupy more than one task no matter how split configs are
    tuned, and everything pipelined above that scan (explode, hash,
    probe UDFs) inherits its 1-2-way parallelism.

    Scale-adaptive by construction: the decision reads the ANALYZED
    plan's size estimate (no job runs, and no optimizer fixpoint — the
    optimized plan's stats cost 120-250 ms per call on a 64-aggregate
    tree vs ~6 ms analyzed, and bench rows time DataFrame construction
    too). Inputs estimated past ``per_core_bytes`` per core are returned
    untouched — at corpus scale the scan already has >= cores splits and
    an extra exchange would shuffle the whole table for nothing; when
    statistics are missing or unparseable the input is likewise returned
    untouched (erring toward no added shuffle).
    """
    try:
        spark = df.sparkSession
        cores = spark.sparkContext.defaultParallelism
        est = int(
            str(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
        )
    except Exception:
        return df
    if est >= per_core_bytes * cores:
        return df
    return df.repartition(cores)


def cap_group_size(df: DataFrame, cols: list[str], max_size: int) -> DataFrame:
    """Drop every row belonging to a group (over ``cols``) larger than
    ``max_size`` — the hot-bucket guard shared by the LSH candidate
    generators (a bucket of d members emits d(d-1)/2 candidate pairs).
    One window pass over the input; no re-evaluation of the (often
    expensive) lineage that produced it."""
    from pyspark.sql.window import Window

    if "_grp_n" in df.columns:
        raise ValueError("input already has a '_grp_n' column (reserved)")
    w = Window.partitionBy(*cols)
    return (
        df.withColumn("_grp_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_grp_n") <= max_size)
        .drop("_grp_n")
    )
