"""The probe module's public surface and the behaviour every placement shares:
signatures, refusal of epoch-appended sinks, and output/helper columns."""

import inspect

import pytest
from pyspark.sql import functions as F

import sparkfuse.probe as probe
from sparkfuse.forest import Forest, build_forest, write_forest
from sparkfuse.probe import approx_contains_epoch_sink, exact_member_forest, probe_forest
from sparkfuse.streaming import forest_append_batch

SIGNATURES = {
    "approx_contains_udf": "(forest: 'Forest', spark=None)",
    "approx_contains": "(df: 'DataFrame', key: 'str | Column', forest: 'Forest', spark=None, out: 'str' = 'maybe_member') -> 'DataFrame'",
    "approx_contains_arrow": "(df: 'DataFrame', key: 'str', forest: 'Forest', spark, out: 'str' = 'maybe_member') -> 'DataFrame'",
    "approx_contains_sink": "(df: 'DataFrame', key: 'str | Column', sink_path: 'str', out: 'str' = 'maybe_member') -> 'DataFrame'",
    "approx_contains_epoch_sink": "(df: 'DataFrame', key: 'str | Column', sink_path: 'str', shard_bits: 'int', out: 'str' = 'maybe_member', replication_budget: 'int | None' = None) -> 'DataFrame'",
    "approx_contains_routed": "(probe_df: 'DataFrame', key: 'str', forest_df: 'DataFrame', out: 'str' = 'maybe_member') -> 'DataFrame'",
    "approx_contains_routed_sink": "(probe_df: 'DataFrame', key: 'str', sink_path: 'str', spark: 'SparkSession', out: 'str' = 'maybe_member') -> 'DataFrame'",
    "exact_member_semi_join": "(probe_df: 'DataFrame', probe_key: 'str', build_df: 'DataFrame', build_key: 'str', forest: 'Forest', spark=None) -> 'DataFrame'",
    "exact_anti_join": "(probe_df: 'DataFrame', probe_key: 'str', build_df: 'DataFrame', build_key: 'str', forest: 'Forest', spark=None) -> 'DataFrame'",
    "exact_member_routed": "(probe_df: 'DataFrame', probe_key: 'str', build_df: 'DataFrame', build_key: 'str', forest_df: 'DataFrame') -> 'DataFrame'",
    "probe_forest": "(probe_df: 'DataFrame', key: 'str', forest_df: 'DataFrame', spark: 'SparkSession | None' = None, out: 'str' = 'maybe_member', broadcast_threshold: 'int | None' = None, replication_budget: 'int | None' = None, sink_path: 'str | None' = None) -> 'DataFrame'",
    "exact_member_forest": "(probe_df: 'DataFrame', probe_key: 'str', build_df: 'DataFrame', build_key: 'str', forest_df: 'DataFrame', spark: 'SparkSession | None' = None, sink_path: 'str | None' = None, broadcast_threshold: 'int | None' = None, replication_budget: 'int | None' = None) -> 'DataFrame'",
    "forest_payload_bytes": "(forest_df: 'DataFrame') -> 'int'",
    "verify_sample": "(probe_df: 'DataFrame', probe_key: 'str', build_df: 'DataFrame', build_key: 'str', forest: 'Forest', spark=None, fraction: 'float' = 0.1, seed: 'int' = 42) -> 'dict'",
}

# planner arguments per regime, given the sink path
REGIMES = {
    "broadcast": lambda sink: dict(sink_path=sink),
    "hybrid": lambda sink: dict(
        broadcast_threshold=1, replication_budget=1 << 40, sink_path=sink
    ),
    "routed_sink": lambda sink: dict(
        broadcast_threshold=1, replication_budget=1, sink_path=sink
    ),
    "cogroup": lambda sink: dict(broadcast_threshold=1, replication_budget=1),
}


def test_public_probe_signatures():
    public = sorted(
        name for name, value in vars(probe).items()
        if callable(value) and not name.startswith("_")
        and getattr(value, "__module__", None) == "sparkfuse.probe"
    )
    assert public == sorted(SIGNATURES)
    for name, want in SIGNATURES.items():
        assert str(inspect.signature(getattr(probe, name))) == want, name


def _keys(spark, n, seed=1):
    return spark.range(n).select(F.xxhash64(F.col("id") + F.lit(seed)).alias("key"))


@pytest.mark.parametrize("shard_bits", [0, 2])
@pytest.mark.parametrize("regime", list(REGIMES))
def test_epoch_sink_refused_by_every_forest_placement(spark, tmp_path, regime, shard_bits):
    """Epoch rows carry shard = epoch * 2^shard_bits + shard. Read as one
    forest, the second epoch's keys would probe against the wrong filter
    or none: every placement must refuse the sink by name instead."""
    sink = str(tmp_path / "epochs")
    src = spark.range(6_000).select(F.col("id").alias("k"))
    forest_append_batch(src.filter("k < 3000"), 0, sink, ["k"], shard_bits=shard_bits)
    forest_append_batch(src.filter("k >= 3000"), 1, sink, ["k"], shard_bits=shard_bits)
    keys = src.select(F.xxhash64("k").alias("key"))
    forest_df = spark.read.parquet(sink)
    with pytest.raises(Exception, match="approx_contains_epoch_sink"):
        probe_forest(keys, "key", forest_df, spark, **REGIMES[regime](sink)).collect()
    if regime == "broadcast":
        with pytest.raises(ValueError, match="epoch-appended"):
            Forest([r.asDict() for r in forest_df.collect()])
        # the epoch probe still reads the same sink, zero false negatives
        epochs = approx_contains_epoch_sink(keys, "key", sink, shard_bits)
        assert epochs.filter(F.col("maybe_member")).count() == 6_000


@pytest.mark.parametrize("entry", ["probe_forest", "exact_member_forest"])
@pytest.mark.parametrize("regime", list(REGIMES))
def test_every_regime_treats_columns_alike(spark, tmp_path, regime, entry):
    keys = _keys(spark, 5_000)
    sink = str(tmp_path / "forest")
    write_forest(build_forest(keys, shard_bits=1), sink)
    forest_df = spark.read.parquet(sink)
    kw = REGIMES[regime](sink)
    if entry == "probe_forest":
        # an output column that already exists is refused, never replaced
        taken = keys.withColumn("maybe_member", F.lit(True))
        with pytest.raises(ValueError, match="already exists"):
            probe_forest(taken, "key", forest_df, spark, **kw)
        return
    # a user column is kept whatever its name, the helper's name is reserved
    probes = keys.withColumn("_maybe", F.lit(7))
    got = exact_member_forest(probes, "key", keys, "key", forest_df, spark, **kw)
    assert got.columns == ["key", "_maybe"]
    assert got.filter(F.col("_maybe") == 7).count() == 5_000
    reserved = keys.withColumn("_sf_maybe", F.lit(7))
    with pytest.raises(ValueError, match="_sf_maybe"):
        exact_member_forest(reserved, "key", keys, "key", forest_df, spark, **kw)
