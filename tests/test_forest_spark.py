"""Distributed forest build/probe/resume tests (SURVEY.md §5 distributed layers)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkfuse.forest import Forest, build_forest, build_forest_resumable, write_forest
from sparkfuse.keys import dedup_keys, dedup_keys_salted, extract_keys
from sparkfuse.probe import (
    approx_contains,
    approx_contains_routed,
    approx_contains_sink,
    exact_anti_join,
    exact_member_routed,
    exact_member_semi_join,
    forest_payload_bytes,
    probe_forest,
    verify_sample,
)
from sparkfuse.synth import synth_transcripts


def _keys_df(spark, n, seed=1):
    return spark.range(n).select(
        F.xxhash64(F.col("id") + F.lit(seed)).alias("key")
    )


# ---------------------------------------------------------------------------
# end-to-end build + probe
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("kind,width", [("fuse", 8), ("fuse", 16), ("xor", 8)])
def test_forest_zero_false_negatives(spark, kind, width):
    keys = _keys_df(spark, 20_000)
    forest = Forest.from_df(build_forest(keys, kind=kind, width=width, shard_bits=0))
    arr = np.array([r["key"] for r in keys.collect()], dtype=np.int64)
    assert forest.contains_np(arr).all()


def test_sharded_forest_routing(spark):
    keys = _keys_df(spark, 50_000)
    forest = Forest.from_df(build_forest(keys, kind="fuse", width=8, shard_bits=4))
    assert len(forest.filters) == 16  # all 16 shards materialized
    arr = np.array([r["key"] for r in keys.collect()], dtype=np.int64)
    assert forest.contains_np(arr).all()
    # non-members mostly rejected
    other = np.arange(10**6, 10**6 + 20_000, dtype=np.int64)
    fpp = forest.contains_np(other).mean()
    assert fpp < 0.01


def test_sharding_even_with_sequential_keys(spark):
    # raw sequential keys would all land in shard 0; xxh64 routing spreads them
    keys = spark.range(40_000).select(F.col("id").alias("key"))
    forest = Forest.from_df(build_forest(keys, shard_bits=3))
    assert len(forest.filters) == 8
    counts = [f.fingerprints.nbytes for f in forest.filters.values()]
    assert max(counts) < 2 * min(counts)  # roughly even shards
    arr = np.arange(40_000, dtype=np.int64)
    assert forest.contains_np(arr).all()


def test_probe_udf_column(spark):
    keys = _keys_df(spark, 5_000)
    forest = Forest.from_df(build_forest(keys, shard_bits=1))
    flagged = approx_contains(keys, "key", forest, spark)
    assert flagged.filter(~F.col("maybe_member")).count() == 0


# ---------------------------------------------------------------------------
# exact modes vs plain SQL joins (oracle contract backbone)
# ---------------------------------------------------------------------------

def test_exact_semi_join_matches_plain_join(spark, sf_dir):
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    forest = Forest.from_df(
        build_forest(orders.select(F.col("o_custkey").alias("key")), shard_bits=0)
    )
    got = exact_member_semi_join(
        customer, "c_custkey", orders, "o_custkey", forest, spark
    )
    want = customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")).dropDuplicates(),
        "c_custkey",
        "left_semi",
    )
    assert sorted(r["c_custkey"] for r in got.collect()) == sorted(
        r["c_custkey"] for r in want.collect()
    )


def test_exact_anti_join_matches_plain_join(spark, sf_dir):
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    forest = Forest.from_df(
        build_forest(orders.select(F.col("o_custkey").alias("key")), shard_bits=0)
    )
    got = exact_anti_join(customer, "c_custkey", orders, "o_custkey", forest, spark)
    want = customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")).dropDuplicates(),
        "c_custkey",
        "left_anti",
    )
    assert sorted(r["c_custkey"] for r in got.collect()) == sorted(
        r["c_custkey"] for r in want.collect()
    )


def test_verify_sample_zero_false_negatives(spark, sf_dir):
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    forest = Forest.from_df(
        build_forest(orders.select(F.col("o_custkey").alias("key")), shard_bits=0)
    )
    stats = verify_sample(
        customer, "c_custkey", orders, "o_custkey", forest, spark, fraction=1.0
    )
    assert stats["false_negatives"] == 0


# ---------------------------------------------------------------------------
# routed probe (big-forest path: no driver collect, no broadcast)
# ---------------------------------------------------------------------------

def test_routed_probe_equals_broadcast(spark):
    """approx_contains_routed must match Forest.contains_np verdict-for-verdict
    — including false positives — on a multi-shard forest."""
    keys = _keys_df(spark, 30_000)
    forest_df = build_forest(keys, shard_bits=3).cache()
    forest = Forest.from_df(forest_df)
    probes = _keys_df(spark, 20_000).unionByName(_keys_df(spark, 20_000, seed=999))
    routed = {
        r["key"]: r["m"]
        for r in approx_contains_routed(probes, "key", forest_df, out="m").collect()
    }
    bc = {
        r["key"]: r["m"]
        for r in approx_contains(probes, "key", forest, spark, out="m").collect()
    }
    assert routed == bc
    forest_df.unpersist()


def test_routed_probe_partial_forest_missing_shards(spark):
    # shards absent from the forest probe as False on both paths
    keys = _keys_df(spark, 20_000)
    partial_df = build_forest(keys, shard_bits=2).filter(F.col("shard") < 2).cache()
    forest = Forest.from_df(partial_df)
    routed = {
        r["key"]: r["m"]
        for r in approx_contains_routed(keys, "key", partial_df, out="m").collect()
    }
    bc = {
        r["key"]: r["m"]
        for r in approx_contains(keys, "key", forest, spark, out="m").collect()
    }
    assert routed == bc
    assert not all(routed.values())  # the missing shards really probe False
    assert any(routed.values())
    partial_df.unpersist()


def test_routed_probe_non_fuse8_kinds(spark, tmp_path):
    # the routed kernels load (kind, width, arity) from forest metadata;
    # prove the non-default branches (xor, wide fuse) route correctly, for
    # the cogroup and the routed-sink probe, false positives included
    from sparkfuse.probe import approx_contains_routed_sink

    for kind, width, arity in [("xor", 16, 3), ("fuse", 16, 3), ("fuse", 8, 4)]:
        keys = _keys_df(spark, 15_000, seed=width)
        forest_df = build_forest(
            keys, kind=kind, width=width, arity=arity, shard_bits=2
        ).cache()
        forest = Forest.from_df(forest_df)
        sink = str(tmp_path / f"{kind}{width}_{arity}")
        write_forest(forest_df, sink)
        probes = keys.unionByName(_keys_df(spark, 5_000, seed=4321))
        routed = {
            r["key"]: r["m"]
            for r in approx_contains_routed(probes, "key", forest_df, out="m").collect()
        }
        routed_sink = {
            r["key"]: r["m"]
            for r in approx_contains_routed_sink(
                probes, "key", sink, spark, out="m"
            ).collect()
        }
        bc = {
            r["key"]: r["m"]
            for r in approx_contains(probes, "key", forest, spark, out="m").collect()
        }
        assert routed == bc, (kind, width, arity)
        assert routed_sink == bc, (kind, width, arity)
        forest_df.unpersist()


def test_routed_probe_keeps_payload_columns(spark):
    keys = _keys_df(spark, 5_000).withColumn("tag", F.col("key") % 7)
    forest_df = build_forest(keys.select("key"), shard_bits=1)
    got = approx_contains_routed(keys, "key", forest_df, out="m")
    assert set(got.columns) == {"key", "tag", "m"}
    assert got.filter(~F.col("m")).count() == 0  # zero FN carries over


def test_exact_member_routed_matches_plain_join(spark, sf_dir):
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    forest_df = build_forest(
        orders.select(F.col("o_custkey").alias("key")), shard_bits=2
    )
    got = exact_member_routed(customer, "c_custkey", orders, "o_custkey", forest_df)
    want = customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")).dropDuplicates(),
        "c_custkey",
        "left_semi",
    )
    assert sorted(r["c_custkey"] for r in got.collect()) == sorted(
        r["c_custkey"] for r in want.collect()
    )


def test_arrow_probe_equals_pandas_udf(spark):
    from sparkfuse.probe import approx_contains_arrow

    keys = _keys_df(spark, 20_000)
    forest = Forest.from_df(build_forest(keys, shard_bits=2))
    probes = keys.unionByName(_keys_df(spark, 20_000, seed=77))
    a = {r["key"]: r["m"]
         for r in approx_contains_arrow(probes, "key", forest, spark, out="m").collect()}
    b = {r["key"]: r["m"]
         for r in approx_contains(probes, "key", forest, spark, out="m").collect()}
    assert a == b  # verdict-identical incl. false positives


def test_probe_forest_planner_picks_paths(spark):
    keys = _keys_df(spark, 10_000)
    forest_df = build_forest(keys, shard_bits=1).cache()
    nbytes = forest_payload_bytes(forest_df)
    assert nbytes > 0
    # tiny threshold → routed; huge threshold → broadcast; both exact-equal
    routed = probe_forest(
        keys, "key", forest_df, spark, broadcast_threshold=1, replication_budget=1
    )
    bc = probe_forest(
        keys, "key", forest_df, spark, broadcast_threshold=nbytes + 1
    )
    r = {x["key"]: x["maybe_member"] for x in routed.collect()}
    b = {x["key"]: x["maybe_member"] for x in bc.collect()}
    assert r == b and all(r.values())
    forest_df.unpersist()


def _plan_of(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_probe_forest_planner_three_regimes(spark, tmp_path):
    keys = _keys_df(spark, 10_000)
    sink = str(tmp_path / "forest")
    write_forest(build_forest(keys, shard_bits=1), sink, mode="overwrite")
    forest_df = spark.read.parquet(sink)
    nbytes = forest_payload_bytes(forest_df)

    # regime 1: fits the broadcast threshold → driver-broadcast probe; a
    # keys-only frame takes the mapInArrow fast path (session conf
    # short-circuits the per-row size check — PLANS.md §17), a wide frame
    # the pandas_udf column form
    bc = probe_forest(keys, "key", forest_df, spark, broadcast_threshold=nbytes + 1)
    assert "MapInArrow" in _plan_of(bc) and "probe_sink" not in _plan_of(bc)
    bc_wide = probe_forest(
        keys.withColumn("extra", F.lit(1)), "key", forest_df, spark,
        broadcast_threshold=nbytes + 1,
    )
    assert "probe(" in _plan_of(bc_wide) and "MapInArrow" not in _plan_of(bc_wide)
    # regime 2: past broadcast, within replication budget, sink known → hybrid
    hy = probe_forest(
        keys, "key", forest_df, spark,
        broadcast_threshold=1, replication_budget=nbytes + 1, sink_path=sink,
    )
    assert "probe_sink(" in _plan_of(hy)
    assert "FlatMapCoGroups" not in _plan_of(hy)  # no probe-key shuffle
    # regime 2 without a sink path is SKIPPED (replicating a DataFrame-only
    # forest would driver-collect up to the budget — a driver-memory cost
    # the executor-sized budget does not police) → routed
    hy_nosink = probe_forest(
        keys, "key", forest_df, spark,
        broadcast_threshold=1, replication_budget=nbytes + 1,
    )
    assert "FlatMapCoGroups" in _plan_of(hy_nosink)
    # regime 3: past both budgets → routed cogroup
    rt = probe_forest(
        keys, "key", forest_df, spark,
        broadcast_threshold=1, replication_budget=1,
    )
    assert "FlatMapCoGroups" in _plan_of(rt)

    # all three verdict-identical (incl. false positives)
    b = {x["key"]: x["maybe_member"] for x in bc.collect()}
    h = {x["key"]: x["maybe_member"] for x in hy.collect()}
    r = {x["key"]: x["maybe_member"] for x in rt.collect()}
    assert b == h == r and all(b.values())


def test_sink_probe_equals_broadcast_incl_fps(spark, tmp_path):
    keys = _keys_df(spark, 20_000)
    sink = str(tmp_path / "forest")
    write_forest(build_forest(keys, shard_bits=2), sink, mode="overwrite")
    forest = Forest.from_df(spark.read.parquet(sink))
    probes = keys.unionByName(_keys_df(spark, 20_000, seed=77))
    via_sink = {
        r["key"]: r["m"]
        for r in approx_contains_sink(probes, "key", sink, out="m").collect()
    }
    via_bc = {
        r["key"]: r["m"]
        for r in approx_contains(probes, "key", forest, spark, out="m").collect()
    }
    assert via_sink == via_bc


def test_sink_probe_cache_invalidates_on_append(spark, tmp_path):
    # worker-side cache keys on the sink's file listing: appending the
    # missing shards must be visible to the SAME worker processes
    keys = _keys_df(spark, 30_000)
    sink = str(tmp_path / "forest")
    full = build_forest(keys, shard_bits=2).cache()
    write_forest(full.filter(F.col("shard") < 2), sink)
    partial_hits = (
        approx_contains_sink(keys, "key", sink, out="m")
        .filter(F.col("m")).count()
    )
    assert 0 < partial_hits < 30_000  # missing shards probe False
    write_forest(full.filter(F.col("shard") >= 2), sink)  # append rest
    assert (
        approx_contains_sink(keys, "key", sink, out="m")
        .filter(F.col("m")).count()
    ) == 30_000  # zero FN once the forest is complete
    full.unpersist()


def test_plan_budgeted_widths_greedy_and_floor():
    from sparkfuse.forest import plan_budgeted_widths
    from sparkfuse.params import fuse_parameters

    from sparkfuse.serialize import _FUSE_HEADER

    counts = {0: 100_000, 1: 50_000, 2: 10_000}

    def pb(n, w):
        return _FUSE_HEADER.size + fuse_parameters(n).array_length * (w // 8)

    floor = sum(pb(n, 8) for n in counts.values())
    with pytest.raises(ValueError, match="floor"):
        plan_budgeted_widths(counts, floor - 1)
    # exactly the floor -> everyone at 8
    assert plan_budgeted_widths(counts, floor) == {0: 8, 1: 8, 2: 8}
    # room for ONE upgrade -> the largest shard goes to 16 first
    w = plan_budgeted_widths(counts, floor + pb(100_000, 16) - pb(100_000, 8))
    assert w == {0: 16, 1: 8, 2: 8}
    # unbounded budget -> everyone at 32
    assert plan_budgeted_widths(counts, 10**12) == {0: 32, 1: 32, 2: 32}
    # deterministic
    assert plan_budgeted_widths(counts, floor * 2) == plan_budgeted_widths(
        counts, floor * 2
    )


def test_budgeted_forest_mixed_width_end_to_end(spark):
    from sparkfuse.forest import build_forest_budgeted
    from sparkfuse.params import fuse_parameters

    keys = _keys_df(spark, 60_000)
    # ~1.5x the all-8 floor: the larger half of the shards upgrade to 16,
    # the rest stay at 8 -> genuinely mixed widths
    floor = sum(
        fuse_parameters(max(r["nkeys"], 1)).array_length
        for r in build_forest(keys, shard_bits=3).select("nkeys").collect()
    )
    budget = int(floor * 1.5)
    mixed_df = build_forest_budgeted(keys, budget_bytes=budget,
                                     shard_bits=3).cache()
    rows = mixed_df.collect()
    widths = {r["shard"]: r["width"] for r in rows}
    assert set(widths.values()) == {8, 16}, widths  # genuinely mixed
    assert sum(len(r["payload"]) for r in rows) <= budget
    forest = Forest(rows)
    arr = np.array([r["key"] for r in keys.collect()], dtype=np.int64)
    assert forest.contains_np(arr).all()  # zero FN regardless of widths
    # wider shards -> strictly better aggregate fpp than an all-8 forest
    all8 = Forest.from_df(build_forest(keys, shard_bits=3))
    absent = np.arange(10**7, 10**7 + 200_000, dtype=np.int64)
    assert forest.contains_np(absent).mean() < all8.contains_np(absent).mean()
    # routed probe handles the mixed-width table, verdict-identical
    probes = keys.unionByName(_keys_df(spark, 20_000, seed=99))
    via_routed = {
        r["key"]: r["m"]
        for r in approx_contains_routed(probes, "key", mixed_df, out="m").collect()
    }
    via_bc = {
        r["key"]: r["m"]
        for r in approx_contains(probes, "key", forest, spark, out="m").collect()
    }
    assert via_routed == via_bc
    mixed_df.unpersist()


def test_budgeted_resumable_resume_equals_fresh(spark, tmp_path):
    from sparkfuse.forest import build_forest_budgeted, build_forest_budgeted_resumable
    from sparkfuse.params import fuse_parameters

    keys = _keys_df(spark, 40_000)
    floor = sum(
        fuse_parameters(max(r["nkeys"], 1)).array_length
        for r in build_forest(keys, shard_bits=2).select("nkeys").collect()
    )
    budget = int(floor * 1.5)
    path = str(tmp_path / "forest")
    # fresh full reference via the resumable entry point on a clean sink
    fresh = {
        r["shard"]: (r["width"], r["content_sha256"])
        for r in build_forest_budgeted_resumable(
            keys, path, spark, budget_bytes=budget, shard_bits=2
        ).collect()
    }
    assert len({w for w, _ in fresh.values()}) > 1  # mixed plan persisted
    # simulate a killed job: keep only shards 0-1 plus the plan file
    import shutil

    partial_dir = tmp_path / "forest2"
    shutil.copytree(tmp_path / "forest", partial_dir)
    # rebuild partial sink: wipe parquet, keep plan, append shards < 2
    for f in partial_dir.iterdir():
        if not f.name.startswith("_sparkfuse_widths"):
            f.unlink() if f.is_file() else shutil.rmtree(f)
    partial = build_forest_budgeted(
        keys, budget, shard_bits=2,
        widths={int(s): w for s, (w, _) in fresh.items()},
    ).filter(F.col("shard") < 2)
    write_forest(partial, str(partial_dir))
    resumed = {
        r["shard"]: (r["width"], r["content_sha256"])
        for r in build_forest_budgeted_resumable(
            keys, str(partial_dir), spark, budget_bytes=budget, shard_bits=2
        ).collect()
    }
    assert resumed == fresh  # byte-identical despite the kill
    # mismatched budget OR route against the persisted plan fails loudly
    with pytest.raises(ValueError, match="planned with"):
        build_forest_budgeted_resumable(
            keys, path, spark, budget_bytes=budget + 1, shard_bits=2
        )
    with pytest.raises(ValueError, match="planned with"):
        build_forest_budgeted_resumable(
            keys, path, spark, budget_bytes=budget, shard_bits=2, route="raw"
        )
    # a sink with data but NO plan file refuses to guess a new plan
    (partial_dir / "_sparkfuse_widths.json").unlink()
    with pytest.raises(ValueError, match="no _sparkfuse_widths"):
        build_forest_budgeted_resumable(
            keys, str(partial_dir), spark, budget_bytes=budget, shard_bits=2
        )
    # explicit invalid widths fail at the driver
    with pytest.raises(ValueError, match="invalid widths"):
        build_forest_budgeted(keys, budget, shard_bits=2, widths={0: 64})


def test_budgeted_resumable_complete_sink_writes_nothing(spark, tmp_path):
    import os

    from sparkfuse.forest import build_forest_budgeted_resumable

    keys = _keys_df(spark, 10_000)
    path = str(tmp_path / "forest")
    build_forest_budgeted_resumable(keys, path, spark, budget_bytes=1 << 20, shard_bits=1)
    before = sorted(os.listdir(path))
    again = build_forest_budgeted_resumable(
        keys, path, spark, budget_bytes=1 << 20, shard_bits=1
    )
    assert sorted(os.listdir(path)) == before  # no shard missing: no append
    assert again.count() == 2


def test_exact_member_forest_all_regimes(spark, tmp_path):
    # planner-driven exact membership: identical result in every regime,
    # equal to the plain semi-join ground truth
    from sparkfuse.probe import exact_member_forest

    customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    sink = str(tmp_path / "forest")
    write_forest(
        build_forest(
            orders.select(F.col("o_custkey").alias("key")), shard_bits=2
        ),
        sink,
        mode="overwrite",
    )
    forest_df = spark.read.parquet(sink)
    nbytes = forest_payload_bytes(forest_df)
    want = sorted(
        r["c_custkey"]
        for r in customer.join(
            orders.select(F.col("o_custkey").alias("c_custkey")).dropDuplicates(),
            "c_custkey", "left_semi",
        ).collect()
    )
    regimes = {
        "broadcast": dict(broadcast_threshold=nbytes + 1),
        "hybrid": dict(broadcast_threshold=1, replication_budget=nbytes + 1,
                       sink_path=sink),
        "routed_sink": dict(broadcast_threshold=1, replication_budget=1,
                            sink_path=sink),
        "routed": dict(broadcast_threshold=1, replication_budget=1),
    }
    for name, kw in regimes.items():
        got = sorted(
            r["c_custkey"]
            for r in exact_member_forest(
                customer, "c_custkey", orders, "o_custkey", forest_df, spark, **kw
            ).collect()
        )
        assert got == want, name


def test_routed_sink_probe_equals_broadcast(spark, tmp_path):
    from sparkfuse.probe import approx_contains_routed_sink

    keys = _keys_df(spark, 30_000)
    sink = str(tmp_path / "forest")
    write_forest(build_forest(keys, shard_bits=3), sink, cluster_by_shard=True)
    forest = Forest.from_df(spark.read.parquet(sink))
    probes = keys.unionByName(_keys_df(spark, 20_000, seed=5))
    via_rs = {
        r["key"]: r["m"]
        for r in approx_contains_routed_sink(probes, "key", sink, spark, out="m").collect()
    }
    via_bc = {
        r["key"]: r["m"]
        for r in approx_contains(probes, "key", forest, spark, out="m").collect()
    }
    assert via_rs == via_bc  # verdict-identical incl. false positives


def test_routed_sink_partial_forest_and_mixed_width(spark, tmp_path):
    from sparkfuse.forest import build_forest_budgeted
    from sparkfuse.params import fuse_parameters
    from sparkfuse.probe import approx_contains_routed_sink

    keys = _keys_df(spark, 40_000)
    # mixed-width budgeted forest, with shard 0 withheld (partial sink)
    floor = sum(
        fuse_parameters(max(r["nkeys"], 1)).array_length
        for r in build_forest(keys, shard_bits=2).select("nkeys").collect()
    )
    full = build_forest_budgeted(keys, budget_bytes=int(floor * 1.5), shard_bits=2).cache()
    sink = str(tmp_path / "forest")
    write_forest(full.filter(F.col("shard") != 0), sink)
    flagged = approx_contains_routed_sink(keys, "key", sink, spark, out="m").collect()
    full_forest = Forest.from_df(full)
    # shard-0 keys probe False (absent); other shards zero-FN
    from sparkfuse.hashing import to_u64, xxh64_u64
    import numpy as np

    for r in flagged:
        shard = int(xxh64_u64(to_u64(np.array([r["key"]])))[0] >> np.uint64(62))
        assert r["m"] == (shard != 0), (r, shard)
    full.unpersist()


def test_probe_forest_regime3_prefers_routed_sink(spark, tmp_path):
    keys = _keys_df(spark, 10_000)
    sink = str(tmp_path / "forest")
    write_forest(build_forest(keys, shard_bits=1), sink)
    forest_df = spark.read.parquet(sink)
    df = probe_forest(
        keys, "key", forest_df, spark,
        broadcast_threshold=1, replication_budget=1, sink_path=sink,
    )
    plan = _plan_of(df)
    # routed-sink shape since round 5: tag-route repartition + scalar
    # probe_shards pandas_udf (was MapInArrow — PLANS.md §17 has why);
    # the cogroup shape must NOT appear
    assert "probe_shards" in plan and "FlatMapCoGroups" not in plan
    assert "_sf_tag" in plan  # the inverse-hash tag route is the shuffle
    assert all(r["maybe_member"] for r in df.collect())


def test_hybrid_probe_composes_lazily_before_sink_exists(spark, tmp_path):
    """Plan construction must not require the sink to exist yet (round-5
    review: the content-token derivation lists the sink at plan time; the
    fallback keeps write-after-compose legal). The probe DataFrame is built
    FIRST, the forest written after, and execution still probes correctly."""
    from sparkfuse.forest import build_forest, write_forest
    from sparkfuse.probe import approx_contains_sink

    sink = str(tmp_path / "late_sink")
    keys = _keys_df(spark, 5_000)
    flagged = approx_contains_sink(keys, "key", sink)  # sink absent here
    write_forest(build_forest(keys, shard_bits=1), sink)
    assert flagged.filter(F.col("maybe_member")).count() == 5_000  # zero FN


def test_sink_fingerprint_detects_inplace_rewrite(tmp_path):
    # same file name + same byte size, different content: the cache key
    # must still change (mtime is part of the fingerprint), or reused
    # workers would serve stale membership verdicts
    import os

    from sparkfuse.probe import _sink_fingerprint

    f = tmp_path / "part-0.parquet"
    f.write_bytes(b"A" * 64)
    _, _, key1 = _sink_fingerprint(str(tmp_path))
    f.write_bytes(b"B" * 64)  # same size
    os.utime(f, ns=(1, 1))  # force a different mtime even on coarse clocks
    _, _, key2 = _sink_fingerprint(str(tmp_path))
    assert key1 != key2


def test_sink_probe_empty_sink_raises(spark, tmp_path):
    empty = tmp_path / "forest"
    empty.mkdir()
    keys = _keys_df(spark, 100)
    with pytest.raises(Exception, match="no data files"):
        approx_contains_sink(keys, "key", str(empty), out="m").collect()


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs started while it ran): the status
    tracker's job-id delta, with the listener bus drained on both sides so
    an earlier job cannot land in the window late."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup())
    out = fn()
    bus.waitUntilEmpty()
    return out, len(set(tracker.getJobIdsForGroup()) - before)


def test_sink_broadcast_plan_runs_no_spark_job(spark, tmp_path):
    from sparkfuse.probe import exact_member_forest

    keys = _keys_df(spark, 20_000)
    sink = str(tmp_path / "forest")
    write_forest(build_forest(keys, shard_bits=2), sink)
    forest_df = spark.read.parquet(sink)
    forest = Forest.from_df(forest_df)
    probes = keys.unionByName(_keys_df(spark, 20_000, seed=10**6))

    planned, jobs = _jobs_started(
        spark, lambda: probe_forest(probes, "key", forest_df, spark, sink_path=sink)
    )
    assert jobs == 0
    assert "MapInArrow" in _plan_of(planned)  # the broadcast regime
    want = {
        r["key"]: r["m"]
        for r in approx_contains(probes, "key", forest, spark, out="m").collect()
    }
    got = {r["key"]: r["maybe_member"] for r in planned.collect()}
    assert got == want
    assert sum(want.values()) > 20_000  # false positives are compared too

    confirmed, jobs = _jobs_started(
        spark,
        lambda: exact_member_forest(
            probes, "key", keys, "key", forest_df, spark, sink_path=sink
        ),
    )
    assert jobs == 0
    semi = exact_member_semi_join(probes, "key", keys, "key", forest, spark)
    assert sorted(r["key"] for r in confirmed.collect()) == sorted(
        r["key"] for r in semi.collect()
    )


def test_sink_plan_bytes_match_spark_aggregate(spark, tmp_path):
    # the driver-side sink read must pick the regime the Spark aggregate
    # picks, to the byte — replayed rows counted as often as they appear
    from sparkfuse.probe import _plan_probe_regime

    forest_df = build_forest(_keys_df(spark, 10_000), shard_bits=1).cache()
    sink = str(tmp_path / "forest")
    budget = 1 << 40

    def regime(threshold):
        return _plan_probe_regime(
            spark.read.parquet(sink), spark, threshold, budget, sink
        )[0]

    write_forest(forest_df, sink)
    once = forest_payload_bytes(spark.read.parquet(sink))
    assert regime(once) == "broadcast"
    assert regime(once - 1) == "hybrid"
    write_forest(forest_df, sink)  # byte-identical replayed rows
    twice = forest_payload_bytes(spark.read.parquet(sink))
    assert twice == 2 * once
    # too-big first, so the stopped read is cached before the full one
    assert regime(once) == "hybrid"
    assert regime(twice - 1) == "hybrid"
    assert regime(twice) == "broadcast"
    forest_df.unpersist()


def test_sink_plan_falls_back_before_sink_exists(spark, tmp_path, monkeypatch):
    import sparkfuse.probe as probe_mod

    keys = _keys_df(spark, 5_000)
    forest_df = build_forest(keys, shard_bits=1).cache()
    late = str(tmp_path / "late_sink")
    # composed before the sink is written: the plan takes the aggregate
    bc = probe_forest(keys, "key", forest_df, spark, sink_path=late)
    hy = probe_forest(
        keys, "key", forest_df, spark,
        broadcast_threshold=1, replication_budget=1 << 40, sink_path=late,
    )
    assert "MapInArrow" in _plan_of(bc) and "probe_sink(" in _plan_of(hy)
    write_forest(forest_df, late)
    assert bc.filter(F.col("maybe_member")).count() == 5_000
    assert hy.filter(F.col("maybe_member")).count() == 5_000

    def driver_read(*args, **kwargs):
        raise AssertionError("sink read on the driver")

    monkeypatch.setattr(probe_mod, "_load_cached_from_sink", driver_read)
    no_broadcast = probe_mod._plan_probe_regime(
        spark.read.parquet(late), spark, -1, 1 << 40, late
    )
    assert no_broadcast[0] == "hybrid"
    forest_df.unpersist()


@pytest.mark.parametrize(
    "budget,shape", [(1 << 40, "probe_sink("), (1, "probe_shards(")]
)
def test_sink_plan_lists_sink_once(spark, tmp_path, monkeypatch, budget, shape):
    # hybrid and routed-sink plans reuse the planner's listing
    import sparkfuse.probe as probe_mod

    keys = _keys_df(spark, 5_000)
    sink = str(tmp_path / "forest")
    write_forest(build_forest(keys, shard_bits=1), sink)
    forest_df = spark.read.parquet(sink)
    calls = {"list": 0, "read": 0}
    real_list, real_read = probe_mod._sink_fingerprint, probe_mod._read_sink

    def counted(name, real):
        def wrapper(*args, **kwargs):
            calls[name] += 1
            return real(*args, **kwargs)
        return wrapper

    monkeypatch.setattr(probe_mod, "_sink_fingerprint", counted("list", real_list))
    monkeypatch.setattr(probe_mod, "_read_sink", counted("read", real_read))
    for _ in range(2):
        planned = probe_forest(
            keys, "key", forest_df, spark,
            broadcast_threshold=1, replication_budget=budget, sink_path=sink,
        )
        assert shape in _plan_of(planned)
    # one listing per plan; the too-big read happens once per sink content
    assert calls == {"list": 2, "read": 1}
    monkeypatch.undo()
    assert planned.filter(F.col("maybe_member")).count() == 5_000


def _stress_sinks(tmp_path, n_sinks, n_shards):
    """``n_sinks`` one-file forest sinks of ``n_shards`` tiny fuse8 filters
    each; sink i records shard_bits=i, so every sink has its own layout.
    Returns [(path, {shard: payload}, layout)]."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkfuse.kernels import build_fuse
    from sparkfuse.serialize import save_fuse_bytes

    sinks = []
    for i in range(n_sinks):
        payloads = {
            s: save_fuse_bytes(
                build_fuse(np.arange(20, dtype=np.uint64) + 1000 * (i * n_shards + s))[0]
            )
            for s in range(n_shards)
        }
        layout = {"kind": "fuse", "arity": 3, "shard_bits": i, "route": "xxh64"}
        d = tmp_path / f"sink{i}"
        d.mkdir()
        pq.write_table(
            pa.table({
                "shard": list(payloads),
                **{c: [v] * n_shards for c, v in layout.items()},
                "width": [8] * n_shards,
                "payload": list(payloads.values()),
                "content_sha256": [
                    hashlib.sha256(p).hexdigest() for p in payloads.values()
                ],
            }),
            d / "part-0.parquet",
        )
        sinks.append((str(d), payloads, layout))
    return sinks


def _load_whole(path, shard):
    from sparkfuse.probe import _load_cached_from_sink

    return _load_cached_from_sink(
        path, "token", ("stress",), lambda rows: {r["shard"]: r["payload"] for r in rows}
    )


def _load_shard(path, shard):
    from sparkfuse.probe import _load_shard_filter_from_sink
    from sparkfuse.serialize import save_fuse_bytes

    return save_fuse_bytes(_load_shard_filter_from_sink(path, "token", shard))


def _load_meta(path, shard):
    from sparkfuse.probe import _sink_forest_meta

    return _sink_forest_meta(path)[0]


@pytest.mark.parametrize(
    "loader,want",
    [
        (_load_whole, lambda payloads, layout, shard: payloads),
        (_load_shard, lambda payloads, layout, shard: payloads[shard]),
        (_load_meta, lambda payloads, layout, shard: layout),
    ],
    ids=["whole_sink", "shard", "meta"],
)
def test_sink_cache_concurrent_loads(tmp_path, loader, want):
    """More threads than cores load from more sinks than the cache holds
    (9 sinks x 8 shards: past the whole-sink and meta caps of 8 entries and
    the shard cap of 128), under a short switch interval: every load
    returns its own sink's content, and concurrent evictions never
    collide."""
    import sys
    import threading

    sinks = _stress_sinks(tmp_path, n_sinks=9, n_shards=8)
    errors = []

    def load_many(seed):
        rng = np.random.default_rng(seed)
        try:
            for _ in range(200):
                path, payloads, layout = sinks[rng.integers(len(sinks))]
                shard = int(rng.integers(len(payloads)))
                got = loader(path, shard)
                if got != want(payloads, layout, shard):
                    errors.append((path, shard, got))
        except Exception as exc:  # reported through the assert below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=load_many, args=(s,)) for s in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []


def _flip_payload_byte(sink: str, dst: str) -> int:
    """Write a copy of a forest sink to ``dst`` with the last payload byte of
    its first row flipped and content_sha256 kept; returns that row's shard."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(sink)
    rows = table.to_pylist()
    payload = bytearray(rows[0]["payload"])
    payload[-1] ^= 0xFF
    rows[0]["payload"] = bytes(payload)
    os.makedirs(dst)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=table.schema),
        os.path.join(dst, "part-0.parquet"),
    )
    return rows[0]["shard"]


@pytest.mark.parametrize(
    "regime,kw",
    [
        ("broadcast", {}),
        ("hybrid", dict(broadcast_threshold=1, replication_budget=1 << 40)),
        ("routed_sink", dict(broadcast_threshold=1, replication_budget=1)),
    ],
)
def test_sink_load_rejects_flipped_payload_byte(spark, tmp_path, regime, kw):
    keys = _keys_df(spark, 10_000)
    sink = str(tmp_path / "forest")
    write_forest(build_forest(keys, shard_bits=2), sink)
    bad = str(tmp_path / "corrupt")
    shard = _flip_payload_byte(sink, bad)
    with pytest.raises(Exception) as exc_info:
        probe_forest(
            keys, "key", spark.read.parquet(bad), spark, sink_path=bad, **kw
        ).collect()
    msg = str(exc_info.value)
    assert "content_sha256" in msg and bad in msg and f"shard {shard}" in msg


@pytest.mark.parametrize(
    "probe",
    [
        lambda keys, forest_df, spark: probe_forest(keys, "key", forest_df, spark),
        lambda keys, forest_df, spark: approx_contains_routed(keys, "key", forest_df),
    ],
    ids=["probe_forest_sinkless", "approx_contains_routed"],
)
def test_table_reads_reject_flipped_payload_byte(spark, tmp_path, probe):
    # the sink-less paths read forest rows from a table: a flipped payload
    # byte must fail by name there too, not probe as false negatives (the
    # broadcast plan raises on the driver, the cogroup inside a task)
    keys = _keys_df(spark, 10_000)
    sink = str(tmp_path / "forest")
    write_forest(build_forest(keys, shard_bits=2), sink)
    bad = str(tmp_path / "corrupt")
    shard = _flip_payload_byte(sink, bad)
    with pytest.raises(Exception) as exc_info:
        probe(keys, spark.read.parquet(bad), spark).collect()
    msg = str(exc_info.value)
    assert isinstance(exc_info.value, ValueError) or "ValueError" in msg
    assert f"shard {shard} does not match its content_sha256" in msg


# ---------------------------------------------------------------------------
# determinism, mergeability, resume
# ---------------------------------------------------------------------------

def test_forest_build_deterministic(spark):
    keys = _keys_df(spark, 30_000)
    a = {r["shard"]: r["content_sha256"] for r in build_forest(keys, shard_bits=3).collect()}
    b = {r["shard"]: r["content_sha256"] for r in build_forest(keys, shard_bits=3).collect()}
    assert a == b


def test_resume_equals_fresh(spark, tmp_path):
    keys = _keys_df(spark, 30_000)
    fresh = {
        r["shard"]: r["content_sha256"]
        for r in build_forest(keys, shard_bits=3).collect()
    }
    # simulate a killed job: persist only shards 0-3, then resume
    partial_path = str(tmp_path / "forest")
    partial = build_forest(keys, shard_bits=3).filter(F.col("shard") < 4)
    write_forest(partial, partial_path)
    resumed_df = build_forest_resumable(keys, partial_path, spark, shard_bits=3)
    resumed = {r["shard"]: r["content_sha256"] for r in resumed_df.collect()}
    assert resumed == fresh  # byte-identical via deterministic rebuilds


def _assert_rows_equal_driver(rows, keys_df, spec, widths=None):
    """Every Spark-built forest row equals the driver's ``_forest_row`` over
    the same shard's keys (routed by the numpy mirror of the JVM xxhash64
    top-bits rule, at ``widths[shard]`` when a width plan is given), field
    for field, build_seconds excepted."""
    from dataclasses import replace

    from sparkfuse.forest import _forest_row
    from sparkfuse.hashing import to_u64, xxh64_u64

    keys = to_u64(np.array([r["key"] for r in keys_df.collect()], dtype=np.int64))
    shards = np.zeros(len(keys), dtype=np.int64)
    if spec.shard_bits:
        shards = (xxh64_u64(keys) >> np.uint64(64 - spec.shard_bits)).astype(np.int64)
    got = {r["shard"]: dict(r.asDict(), payload=bytes(r["payload"])) for r in rows}
    assert sorted(got) == np.unique(shards).tolist()
    for shard, row in got.items():
        width = (widths or {}).get(shard, spec.width)
        want = _forest_row(shard, keys[shards == shard], replace(spec, width=width))
        row.pop("build_seconds")
        want.pop("build_seconds")
        assert row == want, shard


@pytest.mark.parametrize(
    "kind,width,arity,shard_bits",
    [("fuse", 8, 3, 0), ("fuse", 8, 3, 3), ("fuse", 16, 3, 1), ("xor", 8, 3, 2),
     ("fuse", 8, 4, 2)],
)
def test_spark_rows_equal_driver_forest_rows(spark, kind, width, arity, shard_bits):
    from sparkfuse.forest import ForestSpec

    keys = _keys_df(spark, 20_000, seed=shard_bits)
    rows = build_forest(keys, kind=kind, width=width, arity=arity,
                        shard_bits=shard_bits).collect()
    spec = ForestSpec(kind=kind, width=width, arity=arity, shard_bits=shard_bits)
    _assert_rows_equal_driver(rows, keys, spec)


def test_budgeted_and_resumed_rows_equal_driver_forest_rows(spark, tmp_path):
    from sparkfuse.forest import ForestSpec, build_forest_budgeted

    keys = _keys_df(spark, 20_000, seed=7)
    widths = {0: 16, 1: 8, 2: 32, 3: 8}
    budgeted = build_forest_budgeted(keys, 1 << 30, shard_bits=2, widths=widths)
    _assert_rows_equal_driver(budgeted.collect(), keys, ForestSpec(shard_bits=2), widths)

    path = str(tmp_path / "forest")
    write_forest(build_forest(keys, shard_bits=2).filter(F.col("shard") < 2), path)
    resumed = build_forest_resumable(keys, path, spark, shard_bits=2).collect()
    _assert_rows_equal_driver(resumed, keys, ForestSpec(shard_bits=2))


def test_resumable_complete_sink_writes_nothing(spark, tmp_path):
    """A resume with every shard built appends no (empty) part file, so the
    sink's listing and its probe fingerprint stay as they were."""
    import os

    from sparkfuse.probe import _sink_fingerprint

    keys = _keys_df(spark, 10_000)
    path = str(tmp_path / "forest")
    build_forest_resumable(keys, path, spark, shard_bits=1)
    before = (sorted(os.listdir(path)), _sink_fingerprint(path)[2])
    again = build_forest_resumable(keys, path, spark, shard_bits=1)
    assert (sorted(os.listdir(path)), _sink_fingerprint(path)[2]) == before
    assert again.count() == 2


@pytest.mark.parametrize("shard_bits", [-1, 31])
def test_shard_bits_outside_int_partition_ids_fail_by_name(spark, shard_bits):
    from sparkfuse.forest import build_forest_budgeted

    keys = _keys_df(spark, 100)
    with pytest.raises(ValueError, match=f"shard_bits={shard_bits} outside"):
        build_forest(keys, shard_bits=shard_bits)
    with pytest.raises(ValueError, match=f"shard_bits={shard_bits} outside"):
        build_forest_budgeted(keys, 1 << 20, shard_bits=shard_bits)


@pytest.mark.parametrize("frame", ["200k", "empty", "filtered_out", "zero_partitions"])
def test_observed_estimate_equals_aggregate(spark, frame):
    """The one-job observed HLL++ estimate is the two-job aggregate's value."""
    from sparkfuse.keys import approx_distinct_keys

    big = _keys_df(spark, 200_000)
    df = {
        "200k": big,
        "empty": big.limit(0),
        "filtered_out": big.filter(F.col("key") != F.col("key")),
        "zero_partitions": spark.createDataFrame(spark.sparkContext.emptyRDD(), "key long"),
    }[frame]
    want = df.agg(F.approx_count_distinct("key").alias("n")).first()["n"]
    assert approx_distinct_keys(df) == want
    if frame == "200k":
        assert abs(want - 200_000) < 0.1 * 200_000


def test_planned_build_runs_one_job_at_call_time(spark):
    keys = _keys_df(spark, 50_000)
    _, jobs = _jobs_started(spark, lambda: build_forest(keys, min_shards=4))
    assert jobs == 1  # the observed estimate; the build itself stays lazy
    _, jobs = _jobs_started(spark, lambda: build_forest(keys, shard_bits=2))
    assert jobs == 0


def test_planning_on_failing_input_raises(spark):
    """A key column that fails to evaluate raises from the planning write
    instead of leaving the driver waiting on a metric that never comes."""
    import threading

    from sparkfuse.bloom import build_bloom

    bad = spark.range(100).select(F.raise_error(F.lit("bad key")).cast("long").alias("key"))
    outcome = {}

    def plan():
        for name, build in (("forest", build_forest), ("bloom", build_bloom)):
            try:
                build(bad)
            except Exception as e:  # noqa: BLE001 - the error is the outcome
                outcome[name] = str(e)

    worker = threading.Thread(target=plan, daemon=True)
    worker.start()
    worker.join(timeout=300)
    assert not worker.is_alive(), "planning hung on a failing input"
    assert set(outcome) == {"forest", "bloom"}
    assert all("bad key" in msg for msg in outcome.values()), outcome


def test_forest_merge_is_union(spark):
    # the mergeable-aggregation property: a forest over disjoint shard ranges
    # merges by row union — probing the union behaves like one build
    keys = _keys_df(spark, 20_000)
    full = build_forest(keys, shard_bits=2)
    half1 = full.filter(F.col("shard") < 2)
    half2 = full.filter(F.col("shard") >= 2)
    merged = Forest.from_df(half1.unionByName(half2))
    arr = np.array([r["key"] for r in keys.collect()], dtype=np.int64)
    assert merged.contains_np(arr).all()


def test_forest_stats_dedup_replayed_rows(spark):
    # at-least-once appends can replay byte-identical shard rows; stats must
    # count each shard payload once (membership was already unaffected)
    forest_df = build_forest(_keys_df(spark, 10_000), shard_bits=1)
    once = Forest.from_df(forest_df)
    twice = Forest.from_df(forest_df.unionByName(forest_df))
    assert twice.nkeys == once.nkeys
    assert twice.size_in_bytes == once.size_in_bytes
    assert twice.bits_per_entry() == once.bits_per_entry()


def test_forest_rejects_conflicting_shard_payloads(spark):
    # two DIFFERENT builds appended to one sink is a mixed sink, not a
    # replay: picking either filter silently false-negatives the other's
    # keys, so both probe paths must fail loudly. So is a "replayed" row
    # whose payload differs by one byte while its recorded sha is the
    # original's: the payload bytes are compared, not just the sha.
    a = build_forest(_keys_df(spark, 5_000, seed=1), shard_bits=1)
    b = build_forest(_keys_df(spark, 5_000, seed=2), shard_bits=1)
    rows = [r.asDict() for r in a.collect()]
    flipped = dict(rows[0], payload=bytearray(rows[0]["payload"]))
    flipped["payload"][-1] ^= 0xFF
    replayed = spark.createDataFrame(rows + [flipped], a.schema)
    for table in (a.unionByName(b), replayed):
        table = table.cache()
        with pytest.raises(ValueError, match="conflicting|Epoch"):
            Forest.from_df(table)
        with pytest.raises(Exception) as exc_info:
            approx_contains_routed(
                _keys_df(spark, 1_000, seed=1), "key", table, out="m"
            ).collect()
        assert "conflicting" in str(exc_info.value)
        table.unpersist()


def test_parse_byte_string_grammar():
    from sparkfuse.probe import _parse_byte_string

    assert _parse_byte_string("10485760") == 10 * 1024 * 1024
    assert _parse_byte_string("10m") == 10 * 1024 * 1024
    assert _parse_byte_string("10MB") == 10 * 1024 * 1024
    assert _parse_byte_string("10mb") == 10 * 1024 * 1024
    assert _parse_byte_string("512KB") == 512 * 1024
    assert _parse_byte_string("1gb") == 1024**3
    assert _parse_byte_string("1t") == 1024**4
    assert _parse_byte_string("128b") == 128
    assert _parse_byte_string("-1") == -1
    with pytest.raises(ValueError, match="unparseable"):
        _parse_byte_string("ten megabytes")
    with pytest.raises(ValueError, match="unparseable"):
        _parse_byte_string("10mib")


def test_routed_probe_rejects_reserved_column(spark):
    keys = _keys_df(spark, 1_000).withColumn("_sf_shard", F.lit(0))
    forest_df = build_forest(_keys_df(spark, 1_000), shard_bits=1)
    with pytest.raises(ValueError, match="_sf_shard"):
        approx_contains_routed(keys, "key", forest_df)


def test_resumable_propagates_corrupt_sink(spark, tmp_path):
    # a sink that EXISTS but cannot be read is an error, not "absent":
    # appending a fresh full build onto it would mask corruption
    bad = tmp_path / "forest"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    keys = _keys_df(spark, 5_000)
    with pytest.raises(Exception) as exc_info:
        build_forest_resumable(keys, str(bad), spark, shard_bits=1).collect()
    assert "PATH_NOT_FOUND" not in str(exc_info.value)


def test_forest_lineage_metrics(spark):
    rows = build_forest(_keys_df(spark, 10_000), shard_bits=1).collect()
    for r in rows:
        assert r["iterations"] >= 1
        assert r["build_seconds"] > 0
        assert r["nkeys"] > 0
        assert 8.0 < r["bits_per_entry"] < 13.0
        import hashlib

        assert hashlib.sha256(bytes(r["payload"])).hexdigest() == r["content_sha256"]


# ---------------------------------------------------------------------------
# transcripts flow (north_star shape): text keys, dedup, skew
# ---------------------------------------------------------------------------

def test_transcript_membership_flow(spark):
    tr = synth_transcripts(spark, 6_000).cache()
    keys = extract_keys(tr, "text")
    forest = Forest.from_df(build_forest(keys, shard_bits=2, pre_dedup=True))
    flagged = approx_contains(extract_keys(tr, "text"), "key", forest, spark)
    assert flagged.filter(~F.col("maybe_member")).count() == 0  # zero FN
    # absent texts overwhelmingly rejected
    absent = tr.select(
        F.xxhash64(F.concat(F.col("text"), F.lit("-absent"))).alias("key")
    )
    fp = approx_contains(absent, "key", forest, spark)
    frac = fp.filter(F.col("maybe_member")).count() / 6_000
    assert frac < 0.02
    tr.unpersist()


def test_salted_dedup_equals_plain(spark):
    tr = synth_transcripts(spark, 4_000)
    keys = extract_keys(tr, "text")
    plain = sorted(r["key"] for r in dedup_keys(keys).collect())
    salted = sorted(r["key"] for r in dedup_keys_salted(keys).collect())
    assert plain == salted


def test_synth_transcripts_deterministic_and_skewed(spark):
    a = synth_transcripts(spark, 3_000)
    b = synth_transcripts(spark, 3_000)
    ha = a.agg(F.expr("bit_xor(xxhash64(conv_id, text, role))")).first()[0]
    hb = b.agg(F.expr("bit_xor(xxhash64(conv_id, text, role))")).first()[0]
    assert ha == hb
    top = (
        a.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    )
    assert top["count"] > 3_000 * 0.05  # hot conversation exists (skew fixture)
    # stable turn ordering invariant: contiguous turn_idx per conv
    chk = a.groupBy("conv_id").agg(
        F.count("*").alias("n"), F.max("turn_idx").alias("mx")
    )
    assert chk.filter(F.col("mx") != F.col("n") - 1).count() == 0


def test_plan_shard_bits():
    from sparkfuse.forest import plan_shard_bits

    assert plan_shard_bits(1_000) == 0
    assert plan_shard_bits(10**9) == 9  # ~512 shards of ~2M
    # parallelism floor kicks in only while shards stay >= 64k keys
    assert plan_shard_bits(1_000_000, min_shards=32) == 3  # 8 shards of 125k
    assert plan_shard_bits(10_000_000, min_shards=32) == 5
    assert plan_shard_bits(100_000, min_shards=32) == 0


def test_retry_lineage_recorded(spark):
    """north_star: 'Construction retries on rare peeling failure (reseed)
    are checkpointed per partition with lineage' — drive an ACTUAL retry
    (size-91 key set that fails its first seed, found deterministically)
    through the forest path and check the lineage row records it."""
    from sparkfuse.hashing import seed_sequence, splitmix64_fill
    from sparkfuse.kernels import build_fuse

    keys = splitmix64_fill(91, counter_start=91 * 1000 + 24)
    f, iterations = build_fuse(keys, width=8)
    assert iterations == 2  # first seed fails, reseed succeeds
    seeds = seed_sequence(1)
    next(seeds)  # first seed (failed attempt)
    assert f.seed == next(seeds)  # filter carries the SECOND seed

    df = spark.createDataFrame([(int(k),) for k in keys.view("int64")], "key long")
    row = build_forest(df, shard_bits=0).first()
    assert row["iterations"] == 2  # retry visible in the forest lineage
    assert row["nkeys"] == 91


def test_exact_semi_join_sort_merge_fallback_plan(spark):
    """PLANS.md §2 claims exact_member_semi_join falls back to sort-merge
    when the build-key set exceeds the broadcast threshold, with the Arrow
    prescreen staying on the PROBE side only. Pin both: (a) results are
    identical to a plain semi join under threshold=-1, (b) the plan shows a
    SortMergeJoin and exactly ONE ArrowEvalPython node (the
    asNondeterministic pin prevents Catalyst copying the predicate through
    the equi-join onto the build side)."""
    probe = spark.range(20_000).select(F.col("id").alias("k"))
    build = spark.range(0, 20_000, 2).select(F.col("id").alias("bk"))
    forest = Forest.from_df(
        build_forest(build.select(F.col("bk").alias("key")), shard_bits=1)
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        res = exact_member_semi_join(probe, "k", build, "bk", forest, spark)
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert plan.count("ArrowEvalPython") == 1, plan
        got = sorted(r["k"] for r in res.collect())
        want = sorted(
            r["k"]
            for r in probe.join(
                build.select(F.col("bk").alias("k")), "k", "left_semi"
            ).collect()
        )
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # and in the default broadcast regime the prescreen is still unique
    res2 = exact_member_semi_join(probe, "k", build, "bk", forest, spark)
    plan2 = res2._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("ArrowEvalPython") == 1, plan2


def test_shuffle_partition_count_auto_fallback():
    """Platforms that auto-tune shuffle partitions report a non-numeric conf
    value ("auto"); the routed-sink partition planner must fall back to the
    cluster's default parallelism instead of raising."""
    from sparkfuse.probe import _shuffle_partition_count

    class _Conf:
        def __init__(self, v):
            self._v = v

        def get(self, k, d=None):
            return self._v

    class _SC:
        defaultParallelism = 12

    class _Spark:
        def __init__(self, v):
            self.conf = _Conf(v)
            self.sparkContext = _SC()

    assert _shuffle_partition_count(_Spark("64")) == 64
    assert _shuffle_partition_count(_Spark("auto")) == 12


def test_routed_sink_tag_routing_exact_placement(spark):
    """The routed-sink shuffle places each shard EXACTLY in its analytic
    target partition (p = shard*parts div n_shards) via precomputed
    inverse-hash routing tags — no sampling pass, no empty partitions, no
    multi-shard-range tasks (PLANS.md §17)."""
    from sparkfuse.keys import shard_column
    from sparkfuse.probe import _partition_tags, _tag_route

    parts, bits = 8, 3  # test session runs shuffle.partitions=8 >= 2^bits
    tags = _partition_tags(spark, parts)
    assert len(tags) == parts and len(set(tags)) == parts
    tagged = (
        spark.range(50_000)
        .select(F.xxhash64("id").alias("key"))
        .withColumn("_sf_shard", shard_column("key", bits, "xxh64"))
    )
    # the PRODUCTION routing function, not a re-implementation
    rep = _tag_route(tagged, spark, bits)
    dist = (
        rep.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("_sf_shard").alias("lo"), F.max("_sf_shard").alias("hi"))
        .collect()
    )
    assert len(dist) == parts  # no empty partitions
    for r in dist:
        # parts == n_shards here: exactly ONE shard per partition, and it is
        # the analytically predicted one
        assert r["lo"] == r["hi"] == r["pid"], dict(r.asDict())


def test_get_spark_short_circuits_per_row_batch_size_check(spark):
    """Pins the PLANS.md §17 fix: sessions built by get_spark must carry
    maxBytesPerBatch = Int.MaxValue (the mapInArrow input writer's
    short-circuit) or the per-row ArrowWriter.sizeInBytes walk returns —
    and with it the JIT-pollution slowdown."""
    assert spark.conf.get(
        "spark.sql.execution.arrow.maxBytesPerBatch"
    ) == str(2**31 - 1)


def test_probe_forest_broadcast_picks_arrow_for_keys_only_frames(spark):
    """Broadcast regime: a keys-only probe frame takes the mapInArrow fast
    path (safe — the session short-circuits the per-row size check); a wide
    frame stays on the pandas_udf column form."""
    keys = _keys_df(spark, 5_000)
    forest_df = build_forest(keys, shard_bits=1)
    narrow = probe_forest(keys, "key", forest_df, spark)
    assert "MapInArrow" in _plan_of(narrow)
    assert narrow.filter(F.col("maybe_member")).count() == 5_000  # zero FN
    wide = probe_forest(
        keys.withColumn("extra", F.lit("x")), "key", forest_df, spark
    )
    assert "MapInArrow" not in _plan_of(wide)
    assert wide.filter(F.col("maybe_member")).count() == 5_000
