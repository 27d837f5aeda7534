"""Structured-Streaming forest maintenance: epoch append, exactly-once
replay idempotence, probe over epochs, compaction."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkfuse.forest import Forest
from sparkfuse.streaming import (
    EpochForest,
    compact_forest,
    forest_append_batch,
    stream_forest,
)


def test_stream_forest_epochs(spark, tmp_path):
    import pandas as pd

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    # two flat files -> file stream processes them in separate micro-batches
    pd.DataFrame({"k": range(0, 5000)}).to_parquet(src_dir / "a.parquet")
    pd.DataFrame({"k": range(5000, 10000)}).to_parquet(src_dir / "b.parquet")
    stream = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    forest_path = str(tmp_path / "forest")
    q = stream_forest(
        stream,
        forest_path,
        str(tmp_path / "ckpt"),
        key_cols=["k"],
        shard_bits=2,
    )
    q.awaitTermination(300)
    ef = EpochForest.load(spark, forest_path, shard_bits=2)
    assert ef.n_epochs == 2  # one epoch per file
    keys = spark.range(10000).select(F.xxhash64("id").alias("key"))
    arr = np.array([r["key"] for r in keys.collect()], dtype=np.int64)
    assert ef.contains_np(arr).all()  # zero FN across epochs
    absent = np.array(
        [r[0] for r in spark.range(10**6, 10**6 + 5000)
         .select(F.xxhash64("id")).collect()],
        dtype=np.int64,
    )
    assert ef.contains_np(absent).mean() < 0.02


def test_epoch_replay_is_idempotent(spark, tmp_path):
    # deterministic builds => a replayed epoch appends byte-identical rows
    df = spark.range(2000).select(F.col("id").alias("k"))
    path = str(tmp_path / "forest")
    forest_append_batch(df, 7, path, ["k"], shard_bits=1)
    forest_append_batch(df, 7, path, ["k"], shard_bits=1)  # replay
    rows = spark.read.parquet(path).collect()
    hashes = {}
    for r in rows:
        hashes.setdefault(r["shard"], set()).add(r["content_sha256"])
    assert all(len(v) == 1 for v in hashes.values())  # dup rows identical


def test_compaction_equals_batch_build(spark, tmp_path):
    keys = spark.range(8000).select(F.xxhash64("id").alias("key"))
    compacted = compact_forest(
        spark, keys, str(tmp_path / "x"), str(tmp_path / "compact"), shard_bits=2
    )
    f = Forest.from_df(compacted)
    arr = np.array([r["key"] for r in keys.collect()], dtype=np.int64)
    assert f.contains_np(arr).all()
    # idempotent re-compaction: identical content hashes
    again = compact_forest(
        spark, keys, str(tmp_path / "x"), str(tmp_path / "compact2"), shard_bits=2
    )
    a = {r["shard"]: r["content_sha256"] for r in compacted.collect()}
    b = {r["shard"]: r["content_sha256"] for r in again.collect()}
    assert a == b


def test_streaming_first_seen_exact_dedup(spark, tmp_path):
    import pandas as pd

    from sparkfuse.streaming import streaming_first_seen

    src = tmp_path / "src2"
    src.mkdir()
    # batch 1: keys 0..999 with dups; batch 2: 500..1499 (overlap 500)
    pd.DataFrame({"k": list(range(1000)) + list(range(0, 1000, 2))}).to_parquet(
        src / "a.parquet"
    )
    pd.DataFrame({"k": range(500, 1500)}).to_parquet(src / "b.parquet")
    stream = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    deduped = streaming_first_seen(stream, ["k"], state_shards=8)
    out = tmp_path / "out"
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(r["key"] for r in spark.read.parquet(str(out)).collect())
    want = sorted(
        r[0]
        for r in spark.range(1500)
        .select(F.xxhash64("id").alias("key"))
        .collect()
    )
    assert got == want  # every distinct key exactly once, across batches


def test_windowed_distinct_counts(spark, tmp_path):
    """Per-window approximate distinct keys: bounded state (one HLL per open
    window), exact-equal to COUNT(DISTINCT) at small cardinalities, emitted
    once the watermark closes the window."""
    import pandas as pd

    from sparkfuse.streaming import windowed_distinct_counts

    src = tmp_path / "wd_src"
    src.mkdir()
    h = lambda hour, m=0: pd.Timestamp(2024, 1, 1, hour, m)
    # window [10,11): keys 1,1,2,3 (3 distinct); [11,12): 5,5 (1 distinct);
    # a late 14:00 row pushes the watermark (12:00) past both windows
    rows = pd.DataFrame(
        {
            "ts": [h(10, 5), h(10, 20), h(10, 40), h(10, 50),
                   h(11, 10), h(11, 30), h(14, 0)],
            "conv_id": [1, 1, 2, 3, 5, 5, 99],
        }
    )
    rows["ts"] = rows["ts"].astype("datetime64[us]")
    rows.to_parquet(src / "a.parquet", index=False)
    stream = spark.readStream.schema("ts timestamp, conv_id long").parquet(str(src))
    out = tmp_path / "wd_out"
    q = (
        windowed_distinct_counts(stream, "ts", "conv_id")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "wd_ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["window_start"].hour: r["n_distinct_est"]
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == {10: 3, 11: 1}  # HLL exact at tiny cardinality; 14h open


def test_windowed_counts_watermark_semantics(spark, tmp_path):
    """Watermarked tumbling windows: a window emits once the watermark passes
    its end; a row arriving after its window closed is DROPPED (late-data
    bound); windows the watermark never passes stay unemitted."""
    import pandas as pd

    from sparkfuse.streaming import windowed_event_counts

    src = tmp_path / "wm_src"
    src.mkdir()
    h = lambda hour, m=0: pd.Timestamp(2024, 1, 1, hour, m)
    # batch a: 3 events in [10:00,11:00), 2 in [11:00,12:00), 1 at 13:30
    # -> after batch a the watermark is 13:30 - 2h = 11:30, STRICTLY past
    # window [10,11)'s end, so that window emits and its state drops
    def write(path, stamps):
        pdf = pd.DataFrame({"ts": stamps})
        # micros, not pandas-default nanos: Spark's schema reader rejects
        # parquet TIMESTAMP(NANOS) as a timestamp column
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(path, index=False)

    out = tmp_path / "wm_out"

    def run_available():
        # one availableNow run per arrived file => guaranteed separate
        # micro-batches with the watermark persisted in the checkpoint
        stream = spark.readStream.schema("ts timestamp").parquet(str(src))
        q = (
            windowed_event_counts(stream, "ts", "1 hour", "2 hours")
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / "wm_ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    write(src / "a.parquet",
          [h(10, 5), h(10, 20), h(10, 40), h(11, 10), h(11, 50), h(13, 30)])
    run_available()  # watermark now 11:30 -> window 10 emitted, state dropped
    # run 2: one LATE row at 10:30 (window 10 already closed -> dropped)
    # and a sentinel at 20:00 -> watermark 18:00: windows 11 and 13 emit;
    # the sentinel's own window (20:00) is never passed -> never emitted
    write(src / "b.parquet", [h(10, 30), h(20)])
    run_available()
    got = {
        r["window_start"].hour: r["n_events"]
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == {10: 3, 11: 2, 13: 1}  # late row dropped, sentinel unemitted


def test_streaming_first_seen_validates_state_shards(spark):
    from sparkfuse.streaming import streaming_first_seen

    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="state_shards"):
        streaming_first_seen(stream, ["value"], state_shards=1)


def _run_first_seen_available_now(spark, src, ck, out, **kw):
    from sparkfuse.streaming import streaming_first_seen

    stream = spark.readStream.schema("k long").parquet(str(src))
    deduped = streaming_first_seen(stream, ["k"], checkpoint=str(ck), **kw)
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ck))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def test_first_seen_checkpoint_layout_guard(spark, tmp_path):
    import pandas as pd

    from sparkfuse.streaming import streaming_first_seen

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"k": range(100)}).to_parquet(src / "a.parquet")
    ck, out = tmp_path / "ck", tmp_path / "out"
    _run_first_seen_available_now(spark, src, ck, out, state_shards=8)
    assert (ck / "_sparkfuse_first_seen_meta.json").exists()
    # same layout restarts fine (no new emissions for repeated keys)
    _run_first_seen_available_now(spark, src, ck, out, state_shards=8)
    # a DIFFERENT effective shard count against the same checkpoint fails
    # loudly at query build time, before any state is touched
    stream = spark.readStream.schema("k long").parquet(str(src))
    with pytest.raises(ValueError, match="shard_bits"):
        streaming_first_seen(stream, ["k"], state_shards=16, checkpoint=str(ck))
    # non-power-of-two requests resolve to the same layout -> accepted
    streaming_first_seen(stream, ["k"], state_shards=7, checkpoint=str(ck))


def test_first_seen_state_key_budget_fails_loudly(spark, tmp_path):
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"k": range(2000)}).to_parquet(src / "a.parquet")
    with pytest.raises(Exception, match="state_key_budget"):
        _run_first_seen_available_now(
            spark, src, tmp_path / "ck", tmp_path / "out",
            state_shards=2, state_key_budget=100,
        )


def test_first_seen_repeat_batches_write_no_state(spark, tmp_path):
    """Write-amplification bound: a batch bringing a shard no new keys skips
    state.update, so its state-store delta files stay ~empty while the
    first (all-new) batch writes the full seen-set."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    ck, out = tmp_path / "ck", tmp_path / "out"
    pd.DataFrame({"k": range(5000)}).to_parquet(src / "a.parquet")
    _run_first_seen_available_now(spark, src, ck, out, state_shards=4)
    # second availableNow run, repeats only
    pd.DataFrame({"k": range(5000)}).to_parquet(src / "b.parquet")
    _run_first_seen_available_now(spark, src, ck, out, state_shards=4)
    state_root = ck / "state" / "0"
    deltas = {}  # batch version -> total delta bytes across partitions
    for f in state_root.rglob("*.delta"):
        v = int(f.name.split(".")[0])
        deltas[v] = deltas.get(v, 0) + f.stat().st_size
    assert set(deltas) >= {1, 2}, deltas
    # batch 1 persisted ~5000 keys * 8B; batch 2 persisted nothing but
    # store framing — two orders of magnitude apart, assert one
    assert deltas[2] * 10 <= deltas[1], deltas
    # and no rows were re-emitted
    assert spark.read.parquet(str(out)).count() == 5000


def test_epoch_sink_probe_driver_free(spark, tmp_path):
    """approx_contains_epoch_sink probes an UNCOMPACTED multi-epoch sink
    with zero driver-side collects: verdicts are identical (incl. false
    positives) to the EpochForest closure-broadcast path, and appending a
    new epoch invalidates the worker cache on the next query."""
    from sparkfuse.probe import approx_contains, approx_contains_epoch_sink
    from sparkfuse.streaming import EpochForest, forest_append_batch

    path = str(tmp_path / "ef_sink")
    a = spark.range(0, 3000).select(F.col("id").alias("k"))
    b = spark.range(3000, 6000).select(F.col("id").alias("k"))
    forest_append_batch(a, 0, path, ["k"], shard_bits=2)
    forest_append_batch(b, 1, path, ["k"], shard_bits=2)

    probes = (
        spark.range(9000)
        .select(F.xxhash64("id").alias("key"), (F.col("id") < 6000).alias("member"))
    )
    got = approx_contains_epoch_sink(probes, "key", path, shard_bits=2)
    rows = {r["key"]: r for r in got.collect()}
    # zero FN over both epochs
    assert all(r["maybe_member"] for r in rows.values() if r["member"])
    # verdict-identical to the driver-broadcast EpochForest path (incl. FPs)
    ref = EpochForest.load(spark, path, shard_bits=2)
    ref_rows = {
        r["key"]: r["maybe_member"]
        for r in approx_contains(probes, "key", ref, spark).collect()
    }
    assert {k: r["maybe_member"] for k, r in rows.items()} == ref_rows

    # append epoch 2 -> the file-listing fingerprint invalidates worker
    # caches, so a fresh query sees the new keys as members
    c = spark.range(6000, 9000).select(F.col("id").alias("k"))
    forest_append_batch(c, 2, path, ["k"], shard_bits=2)
    got2 = approx_contains_epoch_sink(probes, "key", path, shard_bits=2)
    assert got2.filter(~F.col("maybe_member")).count() == 0  # all 9000 member


def test_epoch_fpp_grows_with_epochs_and_compaction_restores(spark, tmp_path):
    """PLANS.md §15 cost model: k uncompacted epochs OR k filters, so fpp
    grows ~k·2^-width — and compaction restores the single-filter rate.
    Measured with 200k absent probes against 4 disjoint epochs."""
    import pandas as pd

    from sparkfuse.streaming import EpochForest, forest_append_batch

    path = str(tmp_path / "fpp_sink")
    n_per = 20_000
    for e in range(4):
        keys = spark.range(e * n_per, (e + 1) * n_per).select(F.col("id").alias("k"))
        forest_append_batch(keys, e, path, ["k"], shard_bits=1)
    ef = EpochForest.load(spark, path, shard_bits=1)
    assert ef.n_epochs == 4
    absent = np.array(
        [r[0] for r in spark.range(10**9, 10**9 + 200_000)
         .select(F.xxhash64("id")).collect()],
        dtype=np.int64,
    )
    fpp_epochs = ef.contains_np(absent).mean()
    # compacted twin over the SAME key set
    all_keys = spark.range(4 * n_per).select(F.xxhash64("id").alias("key"))
    compacted = compact_forest(
        spark, all_keys, path, str(tmp_path / "fpp_compact"), shard_bits=1
    )
    fpp_single = Forest.from_df(compacted).contains_np(absent).mean()
    # fuse8 single-filter fpp ≈ 0.4%; 4 epochs ≈ 4x (union bound, minus
    # negligible overlap). Statistical bounds are loose but decisive:
    assert 0.001 < fpp_single < 0.008, fpp_single
    assert 2.5 * fpp_single < fpp_epochs < 6.0 * fpp_single, (
        fpp_epochs, fpp_single,
    )


def test_epoch_forest_rejects_mismatched_shard_bits(spark, tmp_path):
    """A shard_bits value that differs from the sink rows' recorded build
    value mis-decomposes the epoch tag and silently mis-routes probes
    (measured ~50% false negatives at a one-bit mismatch) — both the driver
    path and the worker-side sink probe must fail loudly instead."""
    from sparkfuse.probe import approx_contains_epoch_sink
    from sparkfuse.streaming import EpochForest, forest_append_batch

    path = str(tmp_path / "ef_mismatch")
    keys = spark.range(2000).select(F.col("id").alias("k"))
    forest_append_batch(keys, 0, path, ["k"], shard_bits=2)
    for wrong in (1, 3):
        with pytest.raises(ValueError, match="shard_bits"):
            EpochForest.load(spark, path, shard_bits=wrong)
        probes = spark.range(100).select(F.xxhash64("id").alias("key"))
        with pytest.raises(Exception, match="shard_bits"):
            approx_contains_epoch_sink(
                probes, "key", path, shard_bits=wrong
            ).collect()
    # the correct value still works
    assert EpochForest.load(spark, path, shard_bits=2).n_epochs == 1


def test_epoch_sink_probe_enforces_replication_budget(spark, tmp_path):
    """The epoch-sink probe replicates the whole sink per worker, and an
    uncompacted stream grows without bound — an over-budget sink must fail
    at plan time with the compaction remediation, not OOM executors."""
    from sparkfuse.probe import approx_contains_epoch_sink
    from sparkfuse.streaming import forest_append_batch

    path = str(tmp_path / "budget_sink")
    keys = spark.range(50_000).select(F.col("id").alias("k"))
    forest_append_batch(keys, 0, path, ["k"], shard_bits=1)
    probes = spark.range(100).select(F.xxhash64("id").alias("key"))
    with pytest.raises(ValueError, match="compact"):
        approx_contains_epoch_sink(
            probes, "key", path, shard_bits=1, replication_budget=1024
        )
    # -1 disables; the default (512m) accommodates the tiny sink
    assert (
        approx_contains_epoch_sink(
            probes, "key", path, shard_bits=1, replication_budget=-1
        ).count()
        == 100
    )
    assert (
        approx_contains_epoch_sink(probes, "key", path, shard_bits=1).count()
        == 100
    )


def test_epoch_forest_probe_udf(spark, tmp_path):
    """EpochForest duck-types contains_np, so the column-level probe UDF
    (and therefore exact joins) work over a streamed forest too."""
    import pandas as pd

    from sparkfuse.probe import approx_contains
    from sparkfuse.streaming import EpochForest, stream_forest

    src = tmp_path / "src3"
    src.mkdir()
    pd.DataFrame({"k": range(0, 2000)}).to_parquet(src / "a.parquet")
    pd.DataFrame({"k": range(2000, 4000)}).to_parquet(src / "b.parquet")
    q = stream_forest(
        spark.readStream.schema("k long").option("maxFilesPerTrigger", 1).parquet(str(src)),
        str(tmp_path / "f3"), str(tmp_path / "ck3"), ["k"], shard_bits=1,
    )
    q.awaitTermination(300)
    ef = EpochForest.load(spark, str(tmp_path / "f3"), shard_bits=1)
    keys = spark.range(4000).select(F.xxhash64("id").alias("key"))
    flagged = approx_contains(keys, "key", ef, spark)
    assert flagged.filter(~F.col("maybe_member")).count() == 0


def test_epoch_forest_load_rejects_flipped_payload_byte(spark, tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "forest")
    keys = spark.range(4000).select(F.col("id").alias("k"))
    forest_append_batch(keys, 0, path, ["k"], shard_bits=1)
    table = pq.read_table(path)
    rows = table.to_pylist()
    payload = bytearray(rows[0]["payload"])
    payload[-1] ^= 0xFF
    rows[0]["payload"] = bytes(payload)
    bad = str(tmp_path / "corrupt")
    os.makedirs(bad)
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema),
                   os.path.join(bad, "part-0.parquet"))
    with pytest.raises(
        ValueError, match=f"shard {rows[0]['shard']} does not match its content_sha256"
    ):
        EpochForest.load(spark, bad, shard_bits=1)
