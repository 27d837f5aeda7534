"""Incremental forest maintenance with Structured Streaming.

The reference has no streaming concepts — a filter is immutable and cannot
absorb inserts (/root/reference/README.md:50, SURVEY.md §1.1). The natural
streaming extension of the forest model is therefore **epoch append**: each
micro-batch builds filters over ITS OWN new keys and appends them as new
forest rows tagged with the batch epoch; nothing is ever rewritten. A key is
"in the stream so far" iff any epoch's filter for its shard says so. That OR
over epochs is ``EpochForest``'s alone: it strips the epoch tag and probes
one ``Forest`` per epoch. A batch ``Forest`` holds one filter per shard — it
decodes a replayed row once and refuses two different payloads for one
shard, and every forest placement refuses an epoch sink's out-of-range
shard ids — so probe an epoch sink with ``probe.approx_contains_epoch_sink``
(or ``EpochForest``), or compact it into one forest first.

Cost model at scale: probing k epochs costs k gathers; compaction = read the
deduped keys of many epochs, rebuild one filter, atomically replace (the
determinism of builds makes replacement verifiable by content hash). Run
``compact_forest`` on a cadence that bounds epoch count.

Plan shape per micro-batch (foreachBatch; ``shard_bits`` is explicit, so no
planning job runs):

    micro-batch df → xxhash64 keys, shard (codegen) →
    repartitionById(2^shard_bits, shard) → groupBy(shard).applyInPandas(build
    kernel) → append to forest parquet sink

foreachBatch (not a custom streaming sink) is the idiomatic choice: the
build is a batch aggregation per epoch, and the parquet append is atomic per
task with exactly-once via the streaming checkpoint.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from sparkfuse.forest import Forest, _check_payload_sha, build_forest, write_forest


def forest_append_batch(
    batch_df: DataFrame,
    epoch_id: int,
    path: str,
    key_cols: list[str],
    **build_kwargs,
) -> None:
    """foreachBatch body: build this epoch's shard filters and append them.

    The epoch id is recorded by reusing the ``shard`` column's high bits:
    shard' = epoch * 2^shard_bits + shard, so rows stay unique per
    (epoch, shard) and the plain parquet sink needs no upsert.

    shard_bits must be EXPLICIT (like resumable builds): if build_forest were
    left to plan it per micro-batch, the epoch tag arithmetic and the probe
    routing would disagree across epochs and shard ids would collide.
    """
    shard_bits = build_kwargs.get("shard_bits")
    if not isinstance(shard_bits, int):
        raise ValueError("streaming forest appends require explicit shard_bits")
    keys = batch_df.select(F.xxhash64(*key_cols).alias("key"))
    if keys.isEmpty():
        return
    forest_df = build_forest(keys, **build_kwargs)
    tagged = forest_df.withColumn(
        "shard",
        (F.lit(int(epoch_id)) * (1 << shard_bits) + F.col("shard")).cast("long"),
    )
    write_forest(tagged, path, mode="append")


def stream_forest(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    trigger_available_now: bool = True,
    **build_kwargs,
):
    """Wire a streaming DataFrame into epoch-appended forest maintenance.

    Returns the StreamingQuery. Exactly-once: the streaming checkpoint
    replays a failed epoch, and the deterministic build writes identical
    rows, so a replayed append is a harmless duplicate (same content hash;
    readers drop exact dups)."""

    def _batch(df: DataFrame, epoch_id: int) -> None:
        forest_append_batch(df, epoch_id, path, key_cols, **build_kwargs)

    writer = stream_df.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class EpochForest:
    """Probe handle over an epoch-appended forest: a key may be present in
    ANY epoch, so contains = OR over the epoch filters of the key's shard."""

    def __init__(self, rows, shard_bits: int):
        import numpy as np

        self.shard_bits = shard_bits
        self.epochs: dict[int, Forest] = {}
        by_epoch: dict[int, list] = {}
        mod = 1 << shard_bits
        for r in rows:
            d = r.asDict() if hasattr(r, "asDict") else dict(r)
            # every sink row records the shard_bits it was BUILT with — a
            # mismatched value here would mis-decompose the epoch tag
            # (shard' = epoch * 2^bits + shard) and silently route probes to
            # the wrong filters: reproduced 50% FALSE NEGATIVES at a
            # one-bit mismatch. Fail loudly instead (the zero-FN invariant
            # is the library's core contract).
            if d["shard_bits"] != shard_bits:
                raise ValueError(
                    f"epoch sink was built with shard_bits={d['shard_bits']} "
                    f"but this probe was given shard_bits={shard_bits}: the "
                    "epoch/shard decomposition would be wrong and probes "
                    "would silently return false negatives. Pass the "
                    "stream_forest build value."
                )
            epoch = d["shard"] >> shard_bits
            d = dict(d)
            d["shard"] = d["shard"] % mod
            by_epoch.setdefault(epoch, []).append(d)
        for epoch, rs in by_epoch.items():
            self.epochs[epoch] = Forest(rs)

    @classmethod
    def load(cls, spark: SparkSession, path: str, shard_bits: int) -> "EpochForest":
        """DRIVER-side load: collects one row per (epoch, shard) to the
        driver and probes via closure broadcast. Fine for compacted sinks
        (bounded epoch count); for long-running uncompacted streams the
        row count grows without bound and the driver becomes the ceiling —
        probe those through ``probe.approx_contains_epoch_sink``, which
        loads the sink worker-side (no driver bytes, no key shuffle).
        Every payload is checked against its content_sha256."""
        rows = spark.read.parquet(path).collect()
        forest = cls(rows, shard_bits)
        _check_payload_sha(rows, path)
        return forest

    def contains_np(self, keys_i64):
        import numpy as np

        out = np.zeros(len(keys_i64), dtype=bool)
        for forest in self.epochs.values():
            out |= forest.contains_np(keys_i64)
        return out

    @property
    def n_epochs(self) -> int:
        return len(self.epochs)


def _check_state_layout(checkpoint: str, shard_bits: int) -> None:
    """Persist the effective shard layout next to the checkpoint and FAIL
    LOUDLY on mismatch: restarting a checkpointed first-seen query with a
    different shard count re-groups keys against the wrong seen-sets and
    silently re-emits already-seen keys. The metadata file makes that
    misconfiguration an error at query build time instead.

    (Local/NFS paths only — the same filesystems the HDFSBackedStateStore
    checkpoint itself can use in this mode; for object-store checkpoints
    persist the layout in your job config instead.)
    """
    import json
    import os

    if "://" in checkpoint:
        raise ValueError(
            f"checkpoint {checkpoint!r} is a scheme-qualified URI: the local "
            "layout guard cannot reach it, and silently skipping the check "
            "would give false protection. For object-store checkpoints pin "
            "state_shards in your job config (it must never change for the "
            "checkpoint's lifetime) and pass checkpoint=None here."
        )
    meta_path = os.path.join(checkpoint, "_sparkfuse_first_seen_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            saved = json.load(f)
        if saved.get("shard_bits") != shard_bits:
            raise ValueError(
                f"checkpoint {checkpoint!r} was created with shard_bits="
                f"{saved.get('shard_bits')} (state_shards="
                f"{saved.get('state_shards_effective')}), but this query "
                f"derives shard_bits={shard_bits}. Restarting with a "
                "different shard layout would re-group keys against the "
                "wrong seen-sets and re-emit already-seen keys. Use the "
                "original state_shards, or start a fresh checkpoint."
            )
        return
    os.makedirs(checkpoint, exist_ok=True)
    with open(meta_path, "w") as f:
        json.dump(
            {"shard_bits": shard_bits, "state_shards_effective": 1 << shard_bits},
            f,
        )


def streaming_first_seen(
    stream_df: DataFrame,
    key_cols: list[str],
    state_shards: int = 64,
    checkpoint: str | None = None,
    state_key_budget: int | None = None,
):
    """Streaming EXACT dedup: emit each key's FIRST occurrence only, across
    micro-batches, via a custom stateful operator (applyInPandasWithState).

    The stream is grouped by a state shard (top bits of xxhash64(key), the
    same routing rule as the forest) so state is spread over ``state_shards``
    groups instead of one group per key — per-key grouping would make the
    state store enormous and the shuffle per-batch O(distinct keys). Each
    group's state is the set of seen 64-bit hashes (stored as binary);
    within a batch the kernel also dedups batch-local repeats.

    State-growth contract (exact dedup needs Ω(distinct) state; the knobs
    bound the *write amplification* and make exhaustion loud, they cannot
    remove the lower bound):

    * batches that bring a shard NO new keys skip ``state.update`` entirely —
      the per-batch state write is proportional to the DIRTY shards only
      (tested: a repeat-only batch writes ~no state delta);
    * ``state_key_budget`` (per-shard): exceeding it raises mid-stream with
      remediation guidance (compact history into an epoch forest via
      ``stream_forest``+``compact_forest`` and restart first-seen fresh, or
      re-plan with more state_shards on a NEW checkpoint) — loud beats a
      state store that degrades towards per-batch full rewrites;
    * ``checkpoint`` (recommended): persists the effective shard layout next
      to the checkpoint dir and fails loudly if a restart would change it —
      a silently changed layout re-emits already-seen keys;
    * at cluster scale run under the RocksDB state store provider
      (``spark.sql.streaming.stateStore.providerClass`` =
      ``...RocksDBStateStoreProvider``): changelog-based checkpointing turns
      the per-batch blob rewrite into an incremental write.

    This is the streaming analog of ``dedup.exact_dedup`` and the stateful
    complement to the epoch forest (approximate, immutable) — use this when
    the pipeline needs exact first-occurrence semantics on a stream (e.g.
    training-data ingestion dropping repeated documents).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [StructField("key", LongType(), False)]
    )
    state_schema = StructType([StructField("seen", BinaryType(), True)])

    def dedup_fn(group_key, pdfs, state: GroupState):
        import numpy as np

        # state is kept SORTED so membership is searchsorted (no per-batch
        # re-sort of the full history), and state.update is skipped entirely
        # when a batch brings nothing new. The remaining cost is the full
        # blob rewrite on batches WITH new keys — bounded-growth streams are
        # fine; for unbounded-cardinality streams chunk the state across
        # more shards (state_shards) or compact to an epoch forest.
        if state.exists:
            (seen_bytes,) = state.get
            seen = np.frombuffer(seen_bytes, dtype=np.int64)
        else:
            seen = np.empty(0, dtype=np.int64)
        fresh_parts = []
        for pdf in pdfs:
            keys = pd.unique(pdf["key"].to_numpy())  # batch-local, keeps first
            if len(seen):
                pos = np.minimum(np.searchsorted(seen, keys), len(seen) - 1)
                known = seen[pos] == keys
            else:
                known = np.zeros(len(keys), dtype=bool)
            new = keys[~known]
            if len(new):
                fresh_parts.append(new)
                seen = np.sort(np.concatenate([seen, new]), kind="stable")
        if fresh_parts:
            if state_key_budget is not None and len(seen) > state_key_budget:
                raise RuntimeError(
                    f"first-seen state shard {group_key[0]} exceeded "
                    f"state_key_budget={state_key_budget} ({len(seen)} keys). "
                    "Compact history into an epoch forest (stream_forest + "
                    "compact_forest) and restart first-seen fresh, or re-plan "
                    "with more state_shards on a NEW checkpoint."
                )
            state.update((seen.astype(np.int64).tobytes(),))
            yield pd.DataFrame({"key": np.concatenate(fresh_parts)})

    if state_shards < 2:
        raise ValueError(f"state_shards must be >= 2, got {state_shards}")
    # Non-power-of-two shard counts round UP to the next power of two (shard
    # id is a top-bits slice, so the group count must be 2^bits): 100 -> 128.
    # The effective shard count is part of the state layout — pass
    # ``checkpoint`` so a restart that would change it fails loudly instead
    # of silently re-emitting old keys.
    shard_bits = (state_shards - 1).bit_length()
    if checkpoint is not None:
        _check_state_layout(checkpoint, shard_bits)
    keyed = stream_df.select(F.xxhash64(*key_cols).alias("key")).withColumn(
        "_shard",
        F.shiftrightunsigned(F.xxhash64("key"), 64 - shard_bits),
    )
    return keyed.groupBy("_shard").applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    extra_keys: tuple = (),
) -> DataFrame:
    """Watermarked tumbling-window counts — the late-data-bounded streaming
    rollup. Append-mode compatible: a window emits once the watermark
    (max event time − ``watermark``) passes its end, and events arriving
    after that are dropped, which BOUNDS state at (watermark / window) open
    windows per key — the property that keeps this runnable forever on a
    10^12-turn stream. Tumbling windows never overlap, so counts partial-
    aggregate map-side like any groupBy.
    """
    keys = [F.col(k) for k in extra_keys]
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *extra_keys,
            "n_events",
        )
    )


def windowed_distinct_counts(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    rsd: float = 0.02,
    extra_keys: tuple = (),
) -> DataFrame:
    """Watermarked per-window APPROXIMATE distinct counts (e.g. distinct
    conv_ids per hour) — the bounded-state streaming complement to
    ``streaming_first_seen`` (exact, Ω(distinct) state): state here is one
    HLL++ sketch per open window (~KBs at rsd 2%), emitted once the
    watermark closes the window, so it runs forever on an unbounded stream.

    Uses the built-in ``approx_count_distinct`` (HLL++ partial aggregation —
    the same mergeable-state plan shape as sparkfuse.sketches, executed
    wholly inside Tungsten). No hash-correlation hazard here (unlike
    grouping by a shard id sliced from the key's own xxhash64, which
    collapses the HLL estimate — see forest._plan_widths): the grouping key
    is the time window, not a slice of the key's own hash.
    """
    keys = [F.col(k) for k in extra_keys]
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration), *keys)
        .agg(F.approx_count_distinct(key_col, rsd).alias("n_distinct_est"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *extra_keys,
            "n_distinct_est",
        )
    )


def compact_forest(
    spark: SparkSession,
    keys_df: DataFrame,
    path: str,
    compacted_path: str,
    **build_kwargs,
) -> DataFrame:
    """Rebuild one filter-set over the full (deduped) key set and write it to
    ``compacted_path`` — the epoch-bounding maintenance step. Deterministic,
    so re-running compaction is idempotent (identical content hashes)."""
    forest_df = build_forest(keys_df, **build_kwargs)
    write_forest(forest_df, compacted_path, mode="overwrite")
    return spark.read.parquet(compacted_path)
