"""Membership queries (SURVEY.md §2.3, P1-P3 Spark surface).

The reference filter is immutable — build once, use many times — so a probe
does one thing: load a filter and gather against it. This module holds the
places that probe can run, over one of each shared piece:

* **One sink handle.** ``_sink(path)`` lists a sink once per plan and
  returns (path, listing or None, plan token); the token comes from the
  listing's content (``_sink_plan_token``), or is random per plan when the
  driver cannot list the sink yet. Every sink form — hybrid, epoch,
  routed-sink, the planner's — takes its listing and token from it.
* **One sink loader.** ``_load_cached_from_sink`` reads a parquet forest
  sink with pyarrow — the whole sink, or one shard by parquet pushdown on
  ``shard`` — checks each payload against its ``content_sha256`` (a
  flipped fingerprint byte would otherwise turn into silent false
  negatives) and caches the result per process, keyed by the sink's file
  listing. Workers and the planning driver share it. Every module cache is
  written through ``_cache_put``, under one lock, since the driver may plan
  from several threads.
* **One row→filter decoder.** ``forest._decode_shard_rows`` turns sink rows
  into filters for ``Forest``, the routed cogroup kernel and the per-shard
  sink load alike: replayed rows decode once, a shard with two different
  payloads fails loudly.
* **One probe UDF, one probe column.** ``_probe_udf`` builds every scalar
  probe UDF (the broadcast ``probe``, the hybrid ``probe_sink``, the epoch
  ``probe_epochs`` and the routed-sink ``probe_shards``) and pins it where
  it was written. ``_probe_column`` is the one way the key-only forms add
  their verdict column: it refuses an output column the frame already
  has, as the routed forms do, so every placement fails the same way.
* **One exact plan.** ``_exact_member`` is every exact-membership plan:
  prescreen, keep the survivors, semi-join them against ``_build_keys``.
  Keyed (the routed regimes) it dedups the probe keys first, so only
  8-byte keys cross the shard shuffle. Its helper column is the reserved
  ``_sf_maybe``, so a user column is never dropped or overwritten.

The placements:

* ``approx_contains`` / ``approx_contains_arrow`` — a broadcast forest
  (zero false negatives, bounded false positives); the ``mapInArrow`` form
  is the keys-only fast path.
* ``exact_member_semi_join`` — fuse-prescreen THEN exact-confirm semi-join.
  At 100 TB this is the point of the whole library: the prescreen removes
  ~all non-members *before* the shuffle, so the exact join moves only
  (true members + ~0.4% FPs) instead of the full probe table.
* ``exact_anti_join`` — complement (definitely-absent prescreen + anti-join),
  mirroring the reference's ground-truth validation direction.
* ``approx_contains_sink`` / ``approx_contains_epoch_sink`` — HYBRID
  replication: each Python worker loads the whole forest (or epoch set) from
  its sink and probes locally. No driver bytes, no broadcast, no probe-key
  shuffle. Replicating an R-byte forest to E executors costs R·E bytes of
  storage reads ONCE; routing K probe keys costs 8·K shuffle bytes EVERY
  query, so the hybrid wins everywhere the forest fits executor memory.
* ``approx_contains_routed_sink`` — probes shuffle once to analytically
  chosen partitions (inverse-hash routing tags: contiguous shard ranges per
  task, no sampling pass) and each task loads only ITS shard filters.
* ``approx_contains_routed`` / ``exact_member_routed`` — the sink-less big
  forest: a cogrouped shard join against the forest TABLE, so no payload
  touches the driver and no monolithic broadcast is built.
* ``probe_forest`` / ``exact_member_forest`` — the planner, three regimes
  by forest payload bytes: ≤ broadcast threshold → broadcast; ≤ replication
  budget (conf ``sparkfuse.probe.replicationBudget``, default 512m) AND a
  sink → hybrid; else routed (routed-sink with a ``sink_path``, the cogroup
  without). With a listable ``sink_path`` the driver reads the sink through
  the workers' loader, stopping once the payload bytes pass the broadcast
  threshold, so a broadcast-sized forest is planned and loaded with no
  Spark job. Only bigger forests, unlistable sinks and sink-less calls pay
  the Spark payload-size aggregate.

Every non-epoch placement refuses an epoch-appended sink by name (its
shard ids run past ``2^shard_bits`` — ``forest._uniform_layout``);
probe those with ``approx_contains_epoch_sink``.
"""

from __future__ import annotations

import hashlib
import os
import re
import threading

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from sparkfuse.forest import (
    _LAYOUT_FIELDS,
    Forest,
    _check_payload_sha,
    _decode_shard_rows,
    _uniform_layout,
)
from sparkfuse.hashing import to_u64
from sparkfuse.keys import shard_column


def _probe_udf(name: str, probe):
    """The one probe-column construction: a scalar pandas_udf named
    ``name`` (the name plans show) over ``probe(*numpy columns) -> bool
    array``."""

    def udf(*cols: pd.Series) -> pd.Series:
        return pd.Series(probe(*(c.to_numpy() for c in cols)))

    udf.__name__ = name
    # The probe IS deterministic, but marking it so lets Catalyst's
    # InferFiltersFromConstraints copy the predicate through the
    # exact-confirm equi-join onto the BUILD side — a wasted full Arrow pass
    # over the true key set (every member passes by the zero-FN invariant).
    # asNondeterministic() pins the probe where it was written: on the
    # probe side, and for the routed-sink probe above its tag-route
    # exchange, whose per-partition shard locality is the whole point.
    # (Verified via .explain: see PLANS.md.)
    return F.pandas_udf(udf, BooleanType()).asNondeterministic()


def _probe_column(df: DataFrame, key: str | Column, out: str, name: str, load) -> DataFrame:
    """``df`` plus the verdict column ``out``: the ``_probe_udf`` named
    ``name`` over ``key``, probing ``load()`` — the probe handle (a Forest
    or EpochForest) as the worker gets it. An ``out`` that ``df`` already
    has is refused, as every placement refuses it."""
    _verdict_schema(df, out)
    col = F.col(key) if isinstance(key, str) else key
    return df.withColumn(out, _probe_udf(name, lambda keys: load().contains_np(keys))(col))


def _forest_loader(forest: Forest, spark):
    """``() -> forest`` on the worker. With a session the forest goes out as
    an explicit SparkContext broadcast, so a multi-MB forest ships once per
    executor, not once per task closure."""
    if spark is None:
        return lambda: forest
    bc = spark.sparkContext.broadcast(forest)
    return lambda: bc.value


def approx_contains_udf(forest: Forest, spark=None):
    """Vectorized membership UDF over the broadcast forest."""
    load = _forest_loader(forest, spark)
    return _probe_udf("probe", lambda keys: load().contains_np(keys))


def approx_contains(
    df: DataFrame, key: str | Column, forest: Forest, spark=None, out: str = "maybe_member"
) -> DataFrame:
    return _probe_column(df, key, out, "probe", _forest_loader(forest, spark))


def approx_contains_arrow(
    df: DataFrame, key: str, forest: Forest, spark, out: str = "maybe_member"
) -> DataFrame:
    """Membership column via ``mapInArrow`` — the keys-only fast path.
    Measured on a 4-vCPU VM (``local[4]``, 4M keys-only probes against a
    600k-key, 4-shard fuse8 forest, two sets of 15 alternating runs): it
    beat the pandas_udf in 18 of 30 (medians 0.724 vs 0.790 s and 0.768 vs
    0.810 s), and Spark 4.1's scalar ``arrow_udf`` was no better than
    either (16 of 30 against the pandas_udf, 11 of 30 against this form).
    So this form, and the planner's auto-pick of it, stay.

    Session-conf dependency (PLANS.md §17, round-5 root cause): Spark 4's
    mapInArrow input writer checks ``spark.sql.execution.arrow.
    maxBytesPerBatch`` (default 64m) by calling ``ArrowWriter.sizeInBytes``
    — a full vector walk — PER INPUT ROW. That walk is what made this path
    measure 2-3x SLOWER in rounds 3-4 once any cogroup/applyInArrow query
    had polluted the shared JIT call sites (jstack-confirmed). ``get_spark``
    sets the conf to Int.MaxValue (the writer's documented short-circuit),
    which removes the per-row walk entirely; in a session WITHOUT that
    conf this path can degrade below the pandas_udf, so only prefer it in
    sessions built by ``get_spark`` (or set the conf yourself).

    Tradeoff vs ``approx_contains``: mapInArrow ships EVERY column of
    ``df`` through the Arrow channel both ways, while the pandas_udf ships
    only the key series and a boolean back — use this for narrow (ideally
    keys-only) probe frames; use the UDF column form for wide rows.
    """
    import pyarrow as pa

    out_schema = _verdict_schema(df, out)
    load = _forest_loader(forest, spark)
    names = list(df.columns) + [out]
    key_idx = df.columns.index(key)

    def probe_batches(batches):
        f = load()
        for batch in batches:
            arr = batch.column(key_idx).to_numpy(zero_copy_only=False)
            verdict = f.contains_np(arr)
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [pa.array(verdict)], names=names
            )

    return df.mapInArrow(probe_batches, out_schema)


def _verdict_schema(df: DataFrame, out: str, reserved: tuple = ()) -> StructType:
    """``df``'s schema plus the boolean ``out`` column, once neither ``out``
    nor a ``reserved`` helper column is taken."""
    cols = df.columns
    if out in cols:
        raise ValueError(f"output column {out!r} already exists")
    for name in reserved:
        if name in cols:
            raise ValueError(f"probe_df already has a {name!r} column (reserved)")
    return StructType(list(df.schema.fields) + [StructField(out, BooleanType(), False)])


# Per-process sink caches, shared by the worker-side probes and the
# planning driver. Whole-sink loads, as (handle, payload bytes): the hybrid
# Forest and EpochForest probes and the planner's broadcast read. Sized for
# 4 live sinks x (content key + per-query memo key) — a workload
# alternating across more sinks than that re-reads from storage each query.
_SINK_FOREST_CACHE: dict = {}
_SINK_CACHE_MAX = 8
# Shard filters are ~2 MB each, whole forests much bigger: separate cache
# with its own cap so routed-sink and hybrid probes never thrash each other.
_SHARD_FILTER_CACHE: dict = {}
_SHARD_CACHE_MAX = 128
# Per-(path, plan_token) memo of the sink listing: one LIST per worker per
# query, shared across every shard load of that query.
_SINK_LISTING_MEMO: dict = {}
# Driver-side forest-layout metadata per sink content fingerprint.
_SINK_META_CACHE: dict = {}
# the driver may plan from several threads: eviction + insert is one step
_SINK_CACHE_LOCK = threading.Lock()
# handle of a whole-sink read that stopped past its byte limit
_STOPPED = object()


def _cache_put(cache: dict, cap: int, entries: dict) -> None:
    """Evict ``cache``'s oldest entries below ``cap``, then insert
    ``entries`` — under the lock: the one writer of every sink cache."""
    with _SINK_CACHE_LOCK:
        while len(cache) >= cap:
            cache.pop(next(iter(cache)))
        cache.update(entries)


def _sink_fingerprint(path: str):
    """(filesystem, data files, cache key) for a forest parquet sink.

    Follows Spark's sink convention: files whose base name starts with
    ``_`` or ``.`` (``_SUCCESS``, hidden markers) are metadata, not data.
    Works for local paths and any pyarrow-supported URI (s3://, hdfs://) —
    the executor reads the sink directly; the driver never touches payloads.
    The key covers (name, size, mtime) per file so an in-place rewrite with
    same-named same-sized files still invalidates the worker cache.
    """
    from pyarrow import fs as pafs

    if "://" in path:
        filesystem, base = pafs.FileSystem.from_uri(path)
    else:
        filesystem, base = pafs.LocalFileSystem(), path
    infos = filesystem.get_file_info(pafs.FileSelector(base, recursive=True))
    files = sorted(
        (i.path, i.size, getattr(i, "mtime_ns", None) or i.mtime)
        for i in infos
        if i.type == pafs.FileType.File and not i.base_name.startswith(("_", "."))
    )
    if not files:
        raise ValueError(f"no data files in forest sink {path!r}")
    return filesystem, [p for p, _, _ in files], (path, tuple(files))


def _sink_plan_token(content_key) -> str:
    """Plan token derived from a sink's content fingerprint — the ONE
    derivation all sink probes share (three hand-maintained copies would
    silently split the worker memo keyspace if one drifted). Same content
    ⇒ same token ⇒ workers reuse their listing/filter memos across
    queries; any append or rewrite changes the fingerprint and forces a
    fresh listing + reload."""
    return hashlib.sha256(repr(content_key).encode()).hexdigest()[:16]


def _sink(path: str, required: bool = False):
    """The one sink handle: (path, listing, plan token), taken once per plan
    on the driver. The token is fixed at plan time and ships in the probe's
    closure; derived from the listing, it lets repeat queries over an
    unchanged sink skip the per-worker LIST and reuse the worker caches.

    A sink the driver cannot list gives (path, None, a random per-plan
    token), at the old cost of one LIST per worker per query. That keeps
    lazy composition legal — building the probe DataFrame BEFORE the sink
    is written, or on a driver without read access to an executor-only URI;
    executors still fail loudly if the sink never appears. ``required``
    raises the listing error instead."""
    try:
        listing = _sink_fingerprint(path)
    except Exception:
        if required:
            raise
        return path, None, os.urandom(8).hex()
    return path, listing, _sink_plan_token(listing[2])


def _read_sink(
    path: str, filesystem, data_files, build, max_bytes: int | None, shard=None
):
    """(handle, payload bytes) for a whole sink — or, with ``shard``, for
    that shard's rows only (parquet pushdown on the shard column prunes row
    groups; tight when the sink was written clustered —
    ``write_forest(cluster_by_shard=True)``) — streamed record batch by
    record batch. Payload bytes are the sum of every row's payload length,
    replayed rows included — byte-for-byte what ``forest_payload_bytes``
    aggregates. Past ``max_bytes`` the read stops and returns (_STOPPED,
    bytes seen so far), so the caller never holds more than ``max_bytes``
    plus one batch."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    dataset = pads.dataset(data_files, filesystem=filesystem, format="parquet")
    pushdown = None if shard is None else pads.field("shard") == shard
    batches, nbytes = [], 0
    for batch in dataset.to_batches(filter=pushdown):
        nbytes += pc.sum(pc.binary_length(batch.column("payload"))).as_py() or 0
        if max_bytes is not None and nbytes > max_bytes:
            return _STOPPED, nbytes
        batches.append(batch)
    rows = pa.Table.from_batches(batches, schema=dataset.schema).to_pylist()
    _check_payload_sha(rows, path)
    return build(rows), nbytes


def _load_cached_from_sink(
    path: str,
    plan_token: str,
    key_suffix: tuple,
    build,
    max_bytes: int | None = None,
    listing=None,
    shard: int | None = None,
):
    """The one sink loader, on workers and on the planning driver, with a
    two-layer cache: (path, plan_token, *suffix) memoizes WITHIN one query
    plan so the sink listing runs once per worker per query (not once per
    Arrow batch — at object-store latency a per-batch LIST would dominate);
    the content-level (file listing, *suffix) key persists ACROSS queries so
    an unchanged sink is never re-read, and a changed one (append, or
    in-place rewrite — mtime is in the key) reloads on the next query.
    ``build(rows)`` constructs the probe handle from the sink's row dicts;
    ``listing`` is a ``_sink_fingerprint`` the caller already took.

    With ``shard`` only that shard's rows are read, and the result lives in
    the shard cache — including a None from an absent shard, so a partial
    forest costs one read, not one per batch.

    With ``max_bytes`` the result is None when the sink's payload bytes
    exceed it (the read stops there — see ``_read_sink``). That outcome is
    cached too, with the bytes seen, so re-planning over an unchanged
    too-big sink does not read it again."""
    cache, cap = (
        (_SINK_FOREST_CACHE, _SINK_CACHE_MAX) if shard is None
        else (_SHARD_FILTER_CACHE, _SHARD_CACHE_MAX)
    )

    def answers(entry) -> bool:
        # a stopped read only answers "too big" for limits below what it saw
        return entry is not None and (
            entry[0] is not _STOPPED
            or (max_bytes is not None and entry[1] > max_bytes)
        )

    memo_key = (path, plan_token, *key_suffix)
    entry = cache.get(memo_key)
    if not answers(entry):
        if listing is None:
            listing = _SINK_LISTING_MEMO.get((path, plan_token))
            if listing is None:
                listing = _sink_fingerprint(path)
                _cache_put(
                    _SINK_LISTING_MEMO, _SINK_CACHE_MAX, {(path, plan_token): listing}
                )
        filesystem, data_files, base_key = listing
        content_key = (base_key, *key_suffix)
        entry = cache.get(content_key)
        if not answers(entry):
            entry = _read_sink(path, filesystem, data_files, build, max_bytes, shard)
        _cache_put(cache, cap, {content_key: entry, memo_key: entry})
    handle, nbytes = entry
    if max_bytes is not None and nbytes > max_bytes:
        return None
    return handle


def approx_contains_sink(
    df: DataFrame, key: str | Column, sink_path: str, out: str = "maybe_member"
) -> DataFrame:
    """Hybrid replicated probe: membership column against a forest each
    worker loads from ``sink_path`` itself (cached per process).

    The middle regime between broadcast and routed: forests too big for the
    session broadcast budget but small enough to replicate per executor.
    Probe keys never shuffle (the scale killer of the routed path) and the
    driver never sees a payload (the scale killer of the broadcast path).
    The sink version is pinned once per query per worker (plan token), so a
    sink mutated MID-query may be observed at either version per worker;
    across queries the file-listing fingerprint (names+sizes+mtimes)
    guarantees a fresh load after any append or rewrite.
    """
    return _hybrid_probe(df, key, _sink(sink_path), out)


def _hybrid_probe(df: DataFrame, key: str | Column, sink, out: str) -> DataFrame:
    """``approx_contains_sink`` over a sink handle: each worker loads the
    whole forest through the sink loader (see ``_load_cached_from_sink`` for
    the cache contract)."""
    path, _, token = sink
    return _probe_column(
        df, key, out, "probe_sink",
        lambda: _load_cached_from_sink(path, token, (), Forest),
    )


def approx_contains_epoch_sink(
    df: DataFrame,
    key: str | Column,
    sink_path: str,
    shard_bits: int,
    out: str = "maybe_member",
    replication_budget: int | None = None,
) -> DataFrame:
    """Driver-free probe over an epoch-appended STREAMING forest sink: each
    Python worker loads the epoch rows from ``sink_path`` itself (process-
    cached on the sink's file listing, so a newly appended epoch invalidates)
    and ORs the per-epoch verdicts for the key's shard — contains = "seen in
    ANY epoch", the EpochForest merge rule.

    This is the scale-safe replacement for ``EpochForest.load`` (which
    collects every epoch's filter rows TO THE DRIVER and ships them by
    closure — bounded for compacted sinks, but a long-running uncompacted
    stream accumulates one row per (epoch, shard) and re-centralizes the
    probe path on the driver). Here the driver never touches a payload and
    probe keys never shuffle, exactly like ``approx_contains_sink``; the
    epoch sink version is pinned once per query per worker (plan token).

    ``shard_bits`` must be the value the stream was built with
    (``stream_forest(..., shard_bits=)``) — the epoch tag lives in the
    shard column's high bits, so a wrong value mis-decomposes the layout.

    Scale guard: this path REPLICATES the whole epoch sink into every
    Python worker (the hybrid-regime memory model), and an uncompacted
    stream grows its sink without bound — so the sink's on-disk size is
    checked at plan time against the replication budget
    (``sparkfuse.probe.replicationBudget`` session conf, default 512m;
    override per-call with ``replication_budget``, -1 disables). Exceeding
    it raises with the remediation (``compact_forest``) instead of letting
    every executor OOM mid-query.
    """
    from sparkfuse.streaming import EpochForest

    # NOTE: compared against ON-DISK sink bytes here (cheap to list at plan
    # time); the probe_forest planner compares the same knob to in-memory
    # payload bytes — both proxies for worker residency
    budget = replication_budget
    if budget is None:
        budget = _replication_budget(df.sparkSession)
    # with the budget disabled the sink may legitimately not be listable
    # from the driver yet: the handle falls back rather than fail
    path, listing, token = _sink(sink_path, required=budget >= 0)
    if budget >= 0:
        sink_bytes = sum(size for _, size, _ in listing[2][1])
        if sink_bytes > budget:
            raise ValueError(
                f"epoch sink {sink_path!r} is {sink_bytes} bytes, past the "
                f"replication budget {budget}: every worker would load the "
                "full epoch set. Compact the stream (compact_forest) — which "
                "also restores the single-filter fpp — or raise "
                "sparkfuse.probe.replicationBudget / pass replication_budget "
                "(-1 disables)."
            )
    # shard_bits joins the cache key: it changes the (epoch, shard)
    # decomposition, and a value that differs from the rows' recorded build
    # value fails loudly inside EpochForest (mis-routing would produce
    # false negatives)
    return _probe_column(
        df, key, out, "probe_epochs",
        lambda: _load_cached_from_sink(
            path, token, ("epoch", shard_bits),
            lambda rows: EpochForest(rows, shard_bits),
        ),
    )


def exact_member_semi_join(
    probe_df: DataFrame,
    probe_key: str,
    build_df: DataFrame,
    build_key: str,
    forest: Forest,
    spark=None,
) -> DataFrame:
    """Exact membership: prescreen with the filter, then left-semi confirm.

    Zero false negatives ⇒ the prescreen never drops a true member; the semi
    join removes the ~fpp false positives ⇒ result is exact (equals a plain
    semi join, so a plain SQL ``IN`` subquery is a valid oracle). The join
    side only ever sees prescreen survivors — that is the shuffle saving.
    """
    return _exact_member(
        probe_df, probe_key, build_df, build_key,
        lambda df, key, out: approx_contains(df, key, forest, spark, out),
        keyed=False,
    )


def exact_anti_join(
    probe_df: DataFrame,
    probe_key: str,
    build_df: DataFrame,
    build_key: str,
    forest: Forest,
    spark=None,
) -> DataFrame:
    """Exact non-membership: filter-negative rows are definitely absent
    (zero false negatives ⇒ filter-negative cannot be a member); only the
    maybe-positive sliver needs the anti-join shuffle."""
    flagged = approx_contains(probe_df, probe_key, forest, spark, out="_sf_maybe")
    definite = flagged.filter(~F.col("_sf_maybe")).drop("_sf_maybe")
    confirmed_absent = flagged.filter("_sf_maybe").drop("_sf_maybe").join(
        _build_keys(build_df, build_key, probe_key), on=probe_key, how="left_anti"
    )
    return definite.unionByName(confirmed_absent)


def _build_keys(build_df: DataFrame, build_key: str, name: str) -> DataFrame:
    """The distinct build keys as column ``name``: the exact side of every
    confirm and audit."""
    return build_df.select(F.col(build_key).alias(name)).dropDuplicates()


def _exact_member(probe_df: DataFrame, probe_key: str, build_df: DataFrame, build_key: str,
                  prescreen, keyed: bool) -> DataFrame:
    """The one exact-membership plan: ``prescreen(df, key, out)`` adds a
    zero-FN verdict column, its survivors are exact-confirmed by a left-semi
    join against the build keys. The result is exact, so a plain SQL ``IN``
    subquery is a valid oracle.

    Unkeyed, the probe rows are screened in place (the broadcast and hybrid
    prescreens need no shuffle). Keyed, only the deduplicated probe KEY
    column is screened and confirmed — the routed prescreens shuffle by
    shard, and only 8-byte keys should cross that shuffle — and the
    original rows are then semi-joined against the confirmed keys, a set of
    ~(members + fpp·non-members) that AQE typically broadcasts. The helper
    column is the reserved ``_sf_maybe``: a probe frame that has one is
    refused, and every other column is kept."""
    _verdict_schema(probe_df, "_sf_maybe")  # reserved in the keyed plan too
    screened = probe_df.select(probe_key).dropDuplicates() if keyed else probe_df
    maybe = prescreen(screened, probe_key, "_sf_maybe")
    members = maybe.filter(F.col("_sf_maybe")).drop("_sf_maybe").join(
        _build_keys(build_df, build_key, probe_key), on=probe_key, how="left_semi"
    )
    return probe_df.join(members, on=probe_key, how="left_semi") if keyed else members


def _forest_meta(forest_df: DataFrame) -> dict:
    """Read the forest's (tiny) layout metadata — NOT the payloads: one row
    per distinct layout, with its lowest and highest shard id.

    kind/arity/shard_bits/route must be unique (they define the routing and
    probe math) and every shard id in range; width MAY vary per shard
    (budgeted mixed-width forests) and travels per-row through the cogroup
    instead.
    """
    rows = forest_df.groupBy(*_LAYOUT_FIELDS).agg(
        F.min("shard").alias("lo"), F.max("shard").alias("hi")
    ).collect()
    return _uniform_layout(rows, [s for r in rows for s in (r["lo"], r["hi"])])


def approx_contains_routed(
    probe_df: DataFrame,
    key: str,
    forest_df: DataFrame,
    out: str = "maybe_member",
) -> DataFrame:
    """Membership column via a shard-routed cogroup join against the forest
    table — the probe path for forests too big to broadcast.

    Plan: probe rows get their shard id JVM-side (same xxh64-top-bits rule as
    the build, ``keys.shard_column``), then cogroup with the forest table on
    shard: each task receives (probe rows of one shard, that shard's single
    filter row) and runs the vectorized numpy Contains kernel. The driver
    never sees a payload; each shard payload crosses the wire once per probe
    partition it meets, and probe rows shuffle once by shard.

    Routing is bit-identical to ``Forest.contains_np`` (broadcast path) —
    tested equal in tests/test_forest_spark.py. Shards absent from the forest
    (e.g. a partial build) probe as False, matching the broadcast path.

    The per-shard kernel runs through cogrouped ``applyInArrow`` (no pandas
    conversion; measured +24% over applyInPandas at 10M keys vs a 13 MB
    forest). For wide probe rows prefer ``exact_member_routed`` which routes
    only the 8-byte key column through the shard shuffle.

    Session-hygiene caveat (round 5, PLANS.md §17): once any
    cogroup/applyInArrow query runs, ``mapInArrow`` plans in sessions that
    still carry the default ``maxBytesPerBatch`` (64m ⇒ a per-row
    ArrowWriter.sizeInBytes walk) run ~2x slower for the rest of the
    session. ``get_spark`` sessions are immune (Int.MaxValue
    short-circuit), and the library's mapInArrow use — probe_forest's
    keys-only broadcast fast path — is gated on exactly that conf being
    present; the routed/hybrid/sink probes are pandas_udf and unaffected
    either way. If your own pipeline mixes this operator with mapInArrow
    stages in a DEFAULT-conf session, order matters.
    """
    import pyarrow as pa

    meta = _forest_meta(forest_df)
    shard_bits, route = meta["shard_bits"], meta["route"]

    out_schema = _verdict_schema(probe_df, out, ("_sf_shard",))
    cols = list(probe_df.columns)

    def probe_shard(probe_tbl: "pa.Table", forest_tbl: "pa.Table") -> "pa.Table":
        keys_np = probe_tbl.column(key).to_numpy(zero_copy_only=False)
        verdict = np.zeros(len(keys_np), dtype=bool)
        if forest_tbl.num_rows and len(keys_np):
            # one shard's rows: replays decode once, a conflict raises, and
            # the payload read from the table must match its sha
            rows = forest_tbl.to_pylist()
            ((_, filt),) = _decode_shard_rows(rows).values()
            _check_payload_sha(rows)
            verdict = filt.contains(to_u64(keys_np))
        return pa.table(
            [probe_tbl.column(c) for c in cols] + [pa.array(verdict)],
            names=cols + [out],
        )

    tagged = probe_df.withColumn("_sf_shard", shard_column(key, shard_bits, route))
    forest_keyed = forest_df.select(F.col("shard").alias("_sf_shard"), "shard", "kind",
                                    "width", "arity", "payload", "content_sha256")
    return tagged.groupBy("_sf_shard").cogroup(
        forest_keyed.groupBy("_sf_shard")
    ).applyInArrow(probe_shard, out_schema)


def _sink_forest_meta(sink_path: str, listing=None) -> tuple[dict, tuple]:
    """Driver-side (layout metadata, (lowest, highest) shard id) for a
    forest sink, read straight from the parquet files via pyarrow — NO
    Spark job (``_forest_meta(spark.read.parquet(sink))`` is a scan +
    aggregate + collect job per plan construction). Column-pruned: only the
    tiny layout and shard columns are read, never payloads. Cached per sink
    content; ``listing`` is a ``_sink_fingerprint`` the caller already took.

    The shard range is not checked here — an epoch-appended sink has a
    uniform layout too; a plain-forest reader passes it to
    ``_uniform_layout``."""
    import pyarrow.dataset as pads

    filesystem, data_files, content_key = listing or _sink_fingerprint(sink_path)
    meta = _SINK_META_CACHE.get(content_key)
    if meta is None:
        rows = pads.dataset(data_files, filesystem=filesystem, format="parquet").to_table(
            columns=[*_LAYOUT_FIELDS, "shard"]
        ).to_pylist()
        shards = [r["shard"] for r in rows]
        meta = (_uniform_layout(rows), (min(shards), max(shards)))
        _cache_put(_SINK_META_CACHE, _SINK_CACHE_MAX, {content_key: meta})
    return meta


def _load_shard_filter_from_sink(path: str, plan_token: str, shard: int):
    """ONE shard's filter from the forest sink, worker-side, or None when
    the sink holds no row for it (an absent shard probes False — partial
    forest): the sink loader's shard read and cache, decoded by the shared
    row decoder."""
    return _load_cached_from_sink(
        path, plan_token, (shard,),
        lambda rows: _decode_shard_rows(rows, path)[shard][1] if rows else None,
        shard=shard,
    )


def _shuffle_partition_count(spark) -> int:
    """spark.sql.shuffle.partitions as an int, tolerating platforms where
    the conf is non-numeric (e.g. "auto" under auto-optimized shuffle) by
    falling back to the cluster's default parallelism."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


# parts -> tags, memoized per driver process (one tiny job per distinct parts)
_PARTITION_TAG_CACHE: dict[int, list[int]] = {}


def _partition_tags(spark: SparkSession, parts: int) -> list[int]:
    """For each target partition id p in [0, parts): the smallest long t with
    ``pmod(hash(t), parts) == p`` — so ``repartition(parts, lit(t))`` places a
    row EXACTLY in partition p. SQL ``hash()`` is the same Murmur3(seed 42)
    that HashPartitioning's partitionIdExpression uses, which is what makes
    the inversion valid. One tiny bounded job, memoized per process; with
    candidates ~40x parts the probability of an uncovered partition is
    negligible (each candidate is ~uniform over parts), and a miss raises."""
    cached = _PARTITION_TAG_CACHE.get(parts)
    if cached is not None:
        return cached
    rows = (
        spark.range(parts * 40)
        .select(F.col("id"), F.pmod(F.hash("id"), F.lit(parts)).alias("p"))
        .groupBy("p")
        .agg(F.min("id").alias("t"))
        .collect()
    )
    by_p = {int(r["p"]): int(r["t"]) for r in rows}
    missing = [p for p in range(parts) if p not in by_p]
    if missing:  # pragma: no cover - ~(1-1/parts)^(40*parts) ≈ e^-40
        raise RuntimeError(f"no routing tag found for partitions {missing[:5]}")
    tags = [by_p[p] for p in range(parts)]
    _PARTITION_TAG_CACHE[parts] = tags
    return tags


def approx_contains_routed_sink(
    probe_df: DataFrame,
    key: str,
    sink_path: str,
    spark: SparkSession,
    out: str = "maybe_member",
) -> DataFrame:
    """Routed probe for un-broadcastable forests WITH a readable sink: probes
    repartition by shard (the only shuffle — 8-byte keys + shard ids) and
    each task loads ONLY the shard filters it routes to, straight from the
    sink (cached per worker). Compared to the cogroup routed path this
    removes the forest side of the shuffle AND both cogroup sorts; at 1000
    executors a shard's ~2 MB payload is read by the ~1 reducer that owns
    its probe partition instead of travelling once per probe partition met.

    Same verdict contract as ``approx_contains_routed`` (missing shards
    probe False; mixed sinks fail loudly); requires kind/arity/shard_bits/
    route to be uniform (width may vary — budgeted forests).

    Worker function is a SCALAR pandas_udf over (key, shard) evaluated
    ABOVE the tag-route exchange — each Arrow batch belongs to one task
    partition, i.e. one or two shards, so the per-batch filter loads are
    the same targeted reads the earlier ``mapInArrow`` form did, while
    shipping only the two 8-byte columns to Python and one boolean back
    (the mapInArrow form round-tripped EVERY probe column). It also dodges
    a measured local-mode pathology: after any cogroup/applyInArrow query
    runs in the session, reused Python workers execute ``mapInArrow``
    plans ~2x slower (flat, not cache warm-up; pandas_udf plans are
    unaffected; PLANS.md §17 has the reproduction) — the
    round-4 bench record's routed-sink deficit vs PLANS.md §17's ad-hoc
    parity claim was exactly this, because bench.py runs the cogroup row
    first. PLANS.md §17 (round-5 re-measurement) has the numbers.
    """
    return _routed_sink_probe(probe_df, key, _sink(sink_path, required=True), spark, out)


def _routed_sink_probe(probe_df: DataFrame, key: str, sink, spark: SparkSession, out: str):
    """``approx_contains_routed_sink`` over a sink handle. A handle without
    a listing (the sink was not listable when the planner took it) is
    listed again by the meta read, which fails if the sink is still
    absent."""
    path, listing, token = sink
    # driver-side pyarrow meta read: no Spark job at plan time (PLANS.md §17
    # round-5 re-measurement)
    layout, shards = _sink_forest_meta(path, listing)
    _uniform_layout([layout], shards)  # refuses an epoch-appended sink by name
    shard_bits, route = layout["shard_bits"], layout["route"]
    _verdict_schema(probe_df, out, ("_sf_shard", "_sf_tag"))

    def probe_shards(keys, shards):
        verdict = np.zeros(len(keys), dtype=bool)
        for s in np.unique(shards):
            filt = _load_shard_filter_from_sink(path, token, int(s))
            if filt is not None:
                mask = shards == s
                verdict[mask] = filt.contains(to_u64(keys[mask]))
        return verdict

    tagged = probe_df.withColumn("_sf_shard", shard_column(key, shard_bits, route))
    rep = _tag_route(tagged, spark, shard_bits)
    probe = _probe_udf("probe_shards", probe_shards)
    return rep.withColumn(out, probe(F.col(key), F.col("_sf_shard"))).drop(
        "_sf_shard", "_sf_tag"
    )


def _tag_route(tagged: DataFrame, spark: SparkSession, shard_bits: int) -> DataFrame:
    """Shuffle a ``_sf_shard``-tagged frame so each shard lands EXACTLY in
    its analytic target partition, without sampling: naive hash-repartition
    on the shard id leaves ~1/e of partitions empty with the worst task
    holding 3 shards (measured 937k vs the balanced 312k keys), and
    repartitionByRange fixes that only by paying a SAMPLING pass over all
    probe keys per query (measured 0.71 s vs 0.53 s for the 10M-key shuffle
    alone, PLANS.md §13) — wasted, because the shard distribution is KNOWN
    (uniform top bits). Each shard maps analytically to target partition
    p = shard*parts div n_shards (contiguous ranges, so cluster_by_shard
    sink reads stay contiguous row-group ranges), and a precomputed routing
    tag with pmod(hash(tag), parts) == p makes the plain hash shuffle land
    it EXACTLY there (PLANS.md §17; placement pinned by
    test_routed_sink_tag_routing_exact_placement against THIS function)."""
    n_shards = 1 << max(shard_bits, 0)
    parts = min(_shuffle_partition_count(spark), n_shards)
    tags = _partition_tags(spark, parts)
    tag_arr = F.array(*[F.lit(t).cast("long") for t in tags])
    target = F.expr(f"_sf_shard * {parts} div {n_shards}")
    return tagged.withColumn(
        "_sf_tag", F.element_at(tag_arr, (target + 1).cast("int"))
    ).repartition(parts, "_sf_tag")


def exact_member_routed(
    probe_df: DataFrame,
    probe_key: str,
    build_df: DataFrame,
    build_key: str,
    forest_df: DataFrame,
) -> DataFrame:
    """Exact membership for un-broadcastable forests: routed-cogroup
    prescreen through the keyed ``_exact_member`` plan — same contract as
    ``exact_member_semi_join``."""
    return _exact_member(
        probe_df, probe_key, build_df, build_key,
        lambda df, key, out: approx_contains_routed(df, key, forest_df, out),
        keyed=True,
    )


def forest_payload_bytes(forest_df: DataFrame) -> int:
    """Total serialized payload size — the broadcast-vs-routed planning input
    (an aggregate over the forest table, payloads never leave the executors)."""
    return forest_df.agg(
        F.sum(F.octet_length("payload")).alias("b")
    ).first()["b"] or 0


def _batch_size_check_short_circuited(spark) -> bool:
    """True iff the session disables the mapInArrow input writer's per-row
    size check (maxBytesPerBatch == Int.MaxValue — PLANS.md §17). NOTE:
    ``conf.get`` with a string default VALIDATES the default against the
    registered bytes conf when unset (an empty-string default raises
    INVALID_CONF_VALUE at plan time in any session not built by
    ``get_spark`` — round-5 review, reproduced live), so the unset case is
    handled by exception, not default."""
    try:
        return spark.conf.get(
            "spark.sql.execution.arrow.maxBytesPerBatch"
        ) == str(2**31 - 1)
    except Exception:
        return False


DEFAULT_REPLICATION_BUDGET = "512m"


def _replication_budget(spark) -> int:
    """The ``sparkfuse.probe.replicationBudget`` session conf in bytes
    (default 512m) — the single source of truth for both consumers: the
    probe_forest planner (compares in-memory payload bytes) and the
    epoch-sink guard (compares on-disk sink bytes)."""
    return _conf_bytes(spark, "sparkfuse.probe.replicationBudget", DEFAULT_REPLICATION_BUDGET)


def _conf_bytes(spark, key: str, default: str) -> int:
    """Session conf ``key`` as a Spark byte string, ``default`` when unset
    or without a session."""
    return _parse_byte_string(default if spark is None else spark.conf.get(key, default))


def probe_forest(
    probe_df: DataFrame,
    key: str,
    forest_df: DataFrame,
    spark: SparkSession | None = None,
    out: str = "maybe_member",
    broadcast_threshold: int | None = None,
    replication_budget: int | None = None,
    sink_path: str | None = None,
) -> DataFrame:
    """Planner: pick the probe strategy by forest payload size — THREE regimes.

    1. payload ≤ broadcast threshold (session
       ``spark.sql.autoBroadcastJoinThreshold``, 10 MB unless tuned — the
       same knob as Spark's own broadcast-join choice): driver-collected
       ``sc.broadcast`` forest, pandas_udf probe. Cheapest; fuses into the
       probe scan.
    2. ``sink_path`` given AND payload ≤ replication budget
       (``sparkfuse.probe.replicationBudget`` session conf, default 512m —
       sized to what an executor can hold resident): HYBRID replication.
       Each worker loads the forest from the sink itself — probe keys never
       shuffle AND the driver never touches a payload. Without a sink_path
       this regime is skipped (falling through to routed), because the only
       way to replicate a DataFrame-only forest is a driver collect — a
       driver-memory cost the executor-sized budget does not police.
       (To trade driver memory for probe speed anyway, raise
       broadcast_threshold explicitly.)
    3. else: routed. With a ``sink_path``, the routed-SINK path (probes
       tag-route by shard to exact partitions, each task reads only its shard filters —
       no forest shuffle, no cogroup sorts); without one, the shard-routed
       cogroup against the forest TABLE. Both pay the same 8-byte-per-key
       probe shuffle. To force the cogroup path despite having a sink
       (e.g. cold object storage while forest_df is cached), pass
       ``sink_path=None``.

    Set either threshold to -1 to disable that regime.

    With a ``sink_path``, ``forest_df`` must hold the sink's content: the
    plan is made from the sink, and the hybrid and routed-sink regimes probe
    the sink itself.

    NOTE: a sink-backed plan runs no Spark job when the forest fits the
    broadcast threshold: the driver lists the sink and reads it with
    pyarrow, stopping once the payload bytes pass the threshold, and the
    rows it read are the broadcast forest (cached per sink content, like
    the workers' sink loads). Otherwise planning materializes ``forest_df``
    (one aggregate over payload sizes) and the chosen path materializes it
    again — persist/cache a lazily-built ``forest_df`` (or read it from its
    sink) before calling, or the shard builds run twice.
    """
    _, prescreen = _plan_probe_regime(
        forest_df, spark, broadcast_threshold, replication_budget, sink_path
    )
    return prescreen(probe_df, key, out)


def _plan_probe_regime(
    forest_df: DataFrame,
    spark: SparkSession | None,
    broadcast_threshold: int | None,
    replication_budget: int | None,
    sink_path: str | None,
):
    """The one regime dispatch, shared by probe_forest and
    exact_member_forest: (regime, ``prescreen(df, key, out)`` — the
    regime's probe column). The sink regimes take the plan's one sink
    handle, so a plan lists its sink once.

    The regime is chosen by the forest's payload bytes (sum of every row's
    payload length). A listable sink is read on the driver through the
    workers' loader, which stops past the broadcast threshold: when it
    completes, its rows are the broadcast forest and no Spark job ran.
    Otherwise the bytes come from ``forest_payload_bytes(forest_df)``."""
    if broadcast_threshold is None:
        broadcast_threshold = _conf_bytes(
            spark, "spark.sql.autoBroadcastJoinThreshold", "10485760"
        )
    if replication_budget is None:
        replication_budget = _replication_budget(spark)
    sink = None if sink_path is None else _sink(sink_path)
    forest = None
    if sink is not None and sink[1] is not None and broadcast_threshold >= 0:
        forest = _load_cached_from_sink(
            sink_path, sink[2], (), Forest, max_bytes=broadcast_threshold, listing=sink[1]
        )
    if forest is None:
        nbytes = forest_payload_bytes(forest_df)
        if broadcast_threshold >= 0 and nbytes <= broadcast_threshold:
            forest = Forest.from_df(forest_df)
    if forest is not None:

        def broadcast(df, key, out):
            # keys-only probe frames take the mapInArrow form (faster — see
            # approx_contains_arrow) when it is SAFE: the session must have
            # the per-row batch-size check short-circuited (get_spark does;
            # PLANS.md §17 — without it, mapInArrow degrades ~2-3x in
            # JIT-polluted sessions), and the frame must be narrow
            # (mapInArrow round-trips every column)
            if (
                spark is not None
                and list(df.columns) == [key]
                and _batch_size_check_short_circuited(spark)
            ):
                return approx_contains_arrow(df, key, forest, spark, out=out)
            return approx_contains(df, key, forest, spark, out=out)

        return "broadcast", broadcast
    if sink is not None and replication_budget >= 0 and nbytes <= replication_budget:
        return "hybrid", lambda df, key, out: _hybrid_probe(df, key, sink, out)
    if sink is not None:
        # past the replication budget but sink-readable: route probes by
        # shard and let each task read only ITS shard filters (no forest
        # shuffle, no cogroup sorts)
        return "routed", lambda df, key, out: _routed_sink_probe(
            df, key, sink, spark or df.sparkSession, out
        )
    return "routed", lambda df, key, out: approx_contains_routed(df, key, forest_df, out)


def exact_member_forest(
    probe_df: DataFrame,
    probe_key: str,
    build_df: DataFrame,
    build_key: str,
    forest_df: DataFrame,
    spark: SparkSession | None = None,
    sink_path: str | None = None,
    broadcast_threshold: int | None = None,
    replication_budget: int | None = None,
) -> DataFrame:
    """Exact membership with the prescreen strategy chosen by the
    ``probe_forest`` planner (broadcast / hybrid sink-load / routed), then
    the exact-confirm semi-join. One entry point that stays correct from a
    100 KB forest to a 100 GB one; same zero-FN + exact-confirm contract as
    ``exact_member_semi_join``, so a plain SQL ``IN`` subquery is a valid
    oracle for every regime.

    Every regime runs the one ``_exact_member`` plan: the broadcast and
    hybrid prescreens screen the probe rows in place (no key dropDuplicates
    shuffle, ONE semi-join); the routed ones run it keyed, so only 8-byte
    keys cross the shard shuffle (as ``exact_member_routed``)."""
    regime, prescreen = _plan_probe_regime(
        forest_df, spark, broadcast_threshold, replication_budget, sink_path
    )
    return _exact_member(
        probe_df, probe_key, build_df, build_key, prescreen, keyed=regime == "routed"
    )


_BYTE_SUFFIXES = {"b": 1, "k": 1024, "m": 1024**2, "g": 1024**3,
                  "t": 1024**4, "p": 1024**5}
# JavaUtils.byteStringAsBytes grammar: integer + optional multiplier letter
# + optional trailing 'b' ("10m", "10MB", "512kb", "1b", "10485760").
_BYTE_RE = re.compile(r"^(-?\d+)\s*([kmgtp]?b?)$")


def _parse_byte_string(raw: str) -> int:
    """Spark byte-string grammar (JavaUtils.byteStringAsBytes): optional
    b/kb/mb/gb/tb/pb (or bare k/m/g/t/p) suffix, case-insensitive; bare
    numbers are bytes. Raises on anything else instead of silently
    substituting a default."""
    m = _BYTE_RE.match(str(raw).strip().lower())
    if not m:
        raise ValueError(f"unparseable Spark byte string {raw!r}")
    suffix = m.group(2)
    mult = _BYTE_SUFFIXES[suffix[0]] if suffix else 1
    return int(m.group(1)) * mult


def verify_sample(
    probe_df: DataFrame,
    probe_key: str,
    build_df: DataFrame,
    build_key: str,
    forest: Forest,
    spark=None,
    fraction: float = 0.1,
    seed: int = 42,
) -> dict:
    """Ground-truth audit on a sample: compares the approx filter verdicts
    against an exact anti-join, returns {n, false_negatives, false_positives,
    fpp}. false_negatives MUST be 0 (the hard invariant)."""
    sample = probe_df.select(F.col(probe_key).alias("key")).sample(fraction, seed=seed)
    flagged = approx_contains(sample, "key", forest, spark, out="maybe")
    members = _build_keys(build_df, build_key, "key").withColumn("is_member", F.lit(True))
    member, maybe = F.col("is_member").isNotNull(), F.col("maybe")
    n, fn, fp, negatives = flagged.join(members, on="key", how="left").agg(
        F.count("*"), F.count_if(member & ~maybe), F.count_if(~member & maybe),
        F.count_if(~member),
    ).first()
    fpp = fp / negatives if negatives else 0.0
    return {"n": n, "false_negatives": fn, "false_positives": fp, "fpp": fpp}
