"""Forest construction: distributed filter builds as mergeable aggregations.

The reference builds ONE filter per key slice; its only "merge" is owning
several filters side by side (SURVEY.md §1.1 — no post-build inserts or
filter-merge exists in the API). The cluster-scale unit is therefore a
**forest**: one immutable filter row per key-range shard. "Merge" = union of
shard rows; membership = route each probe key to its shard's filter by the
same top-bits rule used to shard the build. This keeps every shard build
small enough for one task (~17 B/key scratch, /root/reference/README.md:52)
and makes the aggregation embarrassingly mergeable and resumable.

Plan shape (one shuffle; a planned ``shard_bits`` adds one job before it,
an HLL++ estimate observed on a ``noop`` write):

    scan → xxhash64 key, int shard id (codegen) →
    repartitionById(2^shard_bits, shard) → groupBy(shard).applyInPandas(
    build_kernel) → forest rows (→ parquet sink)

``repartitionById`` gives every shard its own reduce partition, and the
grouping reuses that Exchange. A hash-partitioned ``groupBy`` instead puts
several shards in one partition and lets AQE coalesce the small ones, so a
few-shard build ran its shard kernels one after another in a single task.

Duplicates collapse inside the kernel (np.unique); optionally pre-dedup with
dropDuplicates when the duplicate ratio is high enough that shuffle bytes
dominate (text keys at 10^12-turn scale — partial agg dedups map-side).

Checkpoint/resume: builds are deterministic (fixed per-shard seed schedule →
/root/reference/binaryfusefilter_test.go:355-394 analog), so a resumed build
produces byte-identical shards; ``build_forest_resumable`` appends missing
shards only, discovered by anti-joining the sink.
"""

from __future__ import annotations

import hashlib
import inspect
import math
import time
from dataclasses import dataclass, fields, replace

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from sparkfuse.hashing import murmur64, to_u64, xxh64_u64
from sparkfuse.keys import approx_distinct_keys, dedup_keys, shard_column
from sparkfuse.kernels import _verdict, build_fuse_unique, build_xor_unique
from sparkfuse.serialize import (
    load_fuse_bytes,
    load_xor_bytes,
    save_fuse_bytes,
    save_xor_bytes,
)

FOREST_SCHEMA = StructType(
    [
        StructField("shard", LongType(), False),
        StructField("kind", StringType(), False),      # 'fuse' | 'xor'
        StructField("width", IntegerType(), False),    # 8 | 16 | 32
        StructField("arity", IntegerType(), False),    # 3 | 4 (xor: 3)
        StructField("shard_bits", IntegerType(), False),
        StructField("route", StringType(), False),     # 'xxh64' | 'raw' 
        StructField("seed", LongType(), False),        # u64 bit-cast
        StructField("nkeys", LongType(), False),       # deduped keys in shard
        StructField("iterations", IntegerType(), False),
        StructField("build_seconds", DoubleType(), False),
        StructField("bits_per_entry", DoubleType(), False),
        StructField("payload", BinaryType(), False),   # serialized filter
        StructField("content_sha256", StringType(), False),
    ]
)

# Shard ids are Spark partition ids (``_build_shards``), which are ints.
MAX_SHARD_BITS = 30

# Default shard sizing: ~2M keys/shard keeps fuse scratch ≈ 36 MB/task and
# the per-shard filter ≈ 2.2 MB (fuse8) — SURVEY.md §4 memory model.
DEFAULT_TARGET_KEYS_PER_SHARD = 2_000_000


@dataclass
class ForestSpec:
    kind: str = "fuse"     # 'fuse' or 'xor'
    width: int = 8
    arity: int = 3
    shard_bits: int = 0
    route: str = "xxh64"


# kind → (build(sorted distinct keys, spec) → (filter, iterations),
#         save(filter) → payload, load(payload, row) → filter):
# the one place a filter kind is dispatched
_KINDS = {
    "fuse": (
        lambda ukeys, spec: build_fuse_unique(ukeys, width=spec.width, arity=spec.arity),
        save_fuse_bytes,
        lambda payload, row: load_fuse_bytes(payload, width=row["width"], arity=row["arity"]),
    ),
    "xor": (
        lambda ukeys, spec: build_xor_unique(ukeys, width=spec.width),
        save_xor_bytes,
        lambda payload, row: load_xor_bytes(payload),
    ),
}


def _kind(kind: str):
    """The kind table's (build, save, load) for ``kind``."""
    if kind not in _KINDS:
        raise ValueError(f"unknown filter kind {kind!r}")
    return _KINDS[kind]


def plan_shard_bits(
    n_keys: int,
    target_keys_per_shard: int = DEFAULT_TARGET_KEYS_PER_SHARD,
    min_shards: int | None = None,
) -> int:
    """Choose shard_bits so shards hold ~target keys. 10^9 keys → 9 bits
    (512 shards); 0 bits = single shard for small inputs.

    min_shards: floor on parallelism (e.g. executor-core count) so mid-size
    inputs still fan out — applied only while shards stay ≥ ~64k keys, below
    which per-task overhead beats the parallelism win.
    """
    bits = 0
    if n_keys > target_keys_per_shard:
        bits = max(1, math.ceil(math.log2(n_keys / target_keys_per_shard)))
    if min_shards and min_shards > 1:
        want = math.ceil(math.log2(min_shards))
        while bits < want and n_keys >> (bits + 1) >= 65536:
            bits += 1
    return bits


def _forest_row(shard: int, keys_u64: np.ndarray, spec: ForestSpec) -> dict:
    """One shard's FOREST_SCHEMA row: the filter over the distinct keys, its
    payload and lineage (seed, iterations, build seconds, the distinct key
    count taken from the build's own dedup, bits/entry, sha256). Serves the
    applyInPandas kernel and ``build_forest_driver`` alike."""
    t0 = time.perf_counter()
    ukeys = np.unique(keys_u64)
    build, save, _ = _kind(spec.kind)
    filt, iterations = build(ukeys, spec)
    payload = save(filt)
    return {
        "shard": shard,
        "kind": spec.kind,
        "width": spec.width,
        "arity": spec.arity,
        "shard_bits": spec.shard_bits,
        "route": spec.route,
        "seed": int(np.uint64(filt.seed).astype(np.int64)),
        "nkeys": len(ukeys),
        "iterations": iterations,
        "build_seconds": time.perf_counter() - t0,
        "bits_per_entry": filt.bits_per_entry(len(ukeys)),
        "payload": payload,
        "content_sha256": hashlib.sha256(payload).hexdigest(),
    }


def _kernel_factory(spec: ForestSpec):
    """Per-shard applyInPandas kernel: pdf(key, shard[, width]) → one forest
    row. A ``width`` column overrides the spec's width per shard (budgeted
    forests)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        kspec = spec
        if "width" in pdf:
            kspec = replace(spec, width=int(pdf["width"].iloc[0]))
        row = _forest_row(int(pdf["shard"].iloc[0]), to_u64(pdf["key"].to_numpy()), kspec)
        return pd.DataFrame({name: [value] for name, value in row.items()})

    return kernel


def _sharded_keys(
    keys_df: DataFrame, key_name: str, shard_bits: int, route: str,
    pre_dedup: bool = False,
) -> DataFrame:
    """(key, shard) rows: ``keys_df[key_name]`` as ``key`` (deduplicated
    first with ``pre_dedup``) and its shard id by the routing rule probes
    mirror. Every distributed build goes through here, so this is where a
    ``shard_bits`` whose shard ids cannot be int partition ids fails."""
    if not 0 <= shard_bits <= MAX_SHARD_BITS:
        raise ValueError(
            f"shard_bits={shard_bits} outside [0, {MAX_SHARD_BITS}]: each shard "
            "builds in its own Spark partition, and partition ids are ints"
        )
    keys = keys_df.select(F.col(key_name).alias("key"))
    if pre_dedup:
        keys = dedup_keys(keys)
    return keys.withColumn("shard", shard_column("key", shard_bits, route))


def _unbuilt(sharded: DataFrame, done: DataFrame) -> DataFrame:
    """``sharded``'s rows of the shards ``done`` (shard ids) does not hold."""
    return sharded.join(F.broadcast(done), "shard", "left_anti")


def _build_shards(
    sharded: DataFrame,
    spec: ForestSpec,
    widths: dict[int, int] | None = None,
    done: DataFrame | None = None,
) -> DataFrame:
    """The one shard build: ``_sharded_keys`` rows → one FOREST_SCHEMA row per
    shard, through a single ``groupBy("shard").applyInPandas`` over a
    ``repartitionById`` Exchange: one reduce partition (and task) per shard,
    which the grouping reuses and AQE does not coalesce.

    ``done`` (built shard ids) drops those shards' KEYS below the kernel:
    filtering the kernel's output instead would re-run every shard's
    construction and discard it (Catalyst cannot push an anti-join under a
    Python UDF).

    ``widths`` (shard → 8/16/32) sets each shard's width through a LEFT
    join: an inner join would silently DROP every key of a shard the plan
    did not see (possible when keys_df has nondeterministic lineage or the
    source grew between the counts action and the build) — a zero-FN
    violation. Unplanned shards build at the floor width 8 instead."""
    if done is not None:
        sharded = _unbuilt(sharded, done)
    if widths is not None:
        bad = {w for w in widths.values() if w not in (8, 16, 32)}
        if bad:
            raise ValueError(
                f"explicit width plan contains invalid widths {sorted(bad)} "
                "(must be 8, 16 or 32) — failing at the driver instead of "
                "deep inside the build kernel"
            )
        widths_df = sharded.sparkSession.createDataFrame(
            sorted(widths.items()), "shard long, width int"
        )
        sharded = sharded.join(F.broadcast(widths_df), "shard", "left").withColumn(
            "width", F.coalesce(F.col("width"), F.lit(8))
        )
    sharded = sharded.withColumn("shard", F.col("shard").cast("int"))
    return (sharded.repartitionById(1 << spec.shard_bits, "shard")
            .groupBy("shard").applyInPandas(_kernel_factory(spec), FOREST_SCHEMA))


def _call_args(fn, *args, **kwargs) -> dict:
    """``fn``'s arguments, defaults filled in, for a call with ``args`` and
    ``kwargs`` — raising the TypeError the call itself would."""
    bound = inspect.signature(fn).bind(*args, **kwargs)
    bound.apply_defaults()
    return bound.arguments


def _spec_from(args: dict) -> ForestSpec:
    """The ForestSpec of a build call's arguments (``_call_args``); a field
    the call does not take keeps its default."""
    return ForestSpec(**{f.name: args[f.name] for f in fields(ForestSpec) if f.name in args})


def build_forest(
    keys_df: DataFrame,
    kind: str = "fuse",
    width: int = 8,
    arity: int = 3,
    shard_bits: int | None = None,
    target_keys_per_shard: int = DEFAULT_TARGET_KEYS_PER_SHARD,
    pre_dedup: bool = False,
    key_name: str = "key",
    route: str = "xxh64",
    min_shards: int | None = None,
) -> DataFrame:
    """Build a filter forest over ``keys_df[key_name]`` (int64 carrier).

    Returns a FOREST_SCHEMA DataFrame, one row per shard, built when it is
    written or collected.

    shard_bits: explicit (0-30) → nothing runs at call time. None → planned
    at call time from ``approx_distinct_keys``: ONE Spark job over the keys
    (no shuffle) runs before this returns. pre_dedup: run dropDuplicates
    before the shard shuffle — worth it when the duplicate ratio is high
    (shrinks shuffle bytes), skipped by default because the kernel dedups
    anyway and one shuffle beats two.
    """
    if shard_bits is None:
        n_est = approx_distinct_keys(keys_df, key_name)
        shard_bits = plan_shard_bits(n_est, target_keys_per_shard, min_shards)
    spec = ForestSpec(kind=kind, width=width, arity=arity, shard_bits=shard_bits,
                      route=route)
    return _build_shards(_sharded_keys(keys_df, key_name, shard_bits, route, pre_dedup), spec)


def build_forest_driver(
    keys_i64: np.ndarray,
    kind: str = "fuse",
    width: int = 8,
    arity: int = 3,
) -> "Forest":
    """Single-shard Forest built DRIVER-SIDE from an in-memory key array.

    For key sets that end up collected to the driver anyway (a
    contamination benchmark's gram hashes: the prescreen filter is
    broadcast and the confirm join broadcasts the gram strings
    themselves), the distributed ``build_forest`` → ``Forest.from_df``
    chain is 3 Spark job rounds on tiny data (the planning job, the
    shuffle+kernel build, the state collect) — ~1.5 s of pure scheduling
    per call. This builds the identical single-shard
    filter (same deterministic kernel and seed schedule) in-process.
    """
    keys_u64 = to_u64(np.asarray(keys_i64, dtype=np.int64))
    return Forest([_forest_row(0, keys_u64, ForestSpec(kind=kind, width=width, arity=arity))])


def plan_budgeted_widths(
    shard_counts: dict[int, int], budget_bytes: int, arity: int = 3
) -> dict[int, int]:
    """Per-shard fingerprint width (8/16/32) under a TOTAL payload budget —
    minimizes expected false positives assuming probe traffic proportional
    to shard size (uniform hash routing makes the two proportional).

    Greedy: everyone starts at width 8 (fpp 2^-8); while budget remains,
    upgrade the LARGEST un-upgraded shard 8→16, then 16→32 (FP-reduction
    per added byte is width-independent under proportional traffic, so
    upgrade order only affects seams — biggest-first upgrades the most
    probes per decision). Deterministic (ties break on shard id). If even
    all-8 exceeds the budget, raises — a fuse filter's size is fixed by its
    key count, so there is nothing left to shrink (use more shards +
    sampling upstream instead).

    (The shape follows the Bloom-collection space-budget problem, VLDB'24
    "Optimizing Collections of Bloom Filters within a Space Budget" —
    adapted to the fuse family where the only size knob is width.)

    The budget is BEST-EFFORT, not a hard ceiling: the plan estimates each
    payload from ``fuse_parameters(n)``, but a shard whose build falls back
    to the segment-length-halving retry (or whose HLL count under-estimated
    past the 1.05 planning inflation) can come out larger than estimated.
    Zero-FN is unaffected either way. Callers that must enforce the ceiling
    should recheck ``forest_payload_bytes`` post-build (see
    ``test_budgeted_*`` for the pattern).
    """
    from sparkfuse.params import fuse_parameters
    from sparkfuse.serialize import _FUSE_HEADER

    def payload_bytes(n: int, width: int) -> int:
        p = fuse_parameters(max(n, 1), arity=arity)
        return _FUSE_HEADER.size + p.array_length * (width // 8)

    widths = {s: 8 for s in shard_counts}
    spent = sum(payload_bytes(n, 8) for n in shard_counts.values())
    if spent > budget_bytes:
        raise ValueError(
            f"budget {budget_bytes} B below the all-width-8 floor {spent} B "
            f"({len(shard_counts)} shards); fuse size is fixed by key count — "
            "reduce keys upstream or raise the budget"
        )
    order = sorted(shard_counts, key=lambda s: (-shard_counts[s], s))
    for target in (16, 32):
        for s in order:
            extra = payload_bytes(shard_counts[s], target) - payload_bytes(
                shard_counts[s], widths[s]
            )
            if widths[s] == target // 2 and spent + extra <= budget_bytes:
                widths[s] = target
                spent += extra
    return widths


def _plan_widths(sharded: DataFrame, budget_bytes: int, arity: int) -> dict[int, int]:
    """Per-shard counts → width plan, shared by the direct and resumable
    budgeted builds so the two can never silently desynchronize.

    approx_count_distinct is HLL++ over xxhash64 — the SAME hash family the
    shard routing uses, so within a shard every key shares the hash's top
    bits and the HLL register index collapses (measured: 68 estimated vs
    7547 actual). Rehashing with a different seed decorrelates the two.
    Counts are INFLATED (2.5x the 2% rsd) so an HLL under-estimate cannot
    make the real payload cross the budget."""
    counts = {
        int(r["shard"]): int(r["n"])
        for r in sharded.groupBy("shard")
        .agg(
            F.approx_count_distinct(
                F.xxhash64(F.col("key"), F.lit(0x5EED)), 0.02
            ).alias("n")
        )
        .collect()
    }
    counts = {s: int(n * 1.05) + 1 for s, n in counts.items()}
    return plan_budgeted_widths(counts, budget_bytes, arity)


def build_forest_budgeted(
    keys_df: DataFrame,
    budget_bytes: int,
    shard_bits: int,
    arity: int = 3,
    key_name: str = "key",
    route: str = "xxh64",
    pre_dedup: bool = False,
    widths: dict[int, int] | None = None,
) -> DataFrame:
    """Mixed-width fuse forest under a total payload byte budget: per-shard
    key counts (one aggregate; only (shard, count) rows reach the driver)
    feed ``plan_budgeted_widths``, and each shard builds at its own width.
    Zero-FN and exactness contracts are width-independent, so every exact
    query (semi-join/anti-join oracle) holds unchanged; only the fpp of the
    prescreen varies per shard.

    ``widths``: explicit width plan (shard → 8/16/32), skipping the count +
    plan pass. Resume-stable builds require it: the auto plan derives from
    approximate counts that can differ between runs, so a resumed build
    could pick different widths for the missing shards —
    ``build_forest_budgeted_resumable`` persists the plan next to the sink
    and reuses it."""
    sharded = _sharded_keys(keys_df, key_name, shard_bits, route, pre_dedup)
    if widths is None:
        widths = _plan_widths(sharded, budget_bytes, arity)
    spec = ForestSpec(kind="fuse", width=8, arity=arity, shard_bits=shard_bits,
                      route=route)
    return _build_shards(sharded, spec, widths)


def write_forest(
    forest_df: DataFrame, path: str, mode: str = "append",
    cluster_by_shard: bool = False,
) -> None:
    """Persist forest rows to the parquet sink (the cluster-native Save;
    per-shard appends are the checkpoint unit, SURVEY.md §3.1 stage 9).
    The content_sha256 column is the integrity check the reference README
    recommends callers add (/root/reference/README.md:62).

    cluster_by_shard: range-partition + sort by shard before writing, so
    per-shard reads (``approx_contains_routed_sink``) prune row groups by
    the shard column's min/max stats instead of scanning the whole sink —
    worth it for big forests probed through the routed-sink path."""
    if cluster_by_shard:
        forest_df = forest_df.repartitionByRange("shard").sortWithinPartitions("shard")
    forest_df.write.mode(mode).parquet(path)


def _append_unbuilt(
    sharded: DataFrame, spec: ForestSpec, path: str, spark: SparkSession,
    done: DataFrame | None, widths: dict[int, int] | None = None,
) -> DataFrame:
    """Append the shards missing from the sink at ``path`` (``done``: its
    shard ids, None for a fresh sink) and return the sink. When no shard is
    missing nothing is written: an empty append still adds a part file,
    which changes the sink's fingerprint and every probe's plan token."""
    if done is None or not _unbuilt(sharded, done).isEmpty():
        write_forest(_build_shards(sharded, spec, widths, done), path)
    return spark.read.parquet(path)


def build_forest_resumable(
    keys_df: DataFrame,
    path: str,
    spark: SparkSession,
    **build_kwargs,
) -> DataFrame:
    """Build only the shards missing from ``path`` and append them.

    Because builds are deterministic, resume-after-kill yields a forest
    byte-identical to a fresh full build (tested in
    tests/test_forest_spark.py::test_resume_equals_fresh).
    Requires explicit ``shard_bits`` in build_kwargs so the shard layout is
    stable across runs.

    The done-shard anti-join is applied to the KEYS, below the build kernel
    (see ``_build_shards``); when no shard is missing, nothing is written.
    """
    if "shard_bits" not in build_kwargs:
        raise ValueError("resumable builds require explicit shard_bits")
    args = _call_args(build_forest, keys_df, **build_kwargs)
    sharded = _sharded_keys(keys_df, args["key_name"], args["shard_bits"],
                            args["route"], args["pre_dedup"])
    try:
        done = spark.read.parquet(path).select("shard").dropDuplicates()
    except AnalysisException as e:
        # Only "sink does not exist yet" means fresh-build; any other read
        # failure (corrupt footer, permissions, transient FS error) must
        # propagate — treating it as absent would append a duplicate full
        # rebuild onto a sink that had data.
        cond = ""
        try:
            cond = e.getCondition() or ""
        except Exception:
            pass
        if "PATH_NOT_FOUND" not in cond and "PATH_NOT_FOUND" not in str(e):
            raise
        done = None
    return _append_unbuilt(sharded, _spec_from(args), path, spark, done)


def build_forest_budgeted_resumable(
    keys_df: DataFrame,
    path: str,
    spark: SparkSession,
    budget_bytes: int,
    shard_bits: int,
    **build_kwargs,
) -> DataFrame:
    """Resumable budgeted build: the width plan is computed ONCE, persisted
    as ``_sparkfuse_widths.json`` next to the sink, and every resume reuses
    it — so a killed-and-resumed build produces shards byte-identical to a
    fresh full build despite the plan deriving from approximate counts
    (the same determinism contract as ``build_forest_resumable``). Missing
    shards are discovered by anti-joining the sink, exactly like the
    uniform-width resumable path; when none is missing, nothing is written.

    Local/NFS sink paths only for the plan file (same caveat as the
    streaming layout guard); for object-store sinks persist the plan with
    your job state and pass it via ``widths=`` on build_forest_budgeted.
    """
    import json
    import os

    if "://" in path:
        raise ValueError(
            f"sink {path!r} is a scheme-qualified URI: the width-plan file "
            "cannot be co-located; persist the plan in your job state and "
            "call build_forest_budgeted(widths=...) instead"
        )
    args = _call_args(build_forest_budgeted, keys_df, budget_bytes, shard_bits,
                      **build_kwargs)
    sharded = _sharded_keys(keys_df, args["key_name"], shard_bits, args["route"],
                            args["pre_dedup"])
    os.makedirs(path, exist_ok=True)
    plan_path = os.path.join(path, "_sparkfuse_widths.json")
    # the sink dir always exists here (it holds the plan file), so "fresh"
    # is detected by the absence of data files, not by a read failure —
    # any read error over actual data files must propagate
    has_data = any(
        not f.startswith(("_", ".")) for f in os.listdir(path)
    )
    params = {"shard_bits": shard_bits, "budget_bytes": budget_bytes,
              "route": args["route"], "arity": args["arity"]}
    if os.path.exists(plan_path):
        with open(plan_path) as f:
            saved = json.load(f)
        mismatched = {
            k: (saved.get(k), v) for k, v in params.items() if saved.get(k) != v
        }
        if mismatched:
            raise ValueError(
                f"sink {path!r} was planned with different parameters: "
                f"{mismatched} (saved, requested). Resuming under a "
                "different layout/budget/route/arity would mix incompatible "
                "shards. Use the original parameters or a fresh sink."
            )
        widths = {int(s): int(w) for s, w in saved["widths"].items()}
    elif has_data:
        raise ValueError(
            f"sink {path!r} holds forest data but no _sparkfuse_widths.json: "
            "re-planning from approximate counts could pick different widths "
            "for the missing shards and silently mix plans. Restore the plan "
            "file, or rebuild via build_forest_budgeted(widths=...) with the "
            "plan persisted in your job state."
        )
    else:
        widths = _plan_widths(sharded, budget_bytes, args["arity"])
        with open(plan_path, "w") as f:
            json.dump(
                params | {"widths": {str(s): w for s, w in widths.items()}}, f
            )
    done = spark.read.parquet(path).select("shard").dropDuplicates() if has_data else None
    return _append_unbuilt(sharded, _spec_from(args), path, spark, done, widths)


# ---------------------------------------------------------------------------
# driver-side forest handle + probe routing
# ---------------------------------------------------------------------------

# A replayed row repeats its payload bytes, recorded sha and decode parameters.
_REPLAY_FIELDS = ("kind", "width", "arity", "payload", "content_sha256")
# Every row of a forest shares these: they define the routing and probe math.
_LAYOUT_FIELDS = ("kind", "arity", "shard_bits", "route")


def _uniform_layout(rows, shards=()) -> dict:
    """The forest's one {kind, arity, shard_bits, route}, or a ValueError
    when its rows disagree or a shard id in ``shards`` lies outside
    [0, 2^shard_bits). Width MAY vary per shard (budgeted mixed-width
    forests).

    An out-of-range shard id is the epoch tag of an epoch-appended sink
    (shard = epoch·2^shard_bits + shard): read as one forest, every epoch
    past the first would be probed against the wrong filter or none —
    silent false negatives."""
    layouts = {tuple(r[f] for f in _LAYOUT_FIELDS) for r in rows}
    if len(layouts) != 1:
        raise ValueError(f"inhomogeneous forest: {sorted(layouts)}")
    layout = dict(zip(_LAYOUT_FIELDS, layouts.pop()))
    space = 1 << max(layout["shard_bits"], 0)
    for shard in shards:
        if not 0 <= shard < space:
            raise ValueError(
                f"shard {shard} is outside the {space} shards of a "
                f"shard_bits={layout['shard_bits']} forest: this is an "
                "epoch-appended sink (shard = epoch * 2^shard_bits + shard). "
                "Probe it with approx_contains_epoch_sink, or compact it "
                "(compact_forest) into one forest first."
            )
    return layout


def _check_payload_sha(rows, source: str | None = None) -> None:
    """Raise unless every row's payload hashes to its recorded
    content_sha256. A flipped fingerprint byte still deserializes and
    probes — as false negatives — so every read of forest rows from a table
    or a sink checks them (``Forest(rows)`` over in-memory rows does not).
    ``source`` (a sink path) names where the rows came from."""
    for r in rows:
        if hashlib.sha256(r["payload"]).hexdigest() != r["content_sha256"]:
            where = f"forest sink {source!r}" if source else "forest table"
            raise ValueError(
                f"corrupted {where}: the payload of shard {r['shard']} "
                "does not match its content_sha256"
            )


def _decode_shard_rows(rows, source: str | None = None) -> dict:
    """shard → (row, filter) for forest rows: the one row→filter decoder,
    shared by ``Forest``, the routed cogroup kernel and the per-shard sink
    load.

    Exact-duplicate shard rows (replayed streaming epochs under the
    documented at-least-once append, or a doubled resumable append) are
    byte-identical by determinism and decode once, so nkeys/size stats
    count each shard payload once. Same shard with DIFFERENT content — the
    payload bytes are compared, not only the recorded sha — is not a replay
    but a corrupted/mixed sink (e.g. two different key sets appended to one
    path, or an epoch sink read without EpochForest): silently keeping one
    filter would produce false negatives, so fail. ``source`` (a sink path)
    names where the rows came from in that error."""
    decoded: dict = {}
    for r in rows:
        shard = int(r["shard"])
        if shard in decoded:
            first = decoded[shard][0]
            if any(first[f] != r[f] for f in _REPLAY_FIELDS):
                where = f" in {source!r}" if source else ""
                raise ValueError(
                    f"conflicting payloads for shard {shard}{where}: the sink "
                    "holds multiple different filters per shard (mixed builds, "
                    "or an epoch-appended sink — read those with EpochForest)"
                )
            continue
        _, _, load = _kind(r["kind"])
        decoded[shard] = (r, load(bytes(r["payload"]), r))
    return decoded


class Forest:
    """Immutable collected forest: dict shard → filter, broadcast to probes.

    The reference filter is "immutable, concurrent … build once, use many
    times" (/root/reference/README.md:50) — the broadcast variable is the
    cluster analog. A 10^9-key fuse8 forest is ~1.3 GB; at that point route
    probes with a map-side join against the forest table instead of one
    monolithic broadcast (SURVEY.md §4); at the sandbox scales the broadcast
    path is the right plan.
    """

    def __init__(self, rows):
        if not rows:
            raise ValueError("empty forest")
        decoded = _decode_shard_rows(rows)
        rows = [r for r, _ in decoded.values()]
        self.filters = {s: filt for s, (_, filt) in decoded.items()}
        self.widths = {s: int(r["width"]) for s, (r, _) in decoded.items()}
        self.kind, self.arity, self.shard_bits, self.route = _uniform_layout(
            rows, decoded
        ).values()
        self.width = max(self.widths.values())  # widest member (informational)
        self.nkeys = sum(r["nkeys"] for r in rows)
        self.size_in_bytes = sum(len(r["payload"]) for r in rows)

    @classmethod
    def from_df(cls, forest_df: DataFrame) -> "Forest":
        rows = [r.asDict() for r in forest_df.collect()]
        forest = cls(rows)  # a shard's rows all agree past here, or it raised
        _check_payload_sha(rows)
        return forest

    def __getstate__(self):
        # the packed-probe cache duplicates every fingerprint array; drop it
        # from pickling so a driver-side probe before broadcast doesn't
        # double the broadcast payload (it lazily rebuilds on the executor)
        state = dict(self.__dict__)
        state.pop("_pack_cache", None)
        return state

    def _packed(self):
        """Lazily concatenate shard fingerprint arrays into ONE array PER
        WIDTH GROUP, plus per-shard vectors (offset, seed, and one per
        layout field in that field's dtype — ``FuseFilter.layout``), so a
        probe batch routes with pure gathers — no per-shard loop, no
        argsort. A key's slots are its filter kind's slot derivation over
        its shard's gathered layout, read at offset[shard] in the packed
        array. A shard belongs to exactly one width group (mixed widths
        exist only in budgeted forests; the common uniform-width forest has
        a single group). Each group keeps one of its filters, whose
        ``slots`` derives the group's slots."""
        if getattr(self, "_pack_cache", None) is not None:
            return self._pack_cache
        space = 1 << max(self.shard_bits, 0)
        groups = []
        for width in sorted(set(self.widths.values())):
            members = [(s, f) for s, f in sorted(self.filters.items())
                       if self.widths[s] == width]
            rep = members[0][1]
            offsets = np.full(space, -1, dtype=np.int64)
            seeds = np.zeros(space, dtype=np.uint64)
            layout = tuple(np.zeros(space, dtype=field.dtype) for field in rep.layout)
            pos = 0
            for s, f in members:
                offsets[s] = pos
                seeds[s] = np.uint64(f.seed)
                for vector, field in zip(layout, f.layout):
                    vector[s] = field
                pos += len(f.fingerprints)
            packed = np.concatenate([f.fingerprints for _, f in members])
            groups.append((offsets, seeds, layout, packed, rep))
        self._pack_cache = groups
        return self._pack_cache

    def contains_np(self, keys_i64: np.ndarray) -> np.ndarray:
        """Fully-vectorized routed probe over an int64-carrier key array."""
        keys = to_u64(np.asarray(keys_i64))
        out = np.zeros(len(keys), dtype=bool)
        if len(keys) == 0:
            return out
        if self.shard_bits <= 0:
            filt = self.filters.get(0)
            return out if filt is None else filt.contains(keys)
        routed = xxh64_u64(keys) if self.route == "xxh64" else keys
        sh = (routed >> np.uint64(64 - self.shard_bits)).astype(np.int64)
        for offsets, seeds, layout, packed, rep in self._packed():
            off = offsets[sh]
            valid = off >= 0
            if not valid.any():
                continue
            shv = sh[valid]
            h = murmur64(keys[valid] + seeds[shv])  # mixsplit with per-key seed
            slots = rep.slots(h, tuple(vector[shv] for vector in layout))
            out[valid] = _verdict(packed, h, slots, off[valid])
        return out

    def bits_per_entry(self) -> float:
        return self.size_in_bytes * 8 / max(self.nkeys, 1)
