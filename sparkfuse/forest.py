"""Forest construction: distributed filter builds as mergeable aggregations.

The reference builds ONE filter per key slice; its only "merge" is owning
several filters side by side (SURVEY.md §1.1 — no post-build inserts or
filter-merge exists in the API). The cluster-scale unit is therefore a
**forest**: one immutable filter row per key-range shard. "Merge" = union of
shard rows; membership = route each probe key to its shard's filter by the
same top-bits rule used to shard the build. This keeps every shard build
small enough for one task (~17 B/key scratch, /root/reference/README.md:52)
and makes the aggregation embarrassingly mergeable and resumable.

Plan shape (one shuffle):

    scan → xxhash64 key (codegen) → repartition(shard) →
    applyInPandas(build_kernel) → forest rows (→ parquet sink)

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
import math
import time
from dataclasses import dataclass
from typing import Iterator

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

from sparkfuse.hashing import murmur64, rotl64, to_u64, xxh64_u64
from sparkfuse.keys import dedup_keys, shard_column
from sparkfuse.kernels import (
    FuseFilter,
    XorFilter,
    build_fuse_unique,
    build_xor_unique,
    fuse_contains,
    xor_contains,
)
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


def _build_one(keys_u64: np.ndarray, spec: ForestSpec):
    """One shard's filter, payload, iterations, build seconds and distinct
    key count (taken from the build's own dedup)."""
    t0 = time.perf_counter()
    ukeys = np.unique(keys_u64)
    if spec.kind == "fuse":
        filt, iterations = build_fuse_unique(ukeys, width=spec.width, arity=spec.arity)
        payload = save_fuse_bytes(filt)
    elif spec.kind == "xor":
        filt, iterations = build_xor_unique(ukeys, width=spec.width)
        payload = save_xor_bytes(filt)
    else:
        raise ValueError(f"unknown filter kind {spec.kind!r}")
    dt = time.perf_counter() - t0
    return filt, payload, iterations, dt, len(ukeys)


def _kernel_factory(spec: ForestSpec):
    """Per-shard applyInPandas kernel: pdf(key[, shard]) → one forest row."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = to_u64(pdf["key"].to_numpy())
        shard = int(pdf["shard"].iloc[0]) if "shard" in pdf else 0
        kspec = spec
        if "width" in pdf:  # per-shard width override (budgeted forests)
            from dataclasses import replace

            kspec = replace(spec, width=int(pdf["width"].iloc[0]))
        filt, payload, iterations, dt, nkeys = _build_one(keys, kspec)
        return pd.DataFrame(
            {
                "shard": [shard],
                "kind": [kspec.kind],
                "width": [kspec.width],
                "arity": [kspec.arity],
                "shard_bits": [kspec.shard_bits],
                "route": [kspec.route],
                "seed": [np.uint64(filt.seed).astype(np.int64)],
                "nkeys": [nkeys],
                "iterations": [iterations],
                "build_seconds": [dt],
                "bits_per_entry": [filt.fingerprints.nbytes * 8 / max(nkeys, 1)],
                "payload": [payload],
                "content_sha256": [hashlib.sha256(payload).hexdigest()],
            }
        )

    return kernel


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

    Returns a FOREST_SCHEMA DataFrame, one row per shard. Lazy — nothing runs
    until the forest is written/collected.

    shard_bits: None → planned from approx_count_distinct (single extra pass,
    no shuffle). pre_dedup: run dropDuplicates before the shard shuffle —
    worth it when the duplicate ratio is high (shrinks shuffle bytes), skipped
    by default because the kernel dedups anyway and one shuffle beats two.
    """
    keys_df = keys_df.select(F.col(key_name).alias("key"))
    if shard_bits is None:
        n_est = keys_df.agg(F.approx_count_distinct("key").alias("n")).first()["n"]
        shard_bits = plan_shard_bits(n_est, target_keys_per_shard, min_shards)
    if pre_dedup:
        keys_df = dedup_keys(keys_df)
    spec = ForestSpec(kind=kind, width=width, arity=arity, shard_bits=shard_bits,
                      route=route)
    sharded = keys_df.withColumn("shard", shard_column("key", shard_bits, route))
    return sharded.groupBy("shard").applyInPandas(_kernel_factory(spec), FOREST_SCHEMA)


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
    chain is 3 Spark job rounds on tiny data (an approx_count_distinct
    planning pass, the shuffle+kernel build, the state collect) — ~1.5 s
    of pure scheduling per call. This builds the identical single-shard
    filter (same deterministic kernel and seed schedule) in-process.
    """
    spec = ForestSpec(kind=kind, width=width, arity=arity, shard_bits=0)
    keys_u64 = to_u64(np.asarray(keys_i64, dtype=np.int64))
    filt, payload, iterations, dt, nkeys = _build_one(keys_u64, spec)
    return Forest(
        [
            {
                "shard": 0,
                "kind": kind,
                "width": width,
                "arity": arity,
                "shard_bits": 0,
                "route": spec.route,
                "seed": int(np.uint64(filt.seed).astype(np.int64)),
                "nkeys": nkeys,
                "iterations": iterations,
                "build_seconds": dt,
                "bits_per_entry": filt.fingerprints.nbytes * 8 / max(nkeys, 1),
                "payload": payload,
                "content_sha256": hashlib.sha256(payload).hexdigest(),
            }
        ]
    )


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
    keys_df = keys_df.select(F.col(key_name).alias("key"))
    if pre_dedup:
        keys_df = dedup_keys(keys_df)
    sharded = keys_df.withColumn("shard", shard_column("key", shard_bits, route))
    if widths is None:
        widths = _plan_widths(sharded, budget_bytes, arity)
    else:
        bad = {w for w in widths.values() if w not in (8, 16, 32)}
        if bad:
            raise ValueError(
                f"explicit width plan contains invalid widths {sorted(bad)} "
                "(must be 8, 16 or 32) — failing at the driver instead of "
                "deep inside the build kernel"
            )
    spark = keys_df.sparkSession
    widths_df = spark.createDataFrame(
        [(s, w) for s, w in sorted(widths.items())], "shard long, width int"
    )
    spec = ForestSpec(kind="fuse", width=8, arity=arity, shard_bits=shard_bits,
                      route=route)
    # LEFT join + width default: an inner join would silently DROP every key
    # of a shard the planning pass didn't see (possible when keys_df has
    # nondeterministic lineage or the source grew between the counts action
    # and the build) — a zero-FN violation. Unplanned shards build at the
    # floor width instead.
    return (
        sharded.join(F.broadcast(widths_df), "shard", "left")
        .withColumn("width", F.coalesce(F.col("width"), F.lit(8)))
        .groupBy("shard")
        .applyInPandas(_kernel_factory(spec), FOREST_SCHEMA)
    )


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

    The done-shard anti-join is applied to the KEYS, below the build kernel —
    filtering the kernel's *output* rows instead would re-run every shard's
    construction and discard the results (Catalyst cannot push an anti-join
    under a Python UDF).
    """
    if "shard_bits" not in build_kwargs:
        raise ValueError("resumable builds require explicit shard_bits")
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
        write_forest(build_forest(keys_df, **build_kwargs), path)
        return spark.read.parquet(path)
    kwargs = dict(build_kwargs)
    shard_bits = kwargs.pop("shard_bits")
    route = kwargs.pop("route", "xxh64")
    key_name = kwargs.pop("key_name", "key")
    kwargs.pop("target_keys_per_shard", None)
    kwargs.pop("min_shards", None)
    if kwargs.pop("pre_dedup", False):
        keys_df = dedup_keys(keys_df, key_name)
    sharded = keys_df.select(F.col(key_name).alias("key")).withColumn(
        "shard", shard_column("key", shard_bits, route)
    )
    missing_keys = sharded.join(F.broadcast(done), on="shard", how="left_anti")
    spec = ForestSpec(shard_bits=shard_bits, route=route, **kwargs)
    missing = missing_keys.groupBy("shard").applyInPandas(
        _kernel_factory(spec), FOREST_SCHEMA
    )
    write_forest(missing, path)
    return spark.read.parquet(path)


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
    uniform-width resumable path.

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
    os.makedirs(path, exist_ok=True)
    plan_path = os.path.join(path, "_sparkfuse_widths.json")
    key_name = build_kwargs.get("key_name", "key")
    route = build_kwargs.get("route", "xxh64")
    arity = build_kwargs.get("arity", 3)
    # the sink dir always exists here (it holds the plan file), so "fresh"
    # is detected by the absence of data files, not by a read failure —
    # any read error over actual data files must propagate
    has_data = any(
        not f.startswith(("_", ".")) for f in os.listdir(path)
    )
    params = {"shard_bits": shard_bits, "budget_bytes": budget_bytes,
              "route": route, "arity": arity}
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
        sharded = keys_df.select(F.col(key_name).alias("key")).withColumn(
            "shard", shard_column("key", shard_bits, route)
        )
        widths = _plan_widths(sharded, budget_bytes, arity)
        with open(plan_path, "w") as f:
            json.dump(
                params | {"widths": {str(s): w for s, w in widths.items()}}, f
            )
    done = (
        spark.read.parquet(path).select("shard").dropDuplicates()
        if has_data
        else None
    )
    build_keys = keys_df
    kwargs = dict(build_kwargs)
    if done is not None and not done.isEmpty():
        # filter the KEYS of already-built shards out below the kernel
        # (filtering the kernel OUTPUT would re-run and discard every shard)
        key_name = kwargs.pop("key_name", "key")
        route = kwargs.get("route", "xxh64")
        sharded_keys = keys_df.select(F.col(key_name).alias("key")).withColumn(
            "shard", shard_column("key", shard_bits, route)
        )
        build_keys = sharded_keys.join(
            F.broadcast(done), "shard", "left_anti"
        ).drop("shard")
        if build_keys.isEmpty():
            return spark.read.parquet(path)
    built = build_forest_budgeted(
        build_keys, budget_bytes, shard_bits, widths=widths, **kwargs
    )
    write_forest(built, path)
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# driver-side forest handle + probe routing
# ---------------------------------------------------------------------------

# A replayed row repeats its payload bytes, recorded sha and decode parameters.
_REPLAY_FIELDS = ("kind", "width", "arity", "payload", "content_sha256")


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
        payload = bytes(r["payload"])
        if r["kind"] == "fuse":
            filt = load_fuse_bytes(payload, width=r["width"], arity=r["arity"])
        else:
            filt = load_xor_bytes(payload)
        decoded[shard] = (r, filt)
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
        kinds = {(r["kind"], r["arity"], r["route"]) for r in rows}
        bits = {r["shard_bits"] for r in rows}
        # widths MAY vary per shard (budgeted forests); kind/arity/route/
        # shard_bits must not — they change the routing/probe math itself
        if len(kinds) != 1 or len(bits) != 1:
            raise ValueError(f"inhomogeneous forest: kinds={kinds} shard_bits={bits}")
        (self.kind, self.arity, self.route), = kinds
        (self.shard_bits,) = bits
        self.width = max(self.widths.values())  # widest member (informational)
        self.nkeys = sum(r["nkeys"] for r in rows)
        self.size_in_bytes = sum(len(r["payload"]) for r in rows)

    @classmethod
    def from_df(cls, forest_df: DataFrame) -> "Forest":
        return cls([r.asDict() for r in forest_df.collect()])

    def __getstate__(self):
        # the packed-probe cache duplicates every fingerprint array; drop it
        # from pickling so a driver-side probe before broadcast doesn't
        # double the broadcast payload (it lazily rebuilds on the executor)
        state = dict(self.__dict__)
        state.pop("_pack_cache", None)
        return state

    def _packed(self):
        """Lazily concatenate shard fingerprint arrays into ONE array PER
        WIDTH GROUP plus per-shard parameter vectors, so a probe batch
        routes with pure gathers — no per-shard loop, no argsort.
        Slot_global = offset[shard] + slot_local; per-element layout params
        come from tiny gathers. A shard belongs to exactly one width group
        (mixed widths exist only in budgeted forests; the common
        uniform-width forest has a single group — identical cost to the
        old single-pack layout)."""
        if getattr(self, "_pack_cache", None) is not None:
            return self._pack_cache
        space = 1 << max(self.shard_bits, 0)
        groups = []
        for width in sorted(set(self.widths.values())):
            offsets = np.full(space, -1, dtype=np.int64)
            seeds = np.zeros(space, dtype=np.uint64)
            p1 = np.zeros(space, dtype=np.uint64)  # fuse: scl | xor: block_len
            p2 = np.zeros(space, dtype=np.uint32)  # fuse: seg | xor: unused
            p3 = np.zeros(space, dtype=np.uint32)  # fuse: mask| xor: unused
            fps = []
            pos = 0
            for s, f in sorted(self.filters.items()):
                if self.widths[s] != width:
                    continue
                offsets[s] = pos
                seeds[s] = np.uint64(f.seed)
                if self.kind == "fuse":
                    p1[s] = np.uint64(f.segment_count_length)
                    p2[s] = np.uint32(f.segment_length)
                    p3[s] = np.uint32(f.segment_length_mask)
                else:
                    p1[s] = np.uint64(f.block_length)
                fps.append(f.fingerprints)
                pos += len(f.fingerprints)
            groups.append((offsets, seeds, p1, p2, p3, np.concatenate(fps)))
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
            if filt is None:
                return out
            return _probe_one(filt, keys)
        routed = xxh64_u64(keys) if self.route == "xxh64" else keys
        sh = (routed >> np.uint64(64 - self.shard_bits)).astype(np.int64)
        for offsets, seeds, p1, p2, p3, packed in self._packed():
            off = offsets[sh]
            valid = off >= 0
            if not valid.any():
                continue
            k = keys[valid]
            shv = sh[valid]
            o = off[valid].astype(np.uint64)
            h = murmur64(k + seeds[shv])  # mixsplit with per-element seed
            f64 = h ^ (h >> np.uint64(32))
            if self.kind == "fuse":
                scl = p1[shv]
                seg = p2[shv]
                mask = p3[shv]
                hi = h >> np.uint64(32)
                lo = h & np.uint64(0xFFFFFFFF)
                h0 = ((hi * scl) + ((lo * scl) >> np.uint64(32))) >> np.uint64(32)
                shifts = (18, 0) if self.arity == 3 else (36, 18, 0)
                h0_32 = h0.astype(np.uint32)
                acc = f64.astype(packed.dtype) ^ packed[o + h0]
                for lane, shf in enumerate(shifts, start=1):
                    sl = (h >> np.uint64(shf)).astype(np.uint32) & mask
                    loc = (h0_32 + np.uint32(lane) * seg) ^ sl
                    acc ^= packed[o + loc]
                out[valid] = acc == 0
            else:
                blk = p1[shv]
                r0 = ((h & np.uint64(0xFFFFFFFF)) * blk) >> np.uint64(32)
                r1 = ((rotl64(h, 21) & np.uint64(0xFFFFFFFF)) * blk) >> np.uint64(32)
                r2 = ((rotl64(h, 42) & np.uint64(0xFFFFFFFF)) * blk) >> np.uint64(32)
                got = (
                    packed[o + r0]
                    ^ packed[o + blk + r1]
                    ^ packed[o + np.uint64(2) * blk + r2]
                )
                out[valid] = f64.astype(packed.dtype) == got
        return out

    def bits_per_entry(self) -> float:
        return self.size_in_bytes * 8 / max(self.nkeys, 1)


def _probe_one(filt, keys_u64: np.ndarray) -> np.ndarray:
    if isinstance(filt, FuseFilter):
        return fuse_contains(filt, keys_u64)
    if isinstance(filt, XorFilter):
        return xor_contains(filt, keys_u64)
    raise TypeError(type(filt))
