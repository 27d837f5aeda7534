"""Traced-run sweep: one pass over every layer on the workload's own data.

The workload's cycles already time the layers they call. The sweep times the
rest once or a few times each, so every traced run reports every per-layer
metric: the key scan, a forest build, the driver-side kernels against the
sharded forest, the broadcast collect and deserialize, a probe, the
exact-confirm join, two epoch appends and a Bloom baseline. Every answer the
sweep produces is checked like a cycle's.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from sparkfuse.bloom import build_bloom
from sparkfuse.forest import Forest
from sparkfuse.hashing import to_u64
from sparkfuse.kernels import build_fuse, fuse_contains
from sparkfuse.keys import extract_keys
from sparkfuse.probe import exact_member_forest
from sparkfuse.serialize import load_fuse_bytes
from workloads import (
    CORES,
    FUSE8_FPP,
    read_sink_rows,
    verdict_problems,
)

REPS = 3
STREAM_EPOCHS = 2


def sweep(w) -> tuple[dict[str, float], list[str]]:
    """Returns (values that are not span durations, problems)."""
    t, spark = w.tracer, w.spark
    values: dict[str, float] = {}
    problems: list[str] = []

    for _ in range(REPS):
        with t.span("keys.scan"):
            extract_keys(w.table_df(), "text").write.format("noop").mode("overwrite").save()

    sink = w.sink
    if w.name != "forest_build":
        sink = w.path("sweep_forest")
        w.build_and_write(sink, min_shards=CORES)
        problems += w.check_forest(sink)
    rows = read_sink_rows(sink)
    values["forest.reseeds"] = sum(r["iterations"] - 1 for r in rows)
    values["kernels.lineage_build_s"] = sum(r["build_seconds"] for r in rows)

    for _ in range(REPS):
        with t.span("forest.collect"):
            forest = Forest.from_df(w.read(sink))
    for _ in range(REPS):
        with t.span("serialize.load"):
            for r in rows:
                load_fuse_bytes(r["payload"], width=r["width"], arity=r["arity"])
    members = to_u64(w.members)
    for _ in range(REPS):
        with t.span("kernels.build"):
            filt, _ = build_fuse(members, width=8)
    keys = np.concatenate([w.members, w.non_members])
    forest.contains_np(keys[:1024])  # packs the shard layout once
    for _ in range(REPS):
        with t.span("forest.contains"):
            sharded = forest.contains_np(keys)
    for _ in range(REPS):
        with t.span("kernels.contains"):
            single = fuse_contains(filt, to_u64(keys))
    if not (sharded[: len(members)].all() and single[: len(members)].all()):
        problems.append("driver-side contains missed a member")

    if w.probe_path is None:
        w.write_probe_table()
    for _ in range(2):
        got = w.probe(sink)
        problems += verdict_problems(got, w.labels)[0]
    with t.span("probe.confirm"):
        confirmed = exact_member_forest(
            w.read(w.probe_path), "key", extract_keys(w.table_df(), "text"), "key",
            w.read(sink), spark, sink_path=sink,
        ).count()
    if confirmed != w.labels.get(True, 0):
        problems.append(f"exact confirm kept {confirmed} rows, labels say {w.labels}")
    values["probe.confirm_useful_ratio"] = confirmed / max(got.get((True, True), 0)
                                                           + got.get((False, True), 0), 1)

    stream = w.path("sweep_stream")
    half = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(STREAM_EPOCHS))
    for e in range(STREAM_EPOCHS):
        got = w.append_and_probe(w.table_df().filter(half == e), e, stream)
    # after the last epoch every labeled member is in the sink
    problems += verdict_problems(got, w.labels, STREAM_EPOCHS)[0]
    values["streaming.epochs"] = STREAM_EPOCHS

    with t.span("bloom.build"):
        bloom = build_bloom(extract_keys(w.table_df(), "text"),
                            n_estimate=len(members), fpp=FUSE8_FPP)
    if not bloom.contains(w.members).all():
        problems.append("bloom filter missed a member")
    values["bloom.bits_per_entry"] = bloom.bits_per_entry(len(members))
    values["bloom.fpp_pct"] = 100.0 * float(bloom.contains(w.non_members).mean())
    return values, problems
