"""The workloads: seeded set-up, one timed cycle, and its check.

Every workload reads one seeded synthetic transcript table
(``sparkfuse.synth.synth_transcripts``) written to parquet in a fresh
directory, and drives only sparkfuse's public functions. ``cycle`` is the
timed work; ``check`` verifies its answer outside the timed interval and
returns the list of problems (empty when the answer is right).

* ``forest_build``: ``extract_keys`` -> ``build_forest`` (fuse8, planned
  ``shard_bits``) -> ``write_forest``. Check: the sink holds every distinct
  table key and its false-positive rate on a fixed non-member key array is
  within the fuse8 bound.
* ``forest_probe``: ``probe_forest`` of a labeled probe table against a sink
  built once in set-up, counted by (label, verdict). Check: no labeled member
  is missed, the counts add up to the labels, fpp within bound.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sparkfuse.forest import Forest, build_forest, write_forest
from sparkfuse.keys import extract_keys
from sparkfuse.probe import approx_contains_epoch_sink, probe_forest
from sparkfuse.streaming import forest_append_batch
from sparkfuse.synth import synth_transcripts

CORES = 4
FUSE8_FPP = 2.0 ** -8
TABLE_TURNS = 150_000          # the workload table
OTHER_TURNS = 150_000          # disjoint slice the probe's non-members come from
PROBE_MEMBER_FRACTION = 0.5    # share of table rows copied into the probe table
NONMEMBER_KEYS = 1_000_000     # fixed non-member key array
STREAM_SHARD_BITS = 2          # explicit, as forest_append_batch requires
FUSE_HEADER_BYTES = 28         # seed u64 + five u32 before the fingerprints
COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def fpp_bound(non_members: int, filters: int = 1) -> float:
    """Largest false-positive share a correct fuse8 forest may show: the
    union bound over ``filters`` filters per key plus six binomial sigmas."""
    p = min(1.0, filters * FUSE8_FPP)
    return p + 6.0 * math.sqrt(p * (1.0 - p) / max(non_members, 1))


def read_sink_rows(sink: str) -> list[dict]:
    return pq.read_table(sink).to_pylist()


def sink_bits_per_entry(rows: list[dict]) -> float:
    """Payload bits over distinct keys, summed over every row."""
    return sum(len(r["payload"]) for r in rows) * 8 / max(sum(r["nkeys"] for r in rows), 1)


def verdict_counts(out_df) -> dict[tuple[bool, bool], int]:
    """Rows of a probed probe table by (member, maybe_member)."""
    return {(r["member"], r["maybe_member"]): r["count"]
            for r in out_df.groupBy("member", "maybe_member").count().collect()}


def verdict_problems(got, labels: dict[bool, int], filters: int = 1):
    """Check ``verdict_counts`` against the label counts. Returns
    (problems, fpp)."""
    fn, tp = got.get((True, False), 0), got.get((True, True), 0)
    fp, tn = got.get((False, True), 0), got.get((False, False), 0)
    problems = []
    if fn:
        problems.append(f"{fn} false negatives")
    if fn + tp != labels.get(True, 0) or fp + tn != labels.get(False, 0):
        problems.append(f"counts {got} do not match the labels {labels}")
    fpp = fp / max(fp + tn, 1)
    if fpp > fpp_bound(fp + tn, filters):
        problems.append(f"fpp {fpp:.5f} above the bound for {filters} filter(s)")
    return problems, fpp


class Workload:
    """Set-up state and the calls into sparkfuse, each wrapped in a
    ``tracer`` span."""

    name = ""
    warmup = 0                # cycles run before timing starts
    can_corrupt = False

    def __init__(self, spark, root: str, seed: int, tracer, corrupt: bool = False):
        if corrupt and not self.can_corrupt:
            raise ValueError(f"{self.name} has no corrupted-sink self-test")
        self.spark, self.root, self.seed, self.tracer = spark, root, seed, tracer
        self.corrupt = corrupt
        self.dir = self.sink = self.probe_path = self.labels = None
        self._members = self._non_members = None
        self.bits_per_entry = self.fpp = float("nan")

    # -- set-up --------------------------------------------------------------
    def fresh_dir(self, rep: int) -> None:
        if self.dir is not None:
            shutil.rmtree(self.dir, ignore_errors=True)
        self.dir = os.path.join(self.root, f"setup{rep}")
        os.makedirs(self.dir)
        self.probe_path = self.labels = self._members = self._non_members = None

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def write_tables(self) -> None:
        """One seeded synth table, split by a hash of the row into the
        workload table (``TABLE_TURNS`` rows on average) and the disjoint
        slice the probe table's non-members come from."""
        total = TABLE_TURNS + OTHER_TURNS
        with self.tracer.span("synth.gen"):
            df = synth_transcripts(self.spark, total, seed=self.seed)
            row = F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(self.seed)), F.lit(total))
            df = df.withColumn("part", F.when(row < TABLE_TURNS, "table").otherwise("other"))
            self.data = self.path("data")
            df.write.partitionBy("part").parquet(self.data)

    def table_df(self):
        return self.read(self.data).filter(F.col("part") == "table").select(*COLS)

    def write_probe_table(self) -> None:
        """Probe turns with payload columns kept: members sampled from the
        workload table, non-members from the disjoint slice. The ``member``
        label is fixed once by an exact join on the key."""
        table = self.table_df()
        members = table.sample(fraction=PROBE_MEMBER_FRACTION, seed=self.seed)
        others = self.read(self.data).filter(F.col("part") == "other").select(*COLS)
        truth = (extract_keys(table, "text").distinct()
                 .withColumn("member", F.lit(True)))
        self.probe_path = self.path("probe")
        with self.tracer.span("synth.gen"):
            (members.unionByName(others)
             .withColumn("key", F.xxhash64("text"))
             .join(truth, "key", "left")
             .fillna(False, ["member"])
             .write.parquet(self.probe_path))
        counts = self.read(self.probe_path).groupBy("member").count().collect()
        self.labels = {r["member"]: r["count"] for r in counts}

    @property
    def members(self) -> np.ndarray:
        """Distinct keys of the workload table, sorted."""
        if self._members is None:
            keys = extract_keys(self.table_df(), "text").distinct()
            self._members = np.sort(keys.toPandas()["key"].to_numpy(dtype=np.int64))
        return self._members

    @property
    def non_members(self) -> np.ndarray:
        """A fixed seeded key array holding no member."""
        if self._non_members is None:
            rng = np.random.default_rng(self.seed)
            cand = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                                size=NONMEMBER_KEYS, dtype=np.int64)
            self._non_members = cand[~np.isin(cand, self.members)]
        return self._non_members

    # -- calls into sparkfuse ------------------------------------------------
    def build_and_write(self, sink: str, **build_kwargs) -> None:
        t = self.tracer
        with t.span("forest.build"):
            keys = extract_keys(self.table_df(), "text")
            with t.span("forest.plan"):
                forest_df = build_forest(keys, kind="fuse", width=8, **build_kwargs)
            with t.span("forest.write"):
                write_forest(forest_df, sink, mode="overwrite")

    def probe(self, sink: str):
        t = self.tracer
        with t.span("probe.run"):
            with t.span("probe.plan"):
                out = probe_forest(self.read(self.probe_path), "key", self.read(sink),
                                   self.spark, sink_path=sink)
            with t.span("probe.exec"):
                return verdict_counts(out)

    def append_and_probe(self, slice_df, epoch: int, sink: str):
        t = self.tracer
        with t.span("streaming.epoch"):
            with t.span("streaming.append"):
                forest_append_batch(slice_df, epoch, sink, ["text"],
                                    shard_bits=STREAM_SHARD_BITS)
            with t.span("streaming.probe"):
                out = approx_contains_epoch_sink(self.read(self.probe_path), "key", sink,
                                                 STREAM_SHARD_BITS)
                return verdict_counts(out)

    def check_forest(self, sink: str) -> list[str]:
        """Zero false negatives over every distinct table key, and fpp on the
        fixed non-member array within the fuse8 bound. Sets ``fpp`` and
        ``bits_per_entry`` from the sink."""
        rows = read_sink_rows(sink)
        forest = Forest(rows)
        problems = []
        missed = int((~forest.contains_np(self.members)).sum())
        if missed:
            problems.append(f"{missed} of {len(self.members)} distinct keys missed")
        if sum(r["nkeys"] for r in rows) != len(self.members):
            problems.append("sink nkeys do not sum to the distinct keys")
        self.fpp = float(forest.contains_np(self.non_members).mean())
        if self.fpp > fpp_bound(len(self.non_members)):
            problems.append(f"fpp {self.fpp:.5f} above the fuse8 bound")
        self.bits_per_entry = sink_bits_per_entry(rows)
        return problems

    # -- per workload ----------------------------------------------------------
    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def cycle(self, i: int):
        raise NotImplementedError

    def check(self, i: int, answer) -> list[str]:
        raise NotImplementedError

    def finish(self) -> list[str]:
        """Checks after the timed cycles."""
        return []


class ForestBuild(Workload):
    name = "forest_build"
    warmup = 6  # from the cycle-time curves in steadiness.json

    def setup(self, rep: int) -> None:
        self.fresh_dir(rep)
        self.write_tables()
        self.members  # noqa: B018 - the driver-side truth is part of set-up
        self.sink = self.path("sink")
        self._verified = None

    def cycle(self, i: int):
        self.build_and_write(self.sink, min_shards=CORES)

    def check(self, i: int, answer) -> list[str]:
        # builds are deterministic: a sink with the payload hashes of an
        # already verified sink needs no second probe
        rows = pq.read_table(self.sink, columns=["shard", "content_sha256"]).to_pylist()
        digest = sorted((r["shard"], r["content_sha256"]) for r in rows)
        if digest == self._verified:
            return []
        problems = self.check_forest(self.sink)
        if not problems:
            self._verified = digest
        return problems

    def finish(self) -> list[str]:
        return self.check_forest(self.sink)


class ForestProbe(Workload):
    name = "forest_probe"
    warmup = 10  # from the cycle-time curves in steadiness.json
    can_corrupt = True

    def setup(self, rep: int) -> None:
        self.fresh_dir(rep)
        self.write_tables()
        self.sink = self.path("sink")
        self.build_and_write(self.sink, min_shards=CORES)
        self.write_probe_table()
        if self.corrupt:
            self.sink = self.flip_one_byte(self.sink)

    def flip_one_byte(self, sink: str) -> str:
        """Self-test input: a copy of ``sink`` with one fingerprint byte
        flipped, at a slot some labeled probe member reads."""
        table = pq.read_table(sink)
        rows = table.to_pylist()
        labels = pq.read_table(self.probe_path, columns=["key", "member"])
        members = labels.filter(labels["member"])["key"].to_numpy()
        rng = np.random.default_rng(self.seed)
        for _ in range(1000):
            trial = [dict(r) for r in rows]
            r = trial[int(rng.integers(len(trial)))]
            payload = bytearray(r["payload"])
            payload[int(rng.integers(FUSE_HEADER_BYTES, len(payload)))] ^= 0xFF
            r["payload"] = bytes(payload)
            if not Forest(trial).contains_np(members).all():
                copy = self.path("sink_corrupt")
                os.makedirs(copy)
                pq.write_table(pa.Table.from_pylist(trial, schema=table.schema),
                               os.path.join(copy, "part-0.parquet"))
                return copy
        raise RuntimeError("no single byte flip reached a probe member")

    def cycle(self, i: int):
        return self.probe(self.sink)

    def check(self, i: int, answer) -> list[str]:
        problems, self.fpp = verdict_problems(answer, self.labels)
        return problems

    def finish(self) -> list[str]:
        self.bits_per_entry = sink_bits_per_entry(read_sink_rows(self.sink))
        return []


WORKLOADS = {w.name: w for w in (ForestBuild, ForestProbe)}
