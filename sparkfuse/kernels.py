"""Pure-numpy construction & probe kernels (SURVEY.md §2.2-2.3, C1-C12/P1-P3).

Two construction strategies:

* ``build_fuse`` / ``build_xor`` — **vectorized frontier peeling**: each round
  finds every currently-singleton slot at once (``np.nonzero(count == 1)``),
  stacks those keys, and removes them from their other slots with
  ``np.add.at`` / ``np.bitwise_xor.at``. Peeling rounds are O(log n) w.h.p.,
  so the kernel is numpy-bound, not Python-loop-bound. Deterministic: the
  seed schedule is a fixed splitmix64 counter and every numpy op is
  order-stable, so independent builds of the same keys are identical
  (mirrors /root/reference/binaryfusefilter_test.go:355-394).

* ``build_fuse_reference_order`` — a sequential small-input build that follows
  the reference's exact in-memory order (counting-sort insertion, packed
  t2count accumulation, LIFO singleton queue, reverse-stack assignment,
  /root/reference/binaryfusefilter.go:96-340) so that serialized bytes
  reproduce the reference's golden stream
  (/root/reference/serialization_test.go:54). Used for format-parity tests
  only; the vectorized kernel is the production path.

Both tolerate duplicate keys (dedup upfront via np.unique — the distributed
layer additionally runs dropDuplicates before keys reach a kernel) and both
retry on peel failure with a deterministic reseed schedule bounded by
MAX_ITERATIONS (/root/reference/xorfilter.go:102-104).

These kernels run *per shard* inside ``groupBy('shard').applyInPandas``, one
shard per Spark task (``forest._build_shards`` places shards with
``repartitionById``); the distributed parallelism is across shard filters
(SURVEY.md §3.1), matching the reference's advice to build many filters side
by side rather than one giant one.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import numpy as np

from sparkfuse.hashing import (
    MASK64,
    fingerprint64,
    mixsplit,
    mulhi64_u32,
    murmur64_scalar,
    rotl64,
    seed_sequence,
)
from sparkfuse.params import MAX_ITERATIONS, fuse_parameters, xor_parameters

_DTYPES = {8: np.uint8, 16: np.uint16, 32: np.uint32}


def _dtype_for_width(width: int, allowed=(8, 16, 32)):
    if width not in allowed:
        raise ValueError(f"fingerprint width must be one of {allowed}, got {width}")
    return _DTYPES[width]


class _Filter:
    """What both filter kinds share: a fingerprint array gathered at the
    slots ``slots(hashes)`` derives from a key's seeded hash. Construction
    peels through the same ``slots`` that ``contains`` probes through, as
    the reference's getHashFromHash serves both (reference
    binaryfusefilter.go:370-378)."""

    @property
    def size_in_bytes(self) -> int:
        return int(self.fingerprints.nbytes)

    def bits_per_entry(self, n: int) -> float:
        return self.fingerprints.nbytes * 8 / max(n, 1)

    def contains(self, keys) -> np.ndarray:
        """Vectorized membership probe (P1-P3): zero means 'probably in'."""
        keys = np.asarray(keys, dtype=np.uint64)
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        h = mixsplit(keys, self.seed)
        return _verdict(self.fingerprints, h, self.slots(h))


@dataclass
class FuseFilter(_Filter):
    """Immutable binary fuse filter (3-wise or 4-wise), width 8/16/32 bits.

    Field roles mirror /root/reference/binaryfusefilter.go:14-22."""

    width: int
    arity: int
    seed: int
    segment_length: int
    segment_length_mask: int
    segment_count: int
    segment_count_length: int
    fingerprints: np.ndarray  # dtype uint{width}

    @property
    def layout(self) -> tuple:
        """The slot derivation's layout fields, each in its probe dtype:
        (segment_count_length u64, segment_length u32, segment_length_mask
        u32)."""
        return (
            np.uint64(self.segment_count_length),
            np.uint32(self.segment_length),
            np.uint32(self.segment_length_mask),
        )

    def slots(self, hashes: np.ndarray, layout: tuple | None = None) -> np.ndarray:
        """This filter's slots — or, with ``layout`` (per-key vectors of the
        layout fields), the slots of keys spread over several filters of
        this kind and arity."""
        return _fuse_slots(hashes, self.arity, *(self.layout if layout is None else layout))


@dataclass
class XorFilter(_Filter):
    """Immutable xor filter, width 8 or 16 bits ("xor8"/"xor16").

    The reference ships only Xor8 (/root/reference/xorfilter_definitions.go:4-8);
    the 16-bit variant is the same math with 16-bit fingerprint truncation
    (SURVEY.md §2.4 note)."""

    width: int
    seed: int
    block_length: int
    fingerprints: np.ndarray

    @property
    def layout(self) -> tuple:
        """(block_length u64,): see ``FuseFilter.layout``."""
        return (np.uint64(self.block_length),)

    def slots(self, hashes: np.ndarray, layout: tuple | None = None) -> np.ndarray:
        """See ``FuseFilter.slots``."""
        return _xor_slots(hashes, *(self.layout if layout is None else layout))


# ---------------------------------------------------------------------------
# slot derivation and the gather
# ---------------------------------------------------------------------------
# The layout arguments are scalars (one filter) or per-key arrays (keys of
# several filters, the packed forest probe), each in its native dtype: a
# converted or widened layout vector costs a copy per probe batch.

def _fuse_slots(hashes: np.ndarray, arity: int, scl, seg, mask) -> np.ndarray:
    """(arity, n) slot indices for segment_count_length ``scl`` (u64),
    segment length ``seg`` and mask ``mask`` (u32).

    Arity 3 mirrors getHashFromHash (/root/reference/binaryfusefilter.go:370-378):
    h0 = mulhi(hash, SegmentCountLength); h1/h2 = next segments xor'd with
    18-bit hash slices. Arity 4 is our extension (formulas exist in the
    reference at binaryfusefilter.go:398,407-408 but no build path): same
    scheme with slices at shifts 36/18/0.
    """
    h0 = mulhi64_u32(hashes, scl)
    out = np.empty((arity, len(hashes)), dtype=np.uint32)
    out[0] = h0
    for lane, sh in enumerate((18, 0) if arity == 3 else (36, 18, 0), start=1):
        out[lane] = h0 + np.uint32(lane) * seg
        out[lane] ^= (hashes >> np.uint64(sh)).astype(np.uint32) & mask
    return out


def _xor_slots(hashes: np.ndarray, block_length) -> np.ndarray:
    """(3, n) slot indices for the xor layout
    (reference xorfilter.go:45-84): 3 equal blocks of ``block_length``
    (u64), lanes from rotations 0/21/42, Lemire fast-range into each block."""
    low = np.uint64(0xFFFFFFFF)
    out = np.empty((3, len(hashes)), dtype=np.uint32)
    out[0] = ((hashes & low) * block_length) >> np.uint64(32)
    for lane, rot in ((1, 21), (2, 42)):
        r = ((rotl64(hashes, rot) & low) * block_length) >> np.uint64(32)
        out[lane] = r + np.uint64(lane) * block_length
    return out


def _verdict(fingerprints: np.ndarray, hashes: np.ndarray, slots: np.ndarray,
             offset: np.ndarray | None = None) -> np.ndarray:
    """The one gather (P1-P3, reference xorfilter.go:45-55,
    binaryfusefilter.go:380-387): xor each key's fingerprint with the
    fingerprints at its slots — at ``offset + slot`` when ``fingerprints``
    packs several filters — and zero means 'probably in'."""
    acc = fingerprint64(hashes).astype(fingerprints.dtype)
    for lane in slots:
        acc ^= fingerprints[lane if offset is None else offset + lane]
    return acc == 0


# ---------------------------------------------------------------------------
# vectorized frontier peeling (shared by fuse and xor builds)
# ---------------------------------------------------------------------------

class BuildWorkspace:
    """Reusable grow-only scratch buffers — the numpy analog of the Go
    builder's cross-build buffer reuse (C5/C11: NewBinaryFuse8Builder /
    reuseBuffer, /root/reference/binaryfusefilter.go:45-79, zero-alloc test
    binaryfusefilter_test.go:398-422).

    A buffer is reallocated only when a request outgrows it, so retry
    attempts within one build AND successive shard builds inside the same
    Spark python worker process (each shard is one task, and a reused worker
    runs its tasks one after another) run allocation-free after warm-up —
    this is where many-tiny-shard forests spend their per-attempt fixed
    costs.

    Not thread-safe by design: a PySpark worker process executes one task at
    a time; driver-side concurrent builders should pass their own instance.
    """

    def __init__(self):
        self._bufs: dict[str, np.ndarray] = {}

    def get(self, name: str, size: int, dtype) -> np.ndarray:
        """An uninitialized view of ``size`` elements (grow-only backing)."""
        arr = self._bufs.get(name)
        if arr is None or arr.size < size or arr.dtype != np.dtype(dtype):
            arr = np.empty(max(size, 1), dtype=dtype)
            self._bufs[name] = arr
        return arr[:size]

    def zeros(self, name: str, size: int, dtype) -> np.ndarray:
        arr = self.get(name, size, dtype)
        arr.fill(0)
        return arr

    def arange(self, name: str, size: int, dtype) -> np.ndarray:
        """A read-only-by-convention 0..size-1 ramp; refilled only on growth
        (callers must never write to it)."""
        arr = self._bufs.get(name)
        if arr is None or arr.size < size or arr.dtype != np.dtype(dtype):
            arr = np.arange(max(size, 1), dtype=dtype)
            self._bufs[name] = arr
        return arr[:size]

    def nbytes(self) -> int:
        return sum(a.nbytes for a in self._bufs.values())


# process-global workspace: reused across every build in this worker
_DEFAULT_WS = BuildWorkspace()


def _peel_and_assign(
    hashes: np.ndarray, slots_fn, capacity: int, dtype, ws: BuildWorkspace
):
    """One construction attempt. Returns fingerprint array or None on failure.

    Frontier peeling: every slot holding exactly one remaining key is peeled
    in the same vectorized round. Within a round the peeled slots are
    pairwise-independent (a singleton slot contains exactly one key, and that
    key's other slots hold >= that key, so no other round-member can alias
    it), which also makes the reverse per-round fingerprint assignment
    conflict-free.

    All scratch (counts, index-xor accumulator, stacks, dedup position map,
    index ramps) lives in ``ws``; only the returned fingerprint array is
    freshly allocated (it is owned by the filter).
    """
    n = len(hashes)
    if n == 0:
        return np.zeros(capacity, dtype=dtype)
    slots = slots_fn(hashes)  # (arity, n)
    arity = slots.shape[0]
    # one-pass histogram beats ufunc.at scatter for the counts; a single
    # fused xor.at call beats one per lane (ufunc.at has ~0.1ms fixed cost,
    # and the peel makes ~n/2k rounds of small calls — see PLANS.md)
    flat = slots.reshape(-1)
    count = ws.get("count", capacity, np.int32)
    np.copyto(count, np.bincount(flat, minlength=capacity), casting="unsafe")
    # XOR of key INDICES (not hashes): a singleton slot then yields the key's
    # index directly, so per-round slot triples come from a GATHER of the
    # precomputed table instead of recomputing the hash mixes, and the xor
    # accumulator is uint32 (half the .at memory traffic of uint64).
    # (n < 2^32 always: a shard is ~2M keys.)
    ixor = ws.zeros("ixor", capacity, np.uint32)
    # the value operand broadcasts against the (arity, n) index shape —
    # measured equal to an explicit tiled buffer, with no fill pass
    np.bitwise_xor.at(ixor, slots, ws.arange("ramp32", n, np.uint32))

    stack_idx = ws.get("stack_idx", n, np.int64)
    stack_slot = ws.get("stack_slot", n, np.int64)
    frontiers: list[tuple[int, int, np.ndarray]] = []  # (start, end, slot cache)
    stacked = 0

    # Peel rounds number O(hundreds) with a long small-frontier tail, so the
    # candidate set is tracked incrementally: after a round's removals, only
    # slots touched by those removals can have become singletons — a full
    # count==1 rescan per round would cost rounds x capacity.
    # int32 throughout: occurrence positions and key indices are < 2^31 at
    # any shard size, and halving these buffers matters in the bus-bound
    # many-worker regime (BENCH/BASELINE.md)
    pos = ws.get("pos", n, np.int32)
    # cand can be as long as capacity (initial round) or arity*m (later),
    # so the occurrence-number buffer must cover the larger of the two
    occ_n = max(capacity, arity * n)
    occ_all = ws.arange("occ", occ_n, np.int32)
    cand = np.nonzero(count == 1)[0]
    while cand.size:
        ids = ixor[cand]
        # A key alone in two slots at once appears twice (and a slot may
        # appear twice in cand — see below); keep ONE occurrence per key.
        # Sort-free dedup: scatter each occurrence's position keyed by id —
        # the last write wins — then keep exactly the winning occurrences.
        # (Either of a key's singleton slots is a valid assignment target:
        # the reverse pass xors over all arity lanes regardless.)
        occ = occ_all[: len(ids)]
        pos[ids] = occ
        winner = pos[ids] == occ
        uids = ids[winner]  # uint32 key indices
        sl = cand[winner]
        m = len(uids)
        stack_idx[stacked:stacked + m] = uids
        stack_slot[stacked:stacked + m] = sl
        stacked += m
        g = slots[:, uids]  # gather beats recomputing the hash mixes
        frontiers.append((stacked - m, stacked, g))
        touched = g.reshape(-1)
        # np.int32 scalar addend keeps ufunc.at on the fast same-dtype inner
        # loop; a Python int forces a buffered casting path ~12x slower
        # (measured 431us vs 35us per ~1.8k-key round, numpy 1.26)
        np.add.at(count, touched, np.int32(-1))
        np.bitwise_xor.at(ixor, g, uids)  # value broadcasts over lanes
        # duplicates (two keys of this round sharing a slot) are tolerated
        # here — next round's unique-on-ids collapses them — saving a sort
        cand = touched[count[touched] == 1]

    if stacked != n:
        return None

    fp = np.zeros(capacity, dtype=dtype)
    for start, end, g in reversed(frontiers):
        h = hashes[stack_idx[start:end]]
        acc = fingerprint64(h).astype(dtype)
        for lane in range(arity):
            acc = acc ^ fp[g[lane]]
        fp[stack_slot[start:end]] = acc
    return fp


# ---------------------------------------------------------------------------
# public builds
# ---------------------------------------------------------------------------

def _build_unique(ukeys: np.ndarray, dtype, attempt, workspace: BuildWorkspace | None):
    """The one reseed loop of the vectorized builds. Attempt ``i`` (from 1)
    hashes the keys with the i-th seed of the splitmix64 schedule from
    counter 1 and peels through ``attempt(i)`` = (filter shell: the
    attempt's layout, no seed or fingerprints yet; capacity). The first
    attempt that peels returns ``(filter, iterations)``; past MAX_ITERATIONS
    it raises (reference xorfilter.go:102-104)."""
    ws = workspace if workspace is not None else _DEFAULT_WS
    seeds = seed_sequence(1)
    for iterations in range(1, MAX_ITERATIONS + 1):
        shell, capacity = attempt(iterations)
        seed = next(seeds)
        hashes = np.unique(mixsplit(ukeys, seed))
        fp = _peel_and_assign(hashes, shell.slots, capacity, dtype, ws)
        if fp is not None:
            return replace(shell, seed=seed, fingerprints=fp), iterations
    raise RuntimeError("too many iterations")


def build_fuse(
    keys, width: int = 8, arity: int = 3, workspace: BuildWorkspace | None = None
) -> tuple[FuseFilter, int]:
    """Build a binary fuse filter over u64 keys (vectorized).

    Semantics mirrored from buildBinaryFuse
    (/root/reference/binaryfusefilter.go:91-340): deterministic splitmix64
    seed schedule from counter 1; segment-length halving/restore heuristic on
    retries for 4 < size < 1e6; duplicate tolerance; empty set succeeds
    (/root/reference/binaryfusefilter_test.go:113-119); MAX_ITERATIONS bound.

    Returns ``(filter, iterations)`` — the iteration count feeds the
    per-shard lineage column (C12). Scratch comes from ``workspace``
    (default: the process-global one, reused across builds — C5).
    """
    return build_fuse_unique(np.unique(np.asarray(keys, dtype=np.uint64)), width,
                             arity, workspace)


def build_fuse_unique(
    ukeys: np.ndarray, width: int = 8, arity: int = 3,
    workspace: BuildWorkspace | None = None,
) -> tuple[FuseFilter, int]:
    """``build_fuse`` over sorted distinct u64 keys (``np.unique`` output)."""
    dtype = _dtype_for_width(width)
    size = len(ukeys)
    base = fuse_parameters(size, arity)
    halved = base.with_segment_length(base.segment_length // 2)

    def attempt(i: int):
        # escape pathological segment sizes: every 4th attempt from the 2nd
        # halves the segment length and the next one restores it
        # (reference binaryfusefilter.go:122-141)
        p = halved if 4 < size < 1_000_000 and i % 4 == 2 else base
        shell = FuseFilter(
            width=width, arity=arity, seed=0, segment_length=p.segment_length,
            segment_length_mask=p.segment_length_mask,
            segment_count=p.segment_count,
            segment_count_length=p.segment_count_length, fingerprints=None,
        )
        return shell, p.array_length

    return _build_unique(ukeys, dtype, attempt, workspace)


def build_xor(
    keys, width: int = 8, workspace: BuildWorkspace | None = None
) -> tuple[XorFilter, int]:
    """Build an xor filter (vectorized), width 8 ("xor8") or 16 ("xor16").

    Mirrors Populate (/root/reference/xorfilter.go:109-280): errors on an
    empty set (:110-113), capacity 32+ceil(1.23n) floored to x3, retries on
    a deterministic reseed schedule. Returns ``(filter, iterations)``.
    """
    return build_xor_unique(np.unique(np.asarray(keys, dtype=np.uint64)), width, workspace)


def build_xor_unique(
    ukeys: np.ndarray, width: int = 8, workspace: BuildWorkspace | None = None
) -> tuple[XorFilter, int]:
    """``build_xor`` over sorted distinct u64 keys (``np.unique`` output)."""
    dtype = _dtype_for_width(width, allowed=(8, 16))
    if len(ukeys) == 0:
        raise ValueError("provide a non-empty set")
    p = xor_parameters(len(ukeys))
    shell = XorFilter(width=width, seed=0, block_length=p.block_length, fingerprints=None)
    return _build_unique(ukeys, dtype, lambda i: (shell, p.array_length), workspace)


def fuse_contains(f: FuseFilter, keys: np.ndarray) -> np.ndarray:
    """Vectorized membership probe (P2/P3,
    /root/reference/binaryfusefilter.go:380-387): gather 3 (or 4)
    fingerprints, xor with the key fingerprint, zero means 'probably in'."""
    return f.contains(keys)


def xor_contains(f: XorFilter, keys: np.ndarray) -> np.ndarray:
    """Vectorized xor probe (P1, /root/reference/xorfilter.go:45-55)."""
    return f.contains(keys)


# ---------------------------------------------------------------------------
# reference-order sequential fuse build (golden-byte parity; small inputs)
# ---------------------------------------------------------------------------

def _get_hash_from_hash(hash_: int, seg_len: int, mask: int, scl: int):
    """Scalar 3-wise slot derivation, reference order
    (/root/reference/binaryfusefilter.go:370-378)."""
    h0 = ((hash_ * scl) >> 64) & 0xFFFFFFFF
    h1 = h0 + seg_len
    h2 = h1 + seg_len
    h1 ^= (hash_ >> 18) & mask
    h2 ^= hash_ & mask
    return h0, h1, h2


def build_fuse_reference_order(keys, width: int = 8):
    """Sequential 3-wise fuse build following the reference's exact order so
    the fingerprint *content* (not just format) matches the Go implementation
    — validated against the golden byte stream at
    /root/reference/serialization_test.go:54. Small inputs only (pure
    Python); the vectorized ``build_fuse`` is the production path.
    """
    dtype = _dtype_for_width(width)
    keys = [int(k) & MASK64 for k in keys]
    size = len(keys)
    base = fuse_parameters(size, 3)
    seg_len = base.segment_length
    seg_mask = base.segment_length_mask
    seg_count = base.segment_count
    scl = base.segment_count_length
    capacity = base.array_length

    seeds = seed_sequence(1)
    seed = next(seeds)

    t2count = [0] * capacity
    t2hash = [0] * capacity
    reverse_order = [0] * (size + 1)
    reverse_order[size] = 1
    reverse_h = [0] * size
    alone = [0] * capacity
    iterations = 0

    while True:
        iterations += 1
        if iterations > MAX_ITERATIONS:
            raise RuntimeError("too many iterations")
        if 4 < size < 1_000_000:
            if iterations % 4 == 2:
                seg_len //= 2
                seg_mask = seg_len - 1
                seg_count = seg_count * 2 + 2
                scl = seg_count * seg_len
            elif iterations % 4 == 3:
                seg_len *= 2
                seg_mask = seg_len - 1
                seg_count = seg_count // 2 - 1
                scl = seg_count * seg_len

        block_bits = 1
        while (1 << block_bits) < seg_count:
            block_bits += 1
        start_pos = [(i * size) >> block_bits for i in range(1 << block_bits)]
        bb_mask = (1 << block_bits) - 1
        for key in keys:
            hash_ = murmur64_scalar((key + seed) & MASK64)
            seg_idx = hash_ >> (64 - block_bits)
            while reverse_order[start_pos[seg_idx]] != 0:
                seg_idx = (seg_idx + 1) & bb_mask
            reverse_order[start_pos[seg_idx]] = hash_
            start_pos[seg_idx] += 1

        error = 0
        duplicates = 0
        for i in range(size):
            hash_ = reverse_order[i]
            i1, i2, i3 = _get_hash_from_hash(hash_, seg_len, seg_mask, scl)
            t2count[i1] = (t2count[i1] + 4) & 0xFF
            t2hash[i1] ^= hash_
            t2count[i2] = ((t2count[i2] + 4) ^ 1) & 0xFF
            t2hash[i2] ^= hash_
            t2count[i3] = ((t2count[i3] + 4) ^ 2) & 0xFF
            t2hash[i3] ^= hash_
            if t2hash[i1] & t2hash[i2] & t2hash[i3] == 0:
                if (
                    (t2hash[i1] == 0 and t2count[i1] == 8)
                    or (t2hash[i2] == 0 and t2count[i2] == 8)
                    or (t2hash[i3] == 0 and t2count[i3] == 8)
                ):
                    duplicates += 1
                    t2count[i1] = (t2count[i1] - 4) & 0xFF
                    t2hash[i1] ^= hash_
                    t2count[i2] = ((t2count[i2] - 4) ^ 1) & 0xFF
                    t2hash[i2] ^= hash_
                    t2count[i3] = ((t2count[i3] - 4) ^ 2) & 0xFF
                    t2hash[i3] ^= hash_
            if t2count[i1] < 4 or t2count[i2] < 4 or t2count[i3] < 4:
                error = 1

        if error == 1:
            for i in range(size):
                reverse_order[i] = 0
            for i in range(capacity):
                t2count[i] = 0
                t2hash[i] = 0
            seed = next(seeds)
            continue

        qsize = 0
        for i in range(capacity):
            alone[qsize] = i
            if (t2count[i] >> 2) == 1:
                qsize += 1
        stacksize = 0
        while qsize > 0:
            qsize -= 1
            index = alone[qsize]
            if (t2count[index] >> 2) == 1:
                hash_ = t2hash[index]
                found = t2count[index] & 3
                reverse_h[stacksize] = found
                reverse_order[stacksize] = hash_
                stacksize += 1
                i1, i2, i3 = _get_hash_from_hash(hash_, seg_len, seg_mask, scl)
                h012 = (i1, i2, i3, i1, i2)
                other1 = h012[(found + 1) % 3]
                other2 = h012[(found + 2) % 3]
                f1 = (found + 1) % 3
                f2 = (found + 2) % 3

                alone[qsize] = other1
                if (t2count[other1] >> 2) == 2:
                    qsize += 1
                t2count[other1] = ((t2count[other1] - 4) ^ f1) & 0xFF
                t2hash[other1] ^= hash_

                alone[qsize] = other2
                if (t2count[other2] >> 2) == 2:
                    qsize += 1
                t2count[other2] = ((t2count[other2] - 4) ^ f2) & 0xFF
                t2hash[other2] ^= hash_

        if stacksize + duplicates == size:
            size = stacksize
            break
        if duplicates > 0:
            # Mirror the Go retry exactly (binaryfusefilter.go:300-310): prune
            # the key list but keep the STALE ``size``. The next counting pass
            # places only len(keys) hashes, leaving hash-0 phantom slots in
            # reverse_order that participate in counting/peeling just as they
            # do in Go — required for byte parity on inputs whose duplicates
            # survive into a retry.
            keys = sorted(set(keys))
        for i in range(size):
            reverse_order[i] = 0
        for i in range(capacity):
            t2count[i] = 0
            t2hash[i] = 0
        seed = next(seeds)

    fp_mask = (1 << width) - 1
    fingerprints = [0] * capacity
    for i in range(size - 1, -1, -1):
        hash_ = reverse_order[i]
        xor2 = (hash_ ^ (hash_ >> 32)) & fp_mask
        i1, i2, i3 = _get_hash_from_hash(hash_, seg_len, seg_mask, scl)
        found = reverse_h[i]
        h012 = (i1, i2, i3, i1, i2)
        fingerprints[h012[found]] = (
            xor2 ^ fingerprints[h012[found + 1]] ^ fingerprints[h012[found + 2]]
        )

    return FuseFilter(
        width=width,
        arity=3,
        seed=seed,
        segment_length=seg_len,
        segment_length_mask=seg_mask,
        segment_count=seg_count,
        segment_count_length=scl,
        fingerprints=np.array(fingerprints, dtype=dtype),
    ), iterations
