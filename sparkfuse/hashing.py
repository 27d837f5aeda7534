"""Hash / scalar primitives (SURVEY.md §2.1, H1-H8) in vectorized numpy uint64.

Scalar variants (plain-python ints masked to 64 bits) drive the deterministic
seed schedule; vectorized variants run inside Arrow/pandas UDF kernels.

Reference behavior (not code) mirrored from:
  murmur64      /root/reference/xorfilter.go:9-16
  splitmix64    /root/reference/xorfilter.go:19-25
  mixsplit      /root/reference/xorfilter.go:27-29
  rotl64        /root/reference/xorfilter.go:31-33
  reduce        /root/reference/xorfilter.go:35-38  (Lemire fast-range)
  fingerprint   /root/reference/xorfilter.go:40-42
"""

from __future__ import annotations

import numpy as np

MASK64 = (1 << 64) - 1

# murmur64 avalanche constants (public MurmurHash3 finalizer constants).
_MURMUR_C1 = 0xFF51AFD7ED558CCD
_MURMUR_C2 = 0xC4CEB9FE1A85EC53

# splitmix64 golden-gamma increment (public splitmix64 constant).
SPLITMIX_GAMMA = 0x9E3779B97F4A7C15
_SPLITMIX_C1 = 0xBF58476D1CE4E5B9
_SPLITMIX_C2 = 0x94D049BB133111EB


# ---------------------------------------------------------------------------
# scalar (python-int) variants — used for seed schedules on the driver
# ---------------------------------------------------------------------------

def murmur64_scalar(h: int) -> int:
    h &= MASK64
    h ^= h >> 33
    h = (h * _MURMUR_C1) & MASK64
    h ^= h >> 33
    h = (h * _MURMUR_C2) & MASK64
    h ^= h >> 33
    return h


def splitmix64_next(seed: int) -> tuple[int, int]:
    """Advance the splitmix64 state; returns (new_seed, value).

    Matches the reference's seed generator semantics
    (/root/reference/xorfilter.go:19-25): the state advances by the golden
    gamma, then the *advanced* state is mixed to produce the output.
    """
    seed = (seed + SPLITMIX_GAMMA) & MASK64
    z = seed
    z = ((z ^ (z >> 30)) * _SPLITMIX_C1) & MASK64
    z = ((z ^ (z >> 27)) * _SPLITMIX_C2) & MASK64
    z = z ^ (z >> 31)
    return seed, z


def seed_sequence(counter_start: int = 1):
    """Deterministic infinite seed schedule: splitmix64 from a fixed counter.

    The reference seeds from counter=1 (/root/reference/xorfilter.go:118-119,
    binaryfusefilter.go:100-101); per-shard schedules offset the counter so
    distributed retries are reproducible (SURVEY.md §3.1 stage 3).
    """
    state = counter_start & MASK64
    while True:
        state, value = splitmix64_next(state)
        yield value


# ---------------------------------------------------------------------------
# vectorized numpy variants — kernel hot path (all inputs np.uint64 arrays)
# ---------------------------------------------------------------------------

def murmur64(h: np.ndarray) -> np.ndarray:
    h = h.astype(np.uint64, copy=True)
    h ^= h >> np.uint64(33)
    h *= np.uint64(_MURMUR_C1)
    h ^= h >> np.uint64(33)
    h *= np.uint64(_MURMUR_C2)
    h ^= h >> np.uint64(33)
    return h


def splitmix64_fill(n: int, counter_start: int = 1) -> np.ndarray:
    """Vectorized splitmix64 stream: n values from a counter (test keygen).

    Mirrors the reference test keygen semantics
    (/root/reference/xorfilter_test.go:14-20).
    """
    states = (np.uint64(counter_start) +
              (np.arange(1, n + 1, dtype=np.uint64)) * np.uint64(SPLITMIX_GAMMA))
    z = states
    z = (z ^ (z >> np.uint64(30))) * np.uint64(_SPLITMIX_C1)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(_SPLITMIX_C2)
    return z ^ (z >> np.uint64(31))


def mixsplit(keys: np.ndarray, seed: int) -> np.ndarray:
    """Seeded key hash: murmur64(key + seed) — the single hash per key."""
    return murmur64(keys.astype(np.uint64) + np.uint64(seed & MASK64))


def rotl64(x: np.ndarray, c: int) -> np.ndarray:
    c &= 63
    if c == 0:
        return x.copy()
    return (x << np.uint64(c)) | (x >> np.uint64(64 - c))


def reduce32(hashes32: np.ndarray, n: int) -> np.ndarray:
    """Lemire fast-range: map 32-bit hash into [0, n) via multiply-shift."""
    return ((hashes32.astype(np.uint64) * np.uint64(n)) >> np.uint64(32)).astype(
        np.uint32
    )


def fingerprint64(hashes: np.ndarray) -> np.ndarray:
    """Fold 64-bit hash: hash ^ (hash >> 32); truncate to width at store."""
    return hashes ^ (hashes >> np.uint64(32))


def mulhi64_u32(hashes: np.ndarray, m: int) -> np.ndarray:
    """High 64 bits of (hash * m) for m < 2^32, truncated to uint32. ``m``
    may also be a uint64 array, one multiplier per hash.

    Exact in uint64 arithmetic: split hash into hi/lo 32-bit halves;
    mulhi64(h, m) = (hi*m + ((lo*m) >> 32)) >> 32, every product < 2^64.
    Plays the role of bits.Mul64 in the fuse slot derivation
    (/root/reference/binaryfusefilter.go:370-372).
    """
    m64 = np.uint64(m)
    hi = hashes >> np.uint64(32)
    lo = hashes & np.uint64(0xFFFFFFFF)
    return (((hi * m64) + ((lo * m64) >> np.uint64(32))) >> np.uint64(32)).astype(
        np.uint32
    )


_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def xxh64_u64(values: np.ndarray, seed: int = 42) -> np.ndarray:
    """XXH64 of a single 8-byte (long) input — matches Spark's built-in
    ``F.xxhash64(longCol)`` (default seed 42), so shard routing computed
    JVM-side during the build equals this numpy version at probe time.
    Public algorithm (Yann Collet's xxHash spec), vectorized for uint64.
    """
    v = values.astype(np.uint64, copy=False)
    k1 = v * np.uint64(_XXH_P2)
    k1 = rotl64(k1, 31)
    k1 *= np.uint64(_XXH_P1)
    acc = np.uint64((seed + _XXH_P5 + 8) & MASK64) ^ k1
    acc = rotl64(acc, 27) * np.uint64(_XXH_P1) + np.uint64(_XXH_P4)
    acc ^= acc >> np.uint64(33)
    acc *= np.uint64(_XXH_P2)
    acc ^= acc >> np.uint64(29)
    acc *= np.uint64(_XXH_P3)
    acc ^= acc >> np.uint64(32)
    return acc


def to_u64(a: np.ndarray) -> np.ndarray:
    """Bit-cast an int64 carrier column (Arrow/Spark LongType) to uint64."""
    return np.ascontiguousarray(a).view(np.uint64) if a.dtype == np.int64 else a.astype(np.uint64)


def to_i64(a: np.ndarray) -> np.ndarray:
    """Bit-cast uint64 back to the int64 carrier for Arrow/Spark."""
    return np.ascontiguousarray(a).view(np.int64)
