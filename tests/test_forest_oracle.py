"""``Forest.contains_np`` against a scalar per-key probe written here from
the reference formulas, false positives included.

The packed probe and every single-filter probe share one slot derivation
and one gather, so comparing two probe paths of the library checks neither
against the formulas. This oracle recomputes each key's shard route, seeded
hash, slots and fingerprint fold with Python integers:

* xxh64 of one 8-byte input (the xxHash spec) — Spark's ``xxhash64`` shard
  routing
* murmur64 / mixsplit and the fingerprint fold
  (reference xorfilter.go:9-42)
* the fuse slots of getHashFromHash (reference binaryfusefilter.go:370-378),
  with the 4-wise slices at shifts 36/18/0
* the xor slots: three blocks, rotations 0/21/42, fast-range into each block
  (reference xorfilter.go:45-55)
"""

import hashlib

import numpy as np
import pytest

from sparkfuse.forest import Forest
from sparkfuse.hashing import splitmix64_fill, to_i64
from sparkfuse.kernels import FuseFilter, build_fuse, build_xor
from sparkfuse.serialize import save_fuse_bytes, save_xor_bytes

M64 = (1 << 64) - 1
M32 = (1 << 32) - 1
P1, P2, P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
P4, P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & M64 if r else x


def xxh64(key, seed=42):
    acc = (seed + P5 + 8) & M64
    acc ^= rotl(key * P2 & M64, 31) * P1 & M64
    acc = (rotl(acc, 27) * P1 + P4) & M64
    acc ^= acc >> 33
    acc = acc * P2 & M64
    acc ^= acc >> 29
    acc = acc * P3 & M64
    return acc ^ (acc >> 32)


def murmur64(h):
    h ^= h >> 33
    h = h * 0xFF51AFD7ED558CCD & M64
    h ^= h >> 33
    h = h * 0xC4CEB9FE1A85EC53 & M64
    return h ^ (h >> 33)


def scalar_contains(filt, key) -> bool:
    h = murmur64((key + filt.seed) & M64)
    if isinstance(filt, FuseFilter):
        h0 = (h * filt.segment_count_length) >> 64
        shifts = (18, 0) if filt.arity == 3 else (36, 18, 0)
        slots = [h0] + [
            (h0 + lane * filt.segment_length) ^ ((h >> sh) & filt.segment_length_mask)
            for lane, sh in enumerate(shifts, start=1)
        ]
    else:
        b = filt.block_length
        slots = [((rotl(h, r) & M32) * b >> 32) + lane * b
                 for lane, r in enumerate((0, 21, 42))]
    acc = (h ^ (h >> 32)) & ((1 << filt.width) - 1)
    for slot in slots:
        acc ^= int(filt.fingerprints[slot])
    return acc == 0


def oracle(filters, shard_bits, route, key) -> bool:
    routed = xxh64(key) if route == "xxh64" else key
    shard = routed >> (64 - shard_bits) if shard_bits else 0
    return shard in filters and scalar_contains(filters[shard], key)


@pytest.mark.parametrize(
    "kind,widths,arity,shard_bits,route",
    [
        ("fuse", (8,), 3, 0, "xxh64"),
        ("fuse", (8,), 3, 2, "xxh64"),
        ("fuse", (8, 16, 32), 3, 2, "xxh64"),
        ("fuse", (8,), 3, 2, "raw"),
        ("fuse", (8, 16), 4, 3, "xxh64"),
        ("fuse", (32,), 4, 1, "xxh64"),
        ("xor", (8,), 3, 0, "xxh64"),
        ("xor", (8,), 3, 2, "xxh64"),
        ("xor", (8, 16), 3, 3, "xxh64"),
    ],
)
def test_packed_probe_matches_scalar_oracle(kind, widths, arity, shard_bits, route):
    members = [int(k) for k in splitmix64_fill(4000, 17)]
    probes = members + [int(k) for k in splitmix64_fill(20_000, 90_000)]
    by_shard: dict[int, list[int]] = {}
    for k in members:
        routed = xxh64(k) if route == "xxh64" else k
        by_shard.setdefault(routed >> (64 - shard_bits) if shard_bits else 0, []).append(k)
    # leave one shard out of sharded forests: its keys must probe False
    absent = max(by_shard) if shard_bits else None
    rows, filters = [], {}
    for shard, keys in sorted(by_shard.items()):
        if shard == absent:
            continue
        width = widths[shard % len(widths)]
        keys = np.array(keys, dtype=np.uint64)
        if kind == "fuse":
            filt, _ = build_fuse(keys, width=width, arity=arity)
            payload = save_fuse_bytes(filt)
        else:
            filt, _ = build_xor(keys, width=width)
            payload = save_xor_bytes(filt)
        filters[shard] = filt
        rows.append({
            "shard": shard, "kind": kind, "width": width, "arity": arity,
            "shard_bits": shard_bits, "route": route, "nkeys": len(keys),
            "payload": payload,
            "content_sha256": hashlib.sha256(payload).hexdigest(),
        })
    got = Forest(rows).contains_np(to_i64(np.array(probes, dtype=np.uint64)))
    want = np.array([oracle(filters, shard_bits, route, k) for k in probes])
    assert (got == want).all()
    assert want[len(members):].any() or min(widths) > 8  # FPs are compared too
    if absent is not None:
        assert not want[: len(members)].all()
