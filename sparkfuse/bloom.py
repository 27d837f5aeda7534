"""Mergeable Bloom-filter baseline (SURVEY.md §2.5, M5).

The reference positions xor/fuse filters as the *replacement* for Bloom
filters (/root/reference/README.md:5-8); the comparison baseline the
north_rule requires is therefore a from-scratch **mergeable** Bloom built the
way a true distributed sketch merges: per-partition partial bitmaps OR'd up a
tree. Unlike xor/fuse (static, build-once), Bloom partials merge by bitwise
OR, so it is expressible as partial-aggregate → shuffle-light tree merge with
no per-shard grouping at all.

Plan shape:

    scan → xxhash64 key (codegen) → mapInPandas(partial bitmaps, one row per
    ~batch) → groupBy(bucket % fanout).applyInPandas(OR) → driver OR (tiny)

Everything numpy/Arrow; no per-row Python.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StructField,
    StructType,
)

from sparkfuse.hashing import murmur64, to_u64
from sparkfuse.keys import approx_distinct_keys

_PARTIAL_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("bits", BinaryType(), False),
    ]
)


@dataclass
class BloomParams:
    m_bits: int
    k_hashes: int
    seed: int = 0x5B10F17E

    @classmethod
    def for_capacity(cls, n: int, fpp: float = 0.01) -> "BloomParams":
        """Classic sizing: m = -n ln p / (ln 2)^2, k = (m/n) ln 2."""
        n = max(n, 1)
        m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
        m = (m + 63) // 64 * 64  # whole words
        k = max(1, round(m / n * math.log(2)))
        return cls(m_bits=m, k_hashes=k)


class BloomFilter:
    """Immutable-after-build Bloom filter over u64 keys; merge = bitwise OR.

    Double hashing: position_i = (h1 + i*h2) mod m with h1/h2 derived from
    one murmur64 avalanche — the standard Kirsch-Mitzenmacher scheme.
    """

    def __init__(self, params: BloomParams, words: np.ndarray | None = None):
        self.params = params
        n_words = params.m_bits // 64
        self.words = (
            words if words is not None else np.zeros(n_words, dtype=np.uint64)
        )
        assert len(self.words) == n_words

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        """(k, n) bit positions."""
        p = self.params
        h1 = murmur64(keys.astype(np.uint64) + np.uint64(p.seed))
        h2 = murmur64(h1) | np.uint64(1)
        out = np.empty((p.k_hashes, len(keys)), dtype=np.uint64)
        m = np.uint64(p.m_bits)
        for i in range(p.k_hashes):
            out[i] = (h1 + np.uint64(i) * h2) % m
        return out

    def add(self, keys: np.ndarray) -> None:
        pos = self._positions(to_u64(np.asarray(keys)))
        widx = (pos >> np.uint64(6)).astype(np.int64)
        bit = np.uint64(1) << (pos & np.uint64(63))
        np.bitwise_or.at(self.words, widx.ravel(), bit.ravel())

    def contains(self, keys) -> np.ndarray:
        keys = to_u64(np.asarray(keys))
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        widx = (pos >> np.uint64(6)).astype(np.int64)
        bit = np.uint64(1) << (pos & np.uint64(63))
        ok = np.ones(len(keys), dtype=bool)
        for i in range(self.params.k_hashes):
            ok &= (self.words[widx[i]] & bit[i]) != 0
        return ok

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        """Associative, commutative OR-merge (tested for associativity)."""
        assert self.params == other.params
        return BloomFilter(self.params, self.words | other.words)

    def to_bytes(self) -> bytes:
        return self.words.tobytes()

    @classmethod
    def from_bytes(cls, params: BloomParams, data: bytes) -> "BloomFilter":
        return cls(params, np.frombuffer(data, dtype=np.uint64).copy())

    @property
    def size_in_bytes(self) -> int:
        return self.words.nbytes

    def bits_per_entry(self, n: int) -> float:
        return self.params.m_bits / max(n, 1)


def build_bloom(
    keys_df: DataFrame,
    n_estimate: int | None = None,
    fpp: float = 0.01,
    key_name: str = "key",
    merge_fanout: int = 16,
) -> BloomFilter:
    """Distributed mergeable Bloom build (partial bitmaps → tree OR-merge).

    n_estimate: pre-sizing count; None → one-job HLL++ pre-pass
    (``keys.approx_distinct_keys``, the 'count-distinct sizing' row in
    SURVEY.md §2.5).
    """
    keys_df = keys_df.select(F.col(key_name).alias("key"))
    if n_estimate is None:
        n_estimate = approx_distinct_keys(keys_df)
    params = BloomParams.for_capacity(n_estimate, fpp)

    def make_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bf = BloomFilter(params)
        saw = False
        for pdf in batches:
            if len(pdf):
                saw = True
                bf.add(pdf["key"].to_numpy())
        if saw:
            # bucket by a stable hash of content so the tree layer spreads
            yield pd.DataFrame(
                {"bucket": [hash(bf.words.tobytes()) % merge_fanout], "bits": [bf.to_bytes()]}
            )

    def or_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(params.m_bits // 64, dtype=np.uint64)
        for b in pdf["bits"]:
            acc |= np.frombuffer(b, dtype=np.uint64)
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])], "bits": [acc.tobytes()]})

    partials = keys_df.mapInPandas(make_partials, _PARTIAL_SCHEMA)
    reduced = partials.groupBy("bucket").applyInPandas(or_merge, _PARTIAL_SCHEMA)
    final = BloomFilter(params)
    for row in reduced.collect():
        final = final.merge(BloomFilter.from_bytes(params, bytes(row["bits"])))
    return final
