"""(De)serialization (SURVEY.md §2.4, S1-S4).

Binary fuse byte format is interoperable with the reference's little-endian
stream (/root/reference/serialization.go:12-40):

    Seed(u64) SegmentLength(u32) SegmentLengthMask(u32) SegmentCount(u32)
    SegmentCountLength(u32) fpLen(u32) Fingerprints(fpLen * sizeof(T))

all little-endian, no integrity check (the reference README recommends the
caller add one, /root/reference/README.md:62 — the forest table sink in
``sparkfuse.forest`` adds a sha256 content hash column for that reason).

The reference serializes only BinaryFuse[T]; Xor8 has no Save/Load there
(SURVEY.md §2.4 note). We serialize xor filters too, with a sparkfuse-own
header of the same little-endian style.
"""

from __future__ import annotations

import struct

import numpy as np

from sparkfuse.kernels import FuseFilter, XorFilter, _dtype_for_width

_FUSE_HEADER = struct.Struct("<QIIIII")
_XOR_HEADER = struct.Struct("<QIII")  # seed, width, block_length, fp_len


def save_fuse_bytes(f: FuseFilter) -> bytes:
    """Serialize to the reference-compatible LE stream (3-wise only is
    reference-interoperable; 4-wise uses the same layout but is a sparkfuse
    extension)."""
    fp = np.ascontiguousarray(f.fingerprints)
    if fp.dtype.byteorder == ">":  # pragma: no cover - LE platforms
        fp = fp.astype(fp.dtype.newbyteorder("<"))
    header = _FUSE_HEADER.pack(
        f.seed,
        f.segment_length,
        f.segment_length_mask,
        f.segment_count,
        f.segment_count_length,
        len(fp),
    )
    return header + fp.tobytes()


def load_fuse_bytes(data: bytes, width: int, arity: int = 3) -> FuseFilter:
    (
        seed,
        segment_length,
        segment_length_mask,
        segment_count,
        segment_count_length,
        fp_len,
    ) = _FUSE_HEADER.unpack_from(data, 0)
    dtype = _dtype_for_width(width)
    body = data[_FUSE_HEADER.size:_FUSE_HEADER.size + fp_len * dtype().nbytes]
    fingerprints = np.frombuffer(body, dtype=dtype).copy()
    if len(fingerprints) != fp_len:
        raise ValueError("truncated fuse filter stream")
    return FuseFilter(
        width=width,
        arity=arity,
        seed=seed,
        segment_length=segment_length,
        segment_length_mask=segment_length_mask,
        segment_count=segment_count,
        segment_count_length=segment_count_length,
        fingerprints=fingerprints,
    )


def save_xor_bytes(f: XorFilter) -> bytes:
    fp = np.ascontiguousarray(f.fingerprints)
    header = _XOR_HEADER.pack(f.seed, f.width, f.block_length, len(fp))
    return header + fp.tobytes()


def load_xor_bytes(data: bytes) -> XorFilter:
    seed, width, block_length, fp_len = _XOR_HEADER.unpack_from(data, 0)
    dtype = _dtype_for_width(width, allowed=(8, 16))
    body = data[_XOR_HEADER.size:_XOR_HEADER.size + fp_len * dtype().nbytes]
    fingerprints = np.frombuffer(body, dtype=dtype).copy()
    if len(fingerprints) != fp_len:
        raise ValueError("truncated xor filter stream")
    return XorFilter(
        width=width, seed=seed, block_length=block_length, fingerprints=fingerprints
    )
