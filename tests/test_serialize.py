"""Serialization format + golden parity (SURVEY.md §2.4, F4 fixtures)."""

import base64
import struct

import numpy as np
import pytest

from sparkfuse.hashing import splitmix64_fill
from sparkfuse.kernels import build_fuse, build_fuse_reference_order, build_xor
from sparkfuse.serialize import (
    load_fuse_bytes,
    load_xor_bytes,
    save_fuse_bytes,
    save_xor_bytes,
)

GOLDEN_KEYS = [1, 2, 3, 4, 5, 100, 200, 300]
# /root/reference/serialization_test.go:54 — exact byte stream of the Go
# implementation for BinaryFuse[uint16] over GOLDEN_KEYS.
GOLDEN_B64 = (
    "wVwCiewtCpEIAAAABwAAAAEAAAAIAAAAGAAAAAAAAABY7/rBAAAAAAoqAAA2kPb5"
    "AAAAAAAAAAAAAAAAuLkw2QAAAAAAAH1sAAAAAA=="
)


def test_golden_byte_parity_with_reference():
    """Our reference-order build reproduces the Go golden stream exactly —
    format AND content parity."""
    f, _ = build_fuse_reference_order(GOLDEN_KEYS, width=16)
    assert base64.b64encode(save_fuse_bytes(f)).decode() == GOLDEN_B64


def test_golden_format_decode():
    """Field-level decode of the reference's golden bytes pins the LE layout
    (/root/reference/serialization.go:12-40)."""
    raw = base64.b64decode(GOLDEN_B64)
    seed, seg_len, seg_mask, seg_cnt, scl, fp_len = struct.unpack_from("<QIIIII", raw)
    assert seg_len == 8 and seg_mask == 7 and seg_cnt == 1 and scl == 8
    assert fp_len == 24  # (segcnt + 2) * seglen
    assert len(raw) == 28 + fp_len * 2  # uint16 fingerprints


def test_load_reference_golden_and_probe():
    f = load_fuse_bytes(base64.b64decode(GOLDEN_B64), width=16)
    assert f.contains(np.array(GOLDEN_KEYS, dtype=np.uint64)).all()


def test_fuse_roundtrip_all_widths():
    keys = np.arange(1, 5000, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    for width in (8, 16, 32):
        f, _ = build_fuse(keys, width=width)
        g = load_fuse_bytes(save_fuse_bytes(f), width=width)
        assert g.seed == f.seed
        assert np.array_equal(g.fingerprints, f.fingerprints)
        assert g.contains(keys).all()


def test_fuse_roundtrip_4wise():
    keys = np.arange(1, 3000, dtype=np.uint64)
    f, _ = build_fuse(keys, width=8, arity=4)
    g = load_fuse_bytes(save_fuse_bytes(f), width=8, arity=4)
    assert g.contains(keys).all()


def test_xor_roundtrip():
    keys = np.arange(1, 5000, dtype=np.uint64)
    for width in (8, 16):
        f, _ = build_xor(keys, width=width)
        g = load_xor_bytes(save_xor_bytes(f))
        assert g.width == width and g.seed == f.seed
        assert np.array_equal(g.fingerprints, f.fingerprints)
        assert g.contains(keys).all()


def test_load_rejects_unsupported_width_by_name():
    fuse, _ = build_fuse(splitmix64_fill(100), width=8)
    with pytest.raises(ValueError, match="fingerprint width must be one of"):
        load_fuse_bytes(save_fuse_bytes(fuse), width=24)
    xor, _ = build_xor(splitmix64_fill(100), width=8)
    data = bytearray(save_xor_bytes(xor))
    data[8:12] = (32).to_bytes(4, "little")  # the header's width field
    with pytest.raises(ValueError, match="fingerprint width must be one of"):
        load_xor_bytes(bytes(data))
