"""Kernel correctness surface, mirroring the reference tests 1:1
(SURVEY.md §5; /root/reference/xorfilter_test.go, binaryfusefilter_test.go).
"""

import re

import numpy as np
import pytest

from sparkfuse.hashing import splitmix64_fill
from sparkfuse.kernels import (
    BuildWorkspace,
    build_fuse,
    build_fuse_reference_order,
    build_xor,
)

SMALL = 100          # /root/reference/binaryfusefilter_test.go:17-19
MID = 11_500
BIG = 1_000_000


def rand_keys(n, seed):
    return np.random.default_rng(seed).integers(
        0, 2**63, n, dtype=np.int64
    ).view(np.uint64)


# ---------------------------------------------------------------------------
# zero false negatives (the hard invariant)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("width", [8, 16, 32])
@pytest.mark.parametrize("n", [SMALL, MID])
def test_fuse_zero_false_negatives_small_mid(width, n):
    keys = splitmix64_fill(n, counter_start=42)
    f, _ = build_fuse(keys, width=width)
    assert f.contains(keys).all()


@pytest.mark.parametrize("arity", [3, 4])
def test_fuse_zero_false_negatives_big(arity):
    keys = rand_keys(BIG, 11)
    f, _ = build_fuse(keys, width=8, arity=arity)
    assert f.contains(keys).all()


@pytest.mark.parametrize("width", [8, 16])
def test_xor_zero_false_negatives(width):
    for n in (SMALL, MID):
        keys = splitmix64_fill(n, counter_start=7)
        f, _ = build_xor(keys, width=width)
        assert f.contains(keys).all()


def test_retrials():
    # 10 trials x 1000 keys (/root/reference/binaryfusefilter_test.go:50-60)
    for trial in range(10):
        keys = rand_keys(1000, 100 + trial)
        f, _ = build_fuse(keys, width=8)
        assert f.contains(keys).all()
        x, _ = build_xor(keys, width=8)
        assert x.contains(keys).all()


# ---------------------------------------------------------------------------
# false-positive rate + bits/entry (published bounds, BASELINE.md)
# ---------------------------------------------------------------------------

def _fpp(filt, keys, n_probes=10_000_000, seed=99):
    probes = rand_keys(n_probes, seed)
    mask = ~np.isin(probes, keys)
    return filt.contains(probes[mask]).mean()


def test_fuse8_fpp_and_bpe():
    keys = rand_keys(BIG, 21)
    f, _ = build_fuse(keys, width=8)
    fpp = _fpp(f, keys)
    assert fpp < 0.0050, fpp  # ~0.39% published; hard bound like xorfilter_test.go:38
    assert f.bits_per_entry(BIG) < 9.1  # ~9 bits/entry for 1e6 keys


def test_fuse16_fpp_and_bpe():
    keys = rand_keys(BIG, 22)
    f, _ = build_fuse(keys, width=16)
    fpp = _fpp(f, keys)
    assert fpp < 0.0001, fpp  # ~0.0015% published
    assert f.bits_per_entry(BIG) < 18.2


def test_fuse32_fpp():
    keys = rand_keys(MID, 23)
    f, _ = build_fuse(keys, width=32)
    assert _fpp(f, keys, n_probes=2_000_000) == 0.0  # ~2e-8% published


def test_xor8_fpp_and_bpe():
    keys = rand_keys(BIG, 24)
    f, _ = build_xor(keys, width=8)
    fpp = _fpp(f, keys)
    assert fpp < 0.0040, fpp  # hard assert mirror of xorfilter_test.go:25-38
    assert abs(f.bits_per_entry(BIG) - 9.84) < 0.02


def test_xor16_fpp():
    keys = rand_keys(BIG, 25)
    f, _ = build_xor(keys, width=16)
    assert _fpp(f, keys) < 0.0001


def test_fuse_4wise_fpp_and_bpe():
    keys = rand_keys(BIG, 26)
    f, _ = build_fuse(keys, width=8, arity=4)
    assert _fpp(f, keys) < 0.0055
    # 4-wise is denser: ~8.6 bits/entry at 1e6
    assert f.bits_per_entry(BIG) < 9.0


# ---------------------------------------------------------------------------
# duplicates / empty / edge sets (F3 fixtures)
# ---------------------------------------------------------------------------

def test_duplicate_keys_small():
    # /root/reference/xorfilter_test.go:114-120, binaryfusefilter_test.go:121-127
    for keys in ([1, 77, 31, 241, 303, 303], [303, 1, 77, 31, 241, 303]):
        f, _ = build_fuse(keys, width=8)
        assert f.contains(keys).all()
        x, _ = build_xor(keys, width=8)
        assert x.contains(keys).all()


def test_duplicate_keys_issue30_corpus():
    # Parse the 126-key duplicate-heavy literal from the reference test
    # (/root/reference/binaryfusefilter_test.go:129-257) rather than copying it.
    src = open("/root/reference/binaryfusefilter_test.go").read()
    m = re.search(
        r"func TestBinaryFuseN_DuplicateKeysBinaryFuseDup_Issue30.*?"
        r"keys := \[\]uint64\{(.*?)\}",
        src,
        re.S,
    )
    assert m, "could not locate Issue30 corpus in reference"
    keys = [int(x) for x in re.findall(r"\d+", m.group(1))]
    assert len(keys) > 100
    f, _ = build_fuse(keys, width=8)
    assert f.contains(keys).all()
    x, _ = build_xor(keys, width=8)
    assert x.contains(keys).all()


def test_empty_set_semantics():
    # fuse succeeds on [] (/root/reference/binaryfusefilter_test.go:113-119);
    # xor errors (/root/reference/xorfilter.go:110-113)
    f, _ = build_fuse([], width=16)
    # an all-zero 16-bit filter accepts a key only when its fingerprint
    # truncates to 0 (~1/65536) — effectively rejects everything
    assert f.contains(np.arange(10_000, dtype=np.uint64)).mean() < 0.001
    with pytest.raises(ValueError):
        build_xor([], width=8)


def test_single_key():
    f, _ = build_fuse([42], width=8)
    assert f.contains([42]).all()
    x, _ = build_xor([42], width=8)
    assert x.contains([42]).all()


def test_hashed_pairs_regression():
    # Issue35 analog (/root/reference/xorfilter_test.go:182-220): keys that are
    # real hashes of structured (i%10, i%100000) pairs, 2000 and 40000 keys.
    for n in (2000, 40000):
        i = np.arange(n, dtype=np.uint64)
        pairs = (i % np.uint64(10)) << np.uint64(32) | (i % np.uint64(100000))
        keys = np.unique(splitmix64_fill(1, 1)[0] ^ pairs)  # structured, collapsible
        from sparkfuse.hashing import murmur64
        keys = murmur64(pairs)
        f, _ = build_fuse(keys, width=8)
        assert f.contains(keys).all()
        x, _ = build_xor(keys, width=8)
        assert x.contains(keys).all()


# ---------------------------------------------------------------------------
# determinism (/root/reference/binaryfusefilter_test.go:355-394)
# ---------------------------------------------------------------------------

def test_build_determinism():
    rng = np.random.default_rng(5)
    for _ in range(20):
        n = int(rng.integers(1, 20_000))
        width = int(rng.choice([8, 16, 32]))
        keys = rand_keys(n, int(rng.integers(0, 2**31)))
        f1, it1 = build_fuse(keys, width=width)
        f2, it2 = build_fuse(keys, width=width)
        assert f1.seed == f2.seed and it1 == it2
        assert np.array_equal(f1.fingerprints, f2.fingerprints)


def test_xor_build_determinism():
    keys = rand_keys(5000, 77)
    f1, _ = build_xor(keys, width=8)
    f2, _ = build_xor(keys, width=8)
    assert f1.seed == f2.seed
    assert np.array_equal(f1.fingerprints, f2.fingerprints)


# ---------------------------------------------------------------------------
# boundary sizes build within iteration budget
# (/root/reference/binaryfusefilter_test.go:511-551)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("size", [1, 2, 3, 8, 9, 27, 28, 91, 92, 303, 304,
                                  1009, 1010, 3361, 3362, 11192, 11193,
                                  37272, 37273, 124117])
def test_boundary_sizes(size):
    keys = splitmix64_fill(size, counter_start=size)
    f, iterations = build_fuse(keys, width=8)
    assert iterations <= 64, (size, iterations)
    assert f.contains(keys).all()


# ---------------------------------------------------------------------------
# reference-order build agrees with vectorized build semantics
# ---------------------------------------------------------------------------

def test_reference_order_membership_parity():
    keys = splitmix64_fill(2000, counter_start=3)
    a, _ = build_fuse_reference_order(keys, width=8)
    b, _ = build_fuse(keys, width=8)
    assert a.contains(keys).all() and b.contains(keys).all()
    # identical layout parameters and seed schedule outcome
    assert (a.segment_length, a.segment_count) == (b.segment_length, b.segment_count)


# ---------------------------------------------------------------------------
# C5 workspace reuse (Go builder reuseBuffer analog,
# /root/reference/binaryfusefilter_test.go:398-422 zero-alloc test)
# ---------------------------------------------------------------------------

def _buf_addrs(ws):
    return {k: v.__array_interface__["data"][0] for k, v in ws._bufs.items()}


def test_workspace_zero_realloc_across_builds():
    ws = BuildWorkspace()
    keys = splitmix64_fill(MID, counter_start=5)
    build_fuse(keys, width=8, workspace=ws)
    build_fuse(keys, width=16, arity=4, workspace=ws)  # largest rep demand
    warm = _buf_addrs(ws)
    warm_bytes = ws.nbytes()
    # same-size and smaller builds (fuse AND xor share the workspace) must
    # not allocate new scratch
    for n in (MID, MID // 2, SMALL):
        k = splitmix64_fill(n, counter_start=n)
        build_fuse(k, width=8, workspace=ws)
        build_fuse(k, width=16, arity=4, workspace=ws)
        build_xor(k, width=8, workspace=ws)
    assert _buf_addrs(ws) == warm
    assert ws.nbytes() == warm_bytes


def test_workspace_does_not_change_output():
    keys = splitmix64_fill(MID, counter_start=9)
    fresh, it_fresh = build_fuse(keys, width=8, workspace=BuildWorkspace())
    dirty_ws = BuildWorkspace()
    # dirty the workspace with unrelated builds first
    build_fuse(splitmix64_fill(3000, counter_start=1), width=32, workspace=dirty_ws)
    build_xor(splitmix64_fill(777, counter_start=2), width=16, workspace=dirty_ws)
    reused, it_reused = build_fuse(keys, width=8, workspace=dirty_ws)
    assert it_fresh == it_reused
    assert fresh.seed == reused.seed
    assert np.array_equal(fresh.fingerprints, reused.fingerprints)


# ---------------------------------------------------------------------------
# golden build bytes of the vectorized builds
# ---------------------------------------------------------------------------

# (kind, width, arity, n, counter, iterations, sha256 of the saved payload)
# over ``golden_keys(n, counter)``. Recorded from the builds before their
# two reseed loops were folded into one; the small inputs need 2-3 attempts,
# so the fuse segment-halving schedule (attempt 2) and its restore
# (attempt 3) are both pinned.
GOLDEN_BUILDS = [
    ("fuse", 8, 3, 2000, 1, 1, "fb174fcf26323a89a748129bfbeaf070603be1a660dd28bf527ab8a7702ecab9"),
    ("fuse", 8, 3, 50, 33, 3, "1fe2fec5462b9f177f90d47dd102682e25eddff32c64b6efd3e94dd32d994dc0"),
    ("fuse", 16, 3, 2000, 1, 1, "0f8969f644c226eb7a7fa29e5c45e09af5a38c10739132e7e5efd51161cb293a"),
    ("fuse", 16, 3, 50, 33, 3, "09c1a98b49593f34efa170b452cf847739183c1c610b6cd1f74ef009211a20a2"),
    ("fuse", 32, 3, 2000, 1, 1, "a956f6ddb1622206e4043e5951a21bf95202a04dc8bdc14dd28dca23d67e388e"),
    ("fuse", 32, 3, 50, 33, 3, "f12600e140a7b14ffc2c71973dd9760005417e804755006310c7b9b4b80928b8"),
    ("fuse", 8, 4, 2000, 1, 1, "70baa3dd9f9c4c74d38bf1cbed36b8660e509d41def9a032d5bb7ea233a0353c"),
    ("fuse", 8, 4, 100, 3, 3, "f6fcffa53be39839b2894e647afe467ac0dd15d98a6d201c6b8f8af7cd682225"),
    ("fuse", 16, 4, 2000, 1, 1, "30d6cb8819554866d9fb869db609db9f3d773a9386f6eab33e52344feebbef91"),
    ("fuse", 16, 4, 100, 3, 3, "8fc8dda75cef1453970481d19cc54b8f365d701cd8b8953dc9810718f9f5c322"),
    ("fuse", 32, 4, 2000, 1, 1, "9bee37fe7b52112980f3e4a6ee6c9a9a315a2d6d0581f0ccd72d75bb54ab7642"),
    ("fuse", 32, 4, 100, 3, 3, "6333bb7689df92a5bcca6e8077693142b670ab9c109d48489b86f7a255a8c428"),
    ("fuse", 8, 3, 0, 1, 1, "47324dae4d01e9d27ddea91b6c5e4657fbfef15f07e94d326fc3872f779a03a2"),
    ("fuse", 8, 3, 100_000, 7, 1, "f5e4447419c59a1621a332cab224f532e6095f49987a0f26d7d9975a5cd5da1f"),
    ("fuse", 8, 4, 100_000, 7, 1, "8c6fa680090c69fa766e0e32e8a8ccbe8876fcbde6731164205403255d9ec9c1"),
    ("xor", 8, 3, 2000, 1, 1, "91deef173a0bdc04eb563ffb26b20e33558d4a8ff9d9a6d1acec7efdc24c8815"),
    ("xor", 8, 3, 1000, 13, 2, "20ed7e65edcd9d73962cf01b56d910f701903d10c74044ccbd9f29a97da95a0b"),
    ("xor", 8, 3, 50, 257, 3, "863d6a5ed664a4948b7f5c6cf366de19cb84cc0a72468e42ca15819f5169a08b"),
    ("xor", 16, 3, 2000, 1, 1, "be7bb5eb9ed13a55840f8fc10364384a14e74c4050cdac5d8ab008731dd2ae37"),
    ("xor", 16, 3, 1000, 13, 2, "62f30c651a329f10c4f1e44343131c4de33b659f9a3a5adc05a81f66a0000cc8"),
    ("xor", 16, 3, 50, 257, 3, "2894b1de10917981850f0e1358d1ef3e9a7ab630bfc6906f268c6a1d00e31306"),
    ("xor", 8, 3, 100_000, 7, 1, "71c039b681983c6effa98b57cf8752d14bb6b5a35679f2495f4d182fbe8553b1"),
]


def golden_keys(n, counter):
    """n distinct splitmix64 keys followed by a third of them again."""
    keys = splitmix64_fill(n, counter)
    return np.concatenate([keys, keys[: n // 3]])


@pytest.mark.parametrize("kind,width,arity,n,counter,iterations,sha", GOLDEN_BUILDS)
def test_golden_build_bytes(kind, width, arity, n, counter, iterations, sha):
    import hashlib

    from sparkfuse.serialize import save_fuse_bytes, save_xor_bytes

    keys = golden_keys(n, counter)
    if kind == "fuse":
        filt, got_iterations = build_fuse(keys, width=width, arity=arity)
        payload = save_fuse_bytes(filt)
    else:
        filt, got_iterations = build_xor(keys, width=width)
        payload = save_xor_bytes(filt)
    assert got_iterations == iterations
    assert hashlib.sha256(payload).hexdigest() == sha
