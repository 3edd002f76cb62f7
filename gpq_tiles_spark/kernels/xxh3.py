"""XXH3-64 — the reference engine's tile-dedup hash, exactly.

The reference keys content-addressable tile dedup with XXH3-64
(crates/core/src/dedup.rs:48-59, via the xxhash-rust crate). XXH3 is a
public, stable algorithm (https://xxhash.com, BSD-2 reference
implementation; the default 192-byte secret and all constants below are
the published spec values — e.g. XXH3_64bits(b"") == 0x2D06800538D394C2).

Two backends, bit-identical by construction and pinned against each
other in tests/test_xxh3.py over exhaustive length sweeps:

* fast path — the SYSTEM libxxhash via ctypes (same dependency-free
  pattern as kernels/zstd_ctypes.py); one C call per tile blob.
* fallback — pure Python for inputs <=240 bytes and a numpy-vectorized
  long path (per-block stripe contributions are commutative between
  scrambles, so each 1024-byte block reduces to two vectorized sums),
  used when no libxxhash is installed.

The hash is INTERNAL-ONLY (dedup grouping key; never serialized into an
archive), but driver and executors must agree on it for the archive
bytes to be deterministic — which both backends guarantee by producing
identical values.
"""

from __future__ import annotations

import ctypes
import ctypes.util

import numpy as np

_M64 = 0xFFFF_FFFF_FFFF_FFFF

_P32_1 = 0x9E3779B1
_P32_2 = 0x85EBCA77
_P32_3 = 0xC2B2AE3D
_P64_1 = 0x9E3779B185EBCA87
_P64_2 = 0xC2B2AE3D27D4EB4F
_P64_3 = 0x165667B19E3779F9
_P64_4 = 0x85EBCA77C2B2AE63
_P64_5 = 0x27D4EB2F165667C5
_PMX1 = 0x165667919E3779F9
_PMX2 = 0x9FB21C651E98DF25

# The spec's default secret (xxHash reference kSecret, 192 bytes).
_SECRET = bytes.fromhex(
    "b8fe6c3923a44bbe7c01812cf721ad1cded46de9839097db7240a4a4b7b3671f"
    "cb79e64eccc0e578825ad07dccff7221b8084674f743248ee03590e6813a264c"
    "3c2852bb91c300cb88d0658b1b532ea371644897a20df94e3819ef46a9deacd8"
    "a8fa763fe39c343ff9dcbbc7c70b4f1d8a51e04bcdb45931c89f7ec9d9787364"
    "eac5ac8334d3ebc3c581a0fffa1363eb170ddd51b7f0da49d316552629d4689e"
    "2b16be587d47a1fc8ff8b8d17ad031ce45cb3a8f95160428afd7fbcabb4b407e"
)
_SEC_WORDS = np.frombuffer(_SECRET, dtype="<u8")  # 24 aligned u64 reads

# ---------------------------------------------------------------------------
# ctypes fast path (optional system libxxhash)
# ---------------------------------------------------------------------------

_lib = None
_lib_tried = False


def _load():
    global _lib, _lib_tried
    if _lib_tried:
        return _lib
    _lib_tried = True
    name = ctypes.util.find_library("xxhash")
    candidates = dict.fromkeys(  # ordered, de-duplicated
        ([name] if name else [])
        + ["libxxhash.so.0", "libxxhash.so", "libxxhash.0.dylib",
           "libxxhash.dylib"])
    # accept only a canonical XXH3 (spec constant for b"" plus one
    # multi-size probe vs the pure fallback); a patched/experimental
    # build must not silently diverge from pure-fallback nodes
    probe = bytes(range(256)) * 5
    probe_want = None  # computed lazily, once, only if a lib loads
    for cand in candidates:
        try:
            lib = ctypes.CDLL(cand)
            lib.XXH3_64bits.restype = ctypes.c_uint64
            lib.XXH3_64bits.argtypes = [ctypes.c_char_p, ctypes.c_size_t]
            if lib.XXH3_64bits(b"", 0) != 0x2D06800538D394C2:
                continue
            if probe_want is None:
                probe_want = xxh3_64_py(probe)
            if lib.XXH3_64bits(probe, len(probe)) != probe_want:
                continue
        except (OSError, AttributeError):
            continue
        _lib = lib
        break
    return _lib


def lib_available() -> bool:
    return _load() is not None


# ---------------------------------------------------------------------------
# pure fallback — scalar short paths
# ---------------------------------------------------------------------------


def _r64(b: bytes, i: int) -> int:
    return int.from_bytes(b[i:i + 8], "little")


def _r32(b: bytes, i: int) -> int:
    return int.from_bytes(b[i:i + 4], "little")


def _rotl(v: int, r: int) -> int:
    return ((v << r) | (v >> (64 - r))) & _M64


def _avalanche(h: int) -> int:
    h ^= h >> 37
    h = (h * _PMX1) & _M64
    h ^= h >> 32
    return h


def _avalanche64(h: int) -> int:  # classic XXH64 finalizer
    h ^= h >> 33
    h = (h * _P64_2) & _M64
    h ^= h >> 29
    h = (h * _P64_3) & _M64
    h ^= h >> 32
    return h


def _mul128_fold64(a: int, b: int) -> int:
    m = a * b
    return (m & _M64) ^ (m >> 64)


def _mix16(data: bytes, i: int, sec_off: int) -> int:
    lo = _r64(data, i) ^ _r64(_SECRET, sec_off)
    hi = _r64(data, i + 8) ^ _r64(_SECRET, sec_off + 8)
    return _mul128_fold64(lo, hi)


def _len_0to16(data: bytes, n: int) -> int:
    if n > 8:  # 9..16
        lo = _r64(data, 0) ^ (_r64(_SECRET, 24) ^ _r64(_SECRET, 32))
        hi = _r64(data, n - 8) ^ (_r64(_SECRET, 40) ^ _r64(_SECRET, 48))
        acc = (n
               + int.from_bytes(lo.to_bytes(8, "little"), "big")  # bswap64
               + hi + _mul128_fold64(lo, hi)) & _M64
        return _avalanche(acc)
    if n >= 4:  # 4..8
        keyed = ((_r32(data, n - 4) + (_r32(data, 0) << 32))
                 ^ (_r64(_SECRET, 8) ^ _r64(_SECRET, 16)))
        h = keyed ^ (_rotl(keyed, 49) ^ _rotl(keyed, 24))
        h = (h * _PMX2) & _M64
        h ^= (h >> 35) + n
        h = (h * _PMX2) & _M64
        h ^= h >> 28
        return h
    if n:  # 1..3
        combined = ((data[0] << 16) | (data[n >> 1] << 24)
                    | data[n - 1] | (n << 8))
        return _avalanche64(combined ^ (_r32(_SECRET, 0) ^ _r32(_SECRET, 4)))
    return _avalanche64(_r64(_SECRET, 56) ^ _r64(_SECRET, 64))


def _len_17to128(data: bytes, n: int) -> int:
    acc = (n * _P64_1) & _M64
    if n > 32:
        if n > 64:
            if n > 96:
                acc = (acc + _mix16(data, 48, 96)) & _M64
                acc = (acc + _mix16(data, n - 64, 112)) & _M64
            acc = (acc + _mix16(data, 32, 64)) & _M64
            acc = (acc + _mix16(data, n - 48, 80)) & _M64
        acc = (acc + _mix16(data, 16, 32)) & _M64
        acc = (acc + _mix16(data, n - 32, 48)) & _M64
    acc = (acc + _mix16(data, 0, 0)) & _M64
    acc = (acc + _mix16(data, n - 16, 16)) & _M64
    return _avalanche(acc)


def _len_129to240(data: bytes, n: int) -> int:
    acc = (n * _P64_1) & _M64
    for i in range(8):
        acc = (acc + _mix16(data, 16 * i, 16 * i)) & _M64
    acc = _avalanche(acc)
    for i in range(8, n // 16):
        acc = (acc + _mix16(data, 16 * i, 16 * (i - 8) + 3)) & _M64
    acc = (acc + _mix16(data, n - 16, 136 - 17)) & _M64
    return _avalanche(acc)


# ---------------------------------------------------------------------------
# pure fallback — vectorized long path (> 240 bytes)
# ---------------------------------------------------------------------------

_SWAP = np.array([1, 0, 3, 2, 5, 4, 7, 6])
# stripe s of a block reads secret u64 lanes [s, s+8) (byte offset 8*s)
_SEC_STRIPES = np.lib.stride_tricks.sliding_window_view(_SEC_WORDS, 8)
_SCRAMBLE_KEY = _SEC_WORDS[16:24]  # secret bytes [128, 192)
_LAST_STRIPE_KEY = np.frombuffer(_SECRET[121:121 + 64], dtype="<u8")


def _stripe_contrib(words: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """Per-stripe accumulator contributions: (stripes, 8) -> (stripes, 8).
    acc[i^1] += data_val[i]; acc[i] += lo32(key)*hi32(key) — both pure
    adds, so contributions within one scramble window sum vectorized."""
    with np.errstate(over="ignore"):
        dk = words ^ keys
        mul = (dk & np.uint64(0xFFFF_FFFF)) * (dk >> np.uint64(32))
        return mul + words[..., _SWAP]


def _xxh3_long(data: bytes, n: int) -> int:
    acc = np.array([_P32_3, _P64_1, _P64_2, _P64_3,
                    _P64_4, _P32_2, _P64_5, _P32_1], dtype=np.uint64)
    nb_blocks = (n - 1) // 1024
    with np.errstate(over="ignore"):
        if nb_blocks:
            blocks = np.frombuffer(
                data, dtype="<u8", count=nb_blocks * 128
            ).reshape(nb_blocks, 16, 8)
            contrib = _stripe_contrib(blocks, _SEC_STRIPES[:16][None])
            per_block = contrib.sum(axis=1, dtype=np.uint64)
            for b in range(nb_blocks):
                acc += per_block[b]
                acc ^= acc >> np.uint64(47)
                acc ^= _SCRAMBLE_KEY
                acc *= np.uint64(_P32_1)
        off = nb_blocks * 1024
        nb_stripes = ((n - 1) - off) // 64
        if nb_stripes:
            tail = np.frombuffer(
                data, dtype="<u8", offset=off, count=nb_stripes * 8
            ).reshape(nb_stripes, 8)
            acc += _stripe_contrib(
                tail, _SEC_STRIPES[:nb_stripes]).sum(axis=0, dtype=np.uint64)
        last = np.frombuffer(data[n - 64:n], dtype="<u8")
        acc += _stripe_contrib(last[None], _LAST_STRIPE_KEY[None])[0]
    # merge: start = len*P64_1; fold accumulator pairs against secret[11..]
    result = (n * _P64_1) & _M64
    accs = [int(x) for x in acc]
    for i in range(4):
        result = (result + _mul128_fold64(
            accs[2 * i] ^ _r64(_SECRET, 11 + 16 * i),
            accs[2 * i + 1] ^ _r64(_SECRET, 19 + 16 * i))) & _M64
    return _avalanche(result)


def xxh3_64_py(data: bytes) -> int:
    """Pure-Python/numpy XXH3-64 (default secret, seed 0)."""
    n = len(data)
    if n <= 16:
        return _len_0to16(data, n)
    if n <= 128:
        return _len_17to128(data, n)
    if n <= 240:
        return _len_129to240(data, n)
    return _xxh3_long(data, n)


def xxh3_64(data: bytes) -> int:
    """XXH3-64 of bytes — system libxxhash when present, else the
    bit-identical pure fallback."""
    lib = _load()
    if lib is not None:
        return lib.XXH3_64bits(data, len(data))
    return xxh3_64_py(data)
