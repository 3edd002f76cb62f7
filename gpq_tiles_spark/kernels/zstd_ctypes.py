"""Dependency-free zstd codec over the SYSTEM libzstd via ctypes.

The reference CLI's default tile compression is zstd level 3
(crates/cli/src/main.rs:69, crates/core/src/compression.rs:72-119), but
neither the ``zstandard`` nor ``zstd`` Python package ships in this
container. The shared library itself is usually present (pyarrow, conda,
and most distros carry it), so this module binds the four functions of
the PUBLIC stable libzstd ABI needed for one-shot tile blobs:

    ZSTD_compressBound / ZSTD_compress / ZSTD_isError /
    ZSTD_getFrameContentSize / ZSTD_decompress
    (+ the DStream trio for frames that omit content size)

Loading is lazy and per-process (each Spark Python worker binds its own
handle on first use); ``available()`` is the gate. Compression is
deterministic for a fixed libzstd version — the archive writer's
byte-identity contract holds within one cluster image, same as gzip.
"""

from __future__ import annotations

import ctypes
import ctypes.util

_lib = None
_tried = False

# ZSTD_getFrameContentSize sentinel returns (zstd.h)
_CONTENTSIZE_UNKNOWN = 2**64 - 1  # (unsigned long long)-1
_CONTENTSIZE_ERROR = 2**64 - 2


def _load():
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    name = ctypes.util.find_library("zstd")
    candidates = [name] if name else []
    # find_library needs ldconfig/gcc; fall back to conventional sonames
    candidates += ["libzstd.so.1", "libzstd.so", "libzstd.1.dylib",
                   "libzstd.dylib"]
    for cand in candidates:
        if not cand:
            continue
        try:
            lib = ctypes.CDLL(cand)
        except OSError:
            continue
        try:
            lib.ZSTD_compressBound.restype = ctypes.c_size_t
            lib.ZSTD_compressBound.argtypes = [ctypes.c_size_t]
            lib.ZSTD_compress.restype = ctypes.c_size_t
            lib.ZSTD_compress.argtypes = [
                ctypes.c_void_p, ctypes.c_size_t,
                ctypes.c_char_p, ctypes.c_size_t, ctypes.c_int]
            lib.ZSTD_isError.restype = ctypes.c_uint
            lib.ZSTD_isError.argtypes = [ctypes.c_size_t]
            lib.ZSTD_getFrameContentSize.restype = ctypes.c_ulonglong
            lib.ZSTD_getFrameContentSize.argtypes = [
                ctypes.c_char_p, ctypes.c_size_t]
            lib.ZSTD_decompress.restype = ctypes.c_size_t
            lib.ZSTD_decompress.argtypes = [
                ctypes.c_void_p, ctypes.c_size_t,
                ctypes.c_char_p, ctypes.c_size_t]
        except AttributeError:
            continue
        _lib = lib
        break
    return _lib


def available() -> bool:
    return _load() is not None


def version_number() -> int:
    """libzstd's ZSTD_versionNumber() (e.g. 10506 for 1.5.6) — part of the
    codec fingerprint the archive writer uses to assert driver and executor
    processes would produce identical compressed bytes."""
    lib = _load()
    if lib is None:
        return 0
    fn = lib.ZSTD_versionNumber
    fn.restype = ctypes.c_uint
    fn.argtypes = []
    return int(fn())


def compress(data: bytes, level: int = 3) -> bytes:
    lib = _load()
    if lib is None:
        raise NotImplementedError("libzstd not found on this host")
    bound = lib.ZSTD_compressBound(len(data))
    dst = ctypes.create_string_buffer(bound)
    n = lib.ZSTD_compress(dst, bound, data, len(data), level)
    if lib.ZSTD_isError(n):
        raise ValueError(f"ZSTD_compress failed (code {n})")
    return dst.raw[:n]


def decompress(data: bytes) -> bytes:
    lib = _load()
    if lib is None:
        raise NotImplementedError("libzstd not found on this host")
    size = lib.ZSTD_getFrameContentSize(data, len(data))
    if size == _CONTENTSIZE_ERROR:
        raise ValueError("not a zstd frame")
    if size != _CONTENTSIZE_UNKNOWN:
        if size > 1 << 31:
            raise ValueError(f"zstd frame declares {size} bytes — refusing")
        dst = ctypes.create_string_buffer(int(size) or 1)
        n = lib.ZSTD_decompress(dst, int(size), data, len(data))
        if lib.ZSTD_isError(n):
            raise ValueError(f"ZSTD_decompress failed (code {n})")
        return dst.raw[:n]
    return _decompress_stream(lib, data)


class _Buf(ctypes.Structure):
    # ZSTD_inBuffer / ZSTD_outBuffer share this layout (zstd.h)
    _fields_ = [("ptr", ctypes.c_void_p), ("size", ctypes.c_size_t),
                ("pos", ctypes.c_size_t)]


def _decompress_stream(lib, data: bytes) -> bytes:
    """Frames without a content-size header (e.g. streamed foreign
    writers): ZSTD_decompressStream loop with a growing output."""
    try:
        lib.ZSTD_createDStream.restype = ctypes.c_void_p
        lib.ZSTD_freeDStream.argtypes = [ctypes.c_void_p]
        lib.ZSTD_decompressStream.restype = ctypes.c_size_t
        lib.ZSTD_decompressStream.argtypes = [
            ctypes.c_void_p, ctypes.POINTER(_Buf), ctypes.POINTER(_Buf)]
        lib.ZSTD_DStreamOutSize.restype = ctypes.c_size_t
    except AttributeError as e:  # pragma: no cover - ancient libzstd
        raise NotImplementedError("libzstd lacks the streaming API") from e
    ds = lib.ZSTD_createDStream()
    if not ds:
        raise MemoryError("ZSTD_createDStream failed")
    try:
        chunk = lib.ZSTD_DStreamOutSize()
        src = ctypes.create_string_buffer(data, len(data))
        inb = _Buf(ctypes.cast(src, ctypes.c_void_p), len(data), 0)
        out = bytearray()
        dst = ctypes.create_string_buffer(chunk)
        while inb.pos < inb.size:
            outb = _Buf(ctypes.cast(dst, ctypes.c_void_p), chunk, 0)
            code = lib.ZSTD_decompressStream(
                ds, ctypes.byref(outb), ctypes.byref(inb))
            if lib.ZSTD_isError(code):
                raise ValueError(f"ZSTD_decompressStream failed ({code})")
            out += dst.raw[:outb.pos]
            if code == 0 and inb.pos >= inb.size:
                break
        return bytes(out)
    finally:
        lib.ZSTD_freeDStream(ds)
