"""ctypes bindings to the SYSTEM libwebp — the deployment decoder the
lossy-WebP honest stub has named since round 6, now actually wired up
when the shared library is installed (``libwebp.so``; pure-C ABI, no
Python package needed). The in-tree :mod:`.webp` VP8L codec remains the
dependency-free lossless path; this module adds:

* :func:`decode_rgb` — full decode of any WebP libwebp accepts (lossy
  VP8, VP8L, VP8X-wrapped, with alpha) to an H×W×3 uint8 RGB array
  (:func:`decode_rgba` keeps alpha);
* :func:`encode_lossy_rgb` — lossy VP8 encoding, used by the planted
  ``webp_lossy_decode_gate`` assets;
* :func:`libwebp_available` / :func:`libwebp_encoder_available` —
  capability probes; every caller falls back to the marked
  ``NotImplementedError`` boundary when the library is absent, so
  environments without libwebp behave exactly as before.

Scale shape: row-local C calls inside Arrow-batched ``mapInPandas``
stages, same as every other codec (zero shuffle, zero driver hops).
"""

from __future__ import annotations

import ctypes

from .native import load

_CANDIDATES = ("webp", "libwebp.so.7", "libwebp.so")


def _bind(lib) -> bool:
    c_int, c_size_t = ctypes.c_int, ctypes.c_size_t
    u8p = ctypes.POINTER(ctypes.c_uint8)
    lib.WebPGetInfo.restype = c_int
    lib.WebPGetInfo.argtypes = [
        ctypes.c_char_p, c_size_t,
        ctypes.POINTER(c_int), ctypes.POINTER(c_int),
    ]
    decoders = [lib.WebPDecodeRGBInto]  # RGBA and the encoder are optional
    if hasattr(lib, "WebPDecodeRGBAInto"):
        decoders.append(lib.WebPDecodeRGBAInto)
    for fn in decoders:
        fn.restype = u8p
        fn.argtypes = [ctypes.c_char_p, c_size_t, u8p, c_size_t, c_int]
    if hasattr(lib, "WebPEncodeRGB"):
        lib.WebPEncodeRGB.restype = c_size_t
        lib.WebPEncodeRGB.argtypes = [
            u8p, c_int, c_int, c_int, ctypes.c_float, ctypes.POINTER(u8p),
        ]
    lib.WebPFree.restype = None
    lib.WebPFree.argtypes = [ctypes.c_void_p]
    return True


def _lib():
    return load(_CANDIDATES, _bind)


def libwebp_available() -> bool:
    return _lib() is not None


def libwebp_encoder_available() -> bool:
    lib = _lib()
    return lib is not None and hasattr(lib, "WebPEncodeRGB")


def get_info(payload: bytes) -> tuple[int, int]:
    """(width, height) via WebPGetInfo; ValueError on undecodable data."""
    lib = _lib()
    if lib is None:
        raise NotImplementedError(
            "system libwebp not found; lossy WebP (VP8) stays the marked"
            " deployment boundary"
        )
    buf = bytes(payload)
    w, h = ctypes.c_int(), ctypes.c_int()
    if not lib.WebPGetInfo(buf, len(buf), ctypes.byref(w), ctypes.byref(h)):
        raise ValueError("libwebp: not a decodable WebP bitstream")
    return w.value, h.value


def _decode_into(payload: bytes, channels: int):
    import numpy as np

    lib = _lib()
    if lib is None:
        raise NotImplementedError(
            "system libwebp not found; lossy WebP (VP8) stays the marked"
            " deployment boundary"
        )
    w, h = get_info(payload)
    out = np.empty((h, w, channels), dtype=np.uint8)
    buf = bytes(payload)
    fn = (
        lib.WebPDecodeRGBInto if channels == 3 else lib.WebPDecodeRGBAInto
    )
    ok = fn(
        buf,
        len(buf),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        out.nbytes,
        w * channels,
    )
    if not ok:
        raise ValueError("libwebp: decode failed (corrupt bitstream)")
    return out


def decode_rgb(payload: bytes):
    """Decode any libwebp-supported WebP → H×W×3 uint8 RGB."""
    return _decode_into(payload, 3)


def decode_rgba(payload: bytes):
    """Decode any libwebp-supported WebP → H×W×4 uint8 RGBA."""
    return _decode_into(payload, 4)


def encode_lossy_rgb(px, quality: float = 90.0) -> bytes:
    """Lossy VP8 encode of an H×W×3 uint8 RGB array via WebPEncodeRGB."""
    import numpy as np

    lib = _lib()
    if lib is None or not hasattr(lib, "WebPEncodeRGB"):
        raise NotImplementedError(
            "system libwebp (with encoder) not found; lossy WebP encode"
            " is a deployment capability"
        )
    arr = np.ascontiguousarray(np.asarray(px, dtype=np.uint8))
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("encode_lossy_rgb wants H x W x 3 uint8")
    h, w, _ = arr.shape
    outp = ctypes.POINTER(ctypes.c_uint8)()
    n = lib.WebPEncodeRGB(
        arr.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        w, h, w * 3, float(quality), ctypes.byref(outp),
    )
    if not n:
        raise ValueError("libwebp: lossy encode failed")
    try:
        return ctypes.string_at(outp, n)
    finally:
        lib.WebPFree(outp)
