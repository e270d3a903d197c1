"""ctypes bindings to the SYSTEM libtiff — the deployment decoder the
TIFF honest stub names for everything outside the in-tree baseline
subset (BigTIFF, tiles, CCITT/JPEG-in-TIFF, CMYK/YCbCr), wired up when
the shared library is installed (``libtiff.so``; pure-C ABI, no Python
package needed). Same capability-gated shape as :mod:`.webp_native`:
callers fall back to the marked ``NotImplementedError`` boundary when
the library is absent, so environments without libtiff behave exactly
as before.

libtiff also serves as an independent CONFORMANCE oracle for the
in-tree :mod:`.tiff` codec (round-trips cannot catch self-consistent
spec deviations — LZW early-change off-by-ones are the classic case):
the pytest tier decodes every writer output through both decoders and
requires bit-identical pixels.

Scale shape: row-local C calls inside Arrow-batched ``mapInPandas``
stages, same as every other codec (zero shuffle, zero driver hops).
The payload round-trips through a per-call temp file because libtiff's
plain ``TIFFOpen`` API is path-based; assets are small row-local
blobs, so this is a tmpfs write, not an I/O tier.
"""

from __future__ import annotations

import ctypes
import os
import tempfile

from .native import load

_CANDIDATES = ("tiff", "libtiff.so.6", "libtiff.so.5", "libtiff.so")


def _bind(lib) -> bool:
    lib.TIFFOpen.restype = ctypes.c_void_p
    lib.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
    lib.TIFFClose.restype = None
    lib.TIFFClose.argtypes = [ctypes.c_void_p]
    lib.TIFFReadRGBAImageOriented.restype = ctypes.c_int
    lib.TIFFReadRGBAImageOriented.argtypes = [
        ctypes.c_void_p,
        ctypes.c_uint32,
        ctypes.c_uint32,
        ctypes.POINTER(ctypes.c_uint32),
        ctypes.c_int,
        ctypes.c_int,
    ]
    # TIFFGetField is varargs — leave argtypes unset and pass
    # explicitly-typed ctypes values at the call sites
    lib.TIFFGetField.restype = ctypes.c_int
    # silence libtiff's stderr chatter; failures surface as None /
    # zero returns which we convert to loud ValueErrors
    handler_t = ctypes.CFUNCTYPE(
        None, ctypes.c_char_p, ctypes.c_char_p, ctypes.c_void_p
    )
    try:
        lib.TIFFSetErrorHandler.restype = handler_t
        lib.TIFFSetErrorHandler(ctypes.cast(None, handler_t))
        lib.TIFFSetWarningHandler.restype = handler_t
        lib.TIFFSetWarningHandler(ctypes.cast(None, handler_t))
    except AttributeError:
        pass
    return True


def _lib():
    return load(_CANDIDATES, _bind)


def libtiff_available() -> bool:
    return _lib() is not None


def decode_rgba(payload: bytes):
    """Full libtiff decode (any organisation/compression it supports)
    to an H×W×4 uint8 RGBA array, top-left origin."""
    import numpy as np

    lib = _lib()
    if lib is None:
        raise NotImplementedError(
            "system libtiff not found; non-baseline TIFF tiers stay the"
            " marked deployment boundary"
        )
    fd, path = tempfile.mkstemp(suffix=".tif")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(bytes(payload))
        tif = lib.TIFFOpen(path.encode(), b"r")
        if not tif:
            raise ValueError("libtiff: not a decodable TIFF")
        try:
            w = ctypes.c_uint32(0)
            h = ctypes.c_uint32(0)
            if not lib.TIFFGetField(
                ctypes.c_void_p(tif), ctypes.c_uint32(256), ctypes.byref(w)
            ) or not lib.TIFFGetField(
                ctypes.c_void_p(tif), ctypes.c_uint32(257), ctypes.byref(h)
            ):
                raise ValueError("libtiff: TIFF missing width/height")
            if w.value == 0 or h.value == 0 or w.value * h.value > 1 << 28:
                raise ValueError(f"libtiff: bad dimensions {w.value}x{h.value}")
            raster = np.empty(h.value * w.value, dtype=np.uint32)
            ok = lib.TIFFReadRGBAImageOriented(
                tif,
                w.value,
                h.value,
                raster.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
                1,  # ORIENTATION_TOPLEFT
                1,  # stop on error
            )
            if not ok:
                raise ValueError("libtiff: RGBA decode failed")
        finally:
            lib.TIFFClose(tif)
    finally:
        os.unlink(path)
    # raster packs ABGR in host order: R = v & 0xff … A = v >> 24
    v = raster.reshape(h.value, w.value)
    out = np.empty((h.value, w.value, 4), dtype=np.uint8)
    out[:, :, 0] = v & 0xFF
    out[:, :, 1] = (v >> 8) & 0xFF
    out[:, :, 2] = (v >> 16) & 0xFF
    out[:, :, 3] = v >> 24
    return out


def decode_rgb(payload: bytes):
    """H×W×3 uint8 RGB via :func:`decode_rgba` (alpha stripped — the
    same surface contract as the in-tree decoder)."""
    import numpy as np

    return np.ascontiguousarray(decode_rgba(payload)[:, :, :3])
