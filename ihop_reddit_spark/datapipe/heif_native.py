"""ctypes bindings to the SYSTEM libheif — REAL HEIC decode (HEVC in
the HEIF container: the default iPhone photo format, the most common
still format a web crawl hits after JPEG/PNG/WebP) plus HEIF-AV1, with
encode through the library's x265/aom plugins for in-tree conformance
fixtures. Closes the "HEIC remains the marked PIL stub" boundary named
by ``decode_image`` since r6; H.264/HEVC *video tracks* remain the
documented libav stub (libheif is the still/derived-image path only).

Unlike libavif (version-sensitive struct ABI, see ``avif_native``),
libheif's public C API is OPAQUE-POINTER based — the only struct
crossing the boundary is the tiny, ABI-stable ``heif_error`` returned
by value, so no layout validation dance is needed; the probe checks
symbols and the runtime plugin capability (``heif_have_decoder_for_
format``/``heif_have_encoder_for_format``) instead, because Debian
ships codec plugins separately (libde265 for HEVC decode, x265 for
encode) and a library without the HEVC plugin must report unavailable
rather than fail at first decode.

Lossless shape: x265 lossless + the default 4:2:0 pipeline keeps
GRAY content integer-exact (R=G=B ⇒ chroma-neutral, subsampling is
lossless on constant chroma) — the planted gate asserts exact means,
the same conformance-oracle double duty as the other native bindings.
Color content additionally passes ``chroma="444"`` to bound the
RGB↔YCbCr excursion to fixed-point rounding (±2), asserted by pytest.

Scale shape: row-local C calls inside Arrow-batched ``mapInPandas``
stages, same as every other codec (zero shuffle, zero driver hops).
"""

from __future__ import annotations

import ctypes as C
import os
import tempfile

from .native import load


class _Error(C.Structure):
    """``heif_error`` — returned BY VALUE by most libheif calls."""

    _fields_ = [
        ("code", C.c_int),
        ("subcode", C.c_int),
        ("message", C.c_char_p),
    ]


_P = C.c_void_p
_COLORSPACE_RGB = 1
_CHROMA_INTERLEAVED_RGB = 10
_CHANNEL_INTERLEAVED = 10
_COMPRESSION_HEVC = 1

_SIGNATURES = [
    ("heif_context_alloc", _P, []),
    ("heif_context_free", None, [_P]),
    (
        "heif_context_read_from_memory_without_copy",
        _Error,
        [_P, C.c_char_p, C.c_size_t, _P],
    ),
    ("heif_context_get_primary_image_handle", _Error, [_P, C.POINTER(_P)]),
    ("heif_image_handle_get_width", C.c_int, [_P]),
    ("heif_image_handle_get_height", C.c_int, [_P]),
    ("heif_image_handle_release", None, [_P]),
    ("heif_decode_image", _Error, [_P, C.POINTER(_P), C.c_int, C.c_int, _P]),
    (
        "heif_image_get_plane_readonly",
        C.POINTER(C.c_uint8),
        [_P, C.c_int, C.POINTER(C.c_int)],
    ),
    ("heif_image_release", None, [_P]),
    ("heif_have_decoder_for_format", C.c_int, [C.c_int]),
    ("heif_have_encoder_for_format", C.c_int, [C.c_int]),
]

_ENC_SIGNATURES = [
    ("heif_context_get_encoder_for_format", _Error, [_P, C.c_int, C.POINTER(_P)]),
    ("heif_encoder_set_lossless", _Error, [_P, C.c_int]),
    ("heif_encoder_set_lossy_quality", _Error, [_P, C.c_int]),
    (
        "heif_encoder_set_parameter",
        _Error,
        [_P, C.c_char_p, C.c_char_p],
    ),
    ("heif_encoder_release", None, [_P]),
    ("heif_image_create", _Error, [C.c_int, C.c_int, C.c_int, C.c_int, C.POINTER(_P)]),
    ("heif_image_add_plane", _Error, [_P, C.c_int, C.c_int, C.c_int, C.c_int]),
    (
        "heif_image_get_plane",
        C.POINTER(C.c_uint8),
        [_P, C.c_int, C.POINTER(C.c_int)],
    ),
    ("heif_context_encode_image", _Error, [_P, _P, _P, _P, C.POINTER(_P)]),
    ("heif_context_write_to_file", _Error, [_P, C.c_char_p]),
]

_CANDIDATES = ("heif", "libheif.so.1", "libheif.so")


def _bind(lib) -> bool:
    """Decode symbols are required; encoder symbols bind where present
    (:func:`_encoder_lib` decides whether they add up to an encoder)."""
    present = [sig for sig in _ENC_SIGNATURES if hasattr(lib, sig[0])]
    for name, res, args in _SIGNATURES + present:
        fn = getattr(lib, name)
        fn.restype = res
        fn.argtypes = args
    # the HEVC plugin (libde265) ships separately — a libheif
    # without it must report unavailable, not fail at first decode
    return bool(lib.heif_have_decoder_for_format(_COMPRESSION_HEVC))


def _lib():
    return load(_CANDIDATES, _bind)


def _encoder_lib():
    """The bound library when it has every encoder symbol and an HEVC
    encoder plugin (x265), else None."""
    lib = _lib()
    if lib is None or not all(hasattr(lib, n) for n, _, _ in _ENC_SIGNATURES):
        return None
    return lib if lib.heif_have_encoder_for_format(_COMPRESSION_HEVC) else None


def libheif_available() -> bool:
    return _lib() is not None


def libheif_encoder_available() -> bool:
    return _encoder_lib() is not None


def _check(err: _Error, what: str) -> None:
    if err.code != 0:
        msg = err.message or b""
        raise ValueError(
            f"libheif {what} failed ({err.code}/{err.subcode}):"
            f" {msg.decode('ascii', 'replace')}"
        )


def decode_rgb(payload: bytes):
    """Primary image of a HEIC/HEIF payload as H×W×3 uint8 RGB."""
    import numpy as np

    lib = _lib()
    if lib is None:
        raise NotImplementedError(
            "HEIC decode requires the system libheif (+ libde265),"
            " which is not installed"
        )
    data = bytes(payload)
    ctx = lib.heif_context_alloc()
    handle = _P()
    img = _P()
    try:
        _check(
            lib.heif_context_read_from_memory_without_copy(
                ctx, data, len(data), None
            ),
            "read",
        )
        _check(
            lib.heif_context_get_primary_image_handle(
                ctx, C.byref(handle)
            ),
            "primary_image_handle",
        )
        w = lib.heif_image_handle_get_width(handle)
        h = lib.heif_image_handle_get_height(handle)
        _check(
            lib.heif_decode_image(
                handle,
                C.byref(img),
                _COLORSPACE_RGB,
                _CHROMA_INTERLEAVED_RGB,
                None,
            ),
            "decode",
        )
        stride = C.c_int()
        ptr = lib.heif_image_get_plane_readonly(
            img, _CHANNEL_INTERLEAVED, C.byref(stride)
        )
        if not ptr:
            raise ValueError("libheif returned no interleaved plane")
        st = stride.value
        base = C.addressof(ptr.contents)
        out = np.empty((h, w, 3), dtype=np.uint8)
        for row in range(h):
            out[row] = np.frombuffer(
                C.string_at(base + row * st, w * 3), np.uint8
            ).reshape(w, 3)
        return out
    finally:
        if img:
            lib.heif_image_release(img)
        if handle:
            lib.heif_image_handle_release(handle)
        lib.heif_context_free(ctx)


def get_info(payload: bytes) -> tuple[int, int]:
    """(width, height) of the primary image, no pixel decode."""
    lib = _lib()
    if lib is None:
        raise NotImplementedError("HEIC info requires the system libheif")
    data = bytes(payload)
    ctx = lib.heif_context_alloc()
    handle = _P()
    try:
        _check(
            lib.heif_context_read_from_memory_without_copy(
                ctx, data, len(data), None
            ),
            "read",
        )
        _check(
            lib.heif_context_get_primary_image_handle(
                ctx, C.byref(handle)
            ),
            "primary_image_handle",
        )
        return (
            lib.heif_image_handle_get_width(handle),
            lib.heif_image_handle_get_height(handle),
        )
    finally:
        if handle:
            lib.heif_image_handle_release(handle)
        lib.heif_context_free(ctx)


def encode_rgb(
    px,
    *,
    lossless: bool = True,
    quality: int = 75,
    chroma444: bool = True,
) -> bytes:
    """Encode one H×W×3 uint8 array as HEIC (HEVC through the x265
    plugin). Lossless + gray content roundtrips integer-exactly;
    lossless color stays within YCbCr fixed-point rounding when
    ``chroma444`` (±2, pytest-pinned). The container write goes through
    a temp file — libheif's in-memory writer callback returns a struct
    by value, which ctypes callbacks cannot express; fixture generation
    is not a hot path."""
    import numpy as np

    lib = _encoder_lib()
    if lib is None:
        raise NotImplementedError(
            "HEIC encode requires the system libheif built with an HEVC"
            " encoder (x265), which is not installed"
        )
    px = np.ascontiguousarray(px, dtype=np.uint8)
    h, w = px.shape[:2]
    ctx = lib.heif_context_alloc()
    img = _P()
    enc = _P()
    handle = _P()
    try:
        _check(
            lib.heif_image_create(
                w, h, _COLORSPACE_RGB, _CHROMA_INTERLEAVED_RGB, C.byref(img)
            ),
            "image_create",
        )
        _check(
            lib.heif_image_add_plane(img, _CHANNEL_INTERLEAVED, w, h, 8),
            "add_plane",
        )
        stride = C.c_int()
        ptr = lib.heif_image_get_plane(
            img, _CHANNEL_INTERLEAVED, C.byref(stride)
        )
        st = stride.value
        base = C.addressof(ptr.contents)
        rgb = px if px.ndim == 3 else np.repeat(px[..., None], 3, axis=2)
        for row in range(h):
            C.memmove(base + row * st, rgb[row].tobytes(), w * 3)
        _check(
            lib.heif_context_get_encoder_for_format(
                ctx, _COMPRESSION_HEVC, C.byref(enc)
            ),
            "get_encoder",
        )
        # x265 spins up a pools+frame-parallel thread complex PER
        # ENCODER INSTANCE sized to the machine's cores; under Spark's
        # per-partition Arrow workers that oversubscribes 32×32 and the
        # pool setup dominates tiny encodes (measured 12× per-call:
        # 118ms → 10ms, output byte-identical). Parallelism belongs to
        # the PARTITIONS, so pin each instance single-threaded; a
        # libheif without the x265: passthrough just ignores us.
        lib.heif_encoder_set_parameter(enc, b"x265:pools", b"none")
        lib.heif_encoder_set_parameter(enc, b"x265:frame-threads", b"1")
        if lossless:
            _check(lib.heif_encoder_set_lossless(enc, 1), "set_lossless")
        else:
            _check(
                lib.heif_encoder_set_lossy_quality(
                    enc, max(0, min(100, int(quality)))
                ),
                "set_quality",
            )
        if chroma444:
            _check(
                lib.heif_encoder_set_parameter(enc, b"chroma", b"444"),
                "set_chroma",
            )
        _check(
            lib.heif_context_encode_image(
                ctx, img, enc, None, C.byref(handle)
            ),
            "encode",
        )
        fd, tmp = tempfile.mkstemp(suffix=".heic")
        os.close(fd)
        try:
            _check(
                lib.heif_context_write_to_file(ctx, tmp.encode()), "write"
            )
            with open(tmp, "rb") as fh:
                return fh.read()
        finally:
            os.unlink(tmp)
    finally:
        if handle:
            lib.heif_image_handle_release(handle)
        if enc:
            lib.heif_encoder_release(enc)
        if img:
            lib.heif_image_release(img)
        lib.heif_context_free(ctx)


def extract_hevc(payload: bytes) -> tuple[bytes, bytes, int, int]:
    """Pull the PRIMARY item's raw HEVC sample (length-prefixed NALs —
    byte-identical to an MP4 ``hvc1`` sample) plus its ``hvcC``
    configuration record and ispe dimensions out of a HEIC file, using
    the engine's own box walker (public ISO/IEC 23008-12 structures:
    pitm/iloc v0-v2 with file- and idat-construction, ipco/ipma
    property association). This is how the HEVC-video fixtures are
    built: encode stills through the system x265, extract, re-mux with
    ``mp4_bytes(codec="hvc1")``."""
    import struct

    from .mp4 import _find, _iter_boxes

    buf = bytes(payload)
    top = list(_iter_boxes(buf, 0, len(buf)))
    meta = next(((s, e) for fc, s, e in top if fc == b"meta"), None)
    if meta is None:
        raise ValueError("HEIC payload has no meta box")
    ms, me = meta[0] + 4, meta[1]  # skip the FullBox version/flags

    # the CODED item is the hvc1 infe entry — the primary item may be a
    # derived 'grid' wrapper when the encoder padded to CTU size (the
    # fixtures use multiples of 64 precisely so the coded item IS the
    # picture); require exactly one so a tiled image fails loudly
    iinf = _find(buf, ms, me, b"iinf")
    if iinf is None:
        raise ValueError("HEIC meta has no iinf")
    iinf_ver = buf[iinf[0]]
    items_start = iinf[0] + (6 if iinf_ver == 0 else 8)
    hvc1_ids = []
    for fc, s0, e0 in _iter_boxes(buf, items_start, iinf[1]):
        if fc != b"infe":
            continue
        if buf[s0] != 2:
            raise ValueError(f"unsupported infe version {buf[s0]}")
        (item_id,) = struct.unpack(">H", buf[s0 + 4 : s0 + 6])
        if buf[s0 + 8 : s0 + 12] == b"hvc1":
            hvc1_ids.append(item_id)
    if len(hvc1_ids) != 1:
        raise ValueError(
            f"expected exactly one coded hvc1 item, found {hvc1_ids}"
        )
    primary = hvc1_ids[0]

    idat = _find(buf, ms, me, b"idat")

    iloc = _find(buf, ms, me, b"iloc")
    if iloc is None:
        raise ValueError("HEIC meta has no iloc")
    p = iloc[0]
    ver = buf[p]
    p += 4
    offset_size, length_size = buf[p] >> 4, buf[p] & 15
    base_offset_size = buf[p + 1] >> 4
    index_size = (buf[p + 1] & 15) if ver in (1, 2) else 0
    p += 2
    if ver < 2:
        (item_count,) = struct.unpack(">H", buf[p : p + 2])
        p += 2
    else:
        (item_count,) = struct.unpack(">I", buf[p : p + 4])
        p += 4
    sample = None
    for _ in range(item_count):
        if ver < 2:
            (item_id,) = struct.unpack(">H", buf[p : p + 2])
            p += 2
        else:
            (item_id,) = struct.unpack(">I", buf[p : p + 4])
            p += 4
        method = 0
        if ver in (1, 2):
            (cm,) = struct.unpack(">H", buf[p : p + 2])
            method = cm & 15
            p += 2
        p += 2  # data_reference_index
        base = int.from_bytes(buf[p : p + base_offset_size], "big")
        p += base_offset_size
        (extent_count,) = struct.unpack(">H", buf[p : p + 2])
        p += 2
        extents = []
        for _ in range(extent_count):
            p += index_size
            off = int.from_bytes(buf[p : p + offset_size], "big")
            p += offset_size
            ln = int.from_bytes(buf[p : p + length_size], "big")
            p += length_size
            extents.append((off, ln))
        if item_id != primary:
            continue
        parts = []
        for off, ln in extents:
            if method == 0:  # absolute file offset
                lo = base + off
            elif method == 1:  # offset into idat payload
                if idat is None:
                    raise ValueError("iloc idat construction without idat")
                lo = idat[0] + base + off
            else:
                raise ValueError(f"unsupported iloc construction {method}")
            if lo + ln > len(buf):
                raise ValueError("iloc extent escapes the file")
            parts.append(buf[lo : lo + ln])
        sample = b"".join(parts)
    if sample is None:
        raise ValueError(f"coded item {primary} has no iloc entry")

    iprp = _find(buf, ms, me, b"iprp")
    if iprp is None:
        raise ValueError("HEIC meta has no iprp")
    ipco = _find(buf, *iprp, b"ipco")
    if ipco is None:
        raise ValueError("HEIC iprp has no ipco")
    props = list(_iter_boxes(buf, *ipco))  # 1-based property indices

    ipma = _find(buf, *iprp, b"ipma")
    if ipma is None:
        raise ValueError("HEIC iprp has no ipma")
    q = ipma[0]
    aver, aflags = buf[q], int.from_bytes(buf[q + 1 : q + 4], "big")
    q += 4
    (entry_count,) = struct.unpack(">I", buf[q : q + 4])
    q += 4
    assoc: list[int] = []
    for _ in range(entry_count):
        if aver < 1:
            (item_id,) = struct.unpack(">H", buf[q : q + 2])
            q += 2
        else:
            (item_id,) = struct.unpack(">I", buf[q : q + 4])
            q += 4
        (n_assoc,) = struct.unpack(">B", buf[q : q + 1])
        q += 1
        ids = []
        for _ in range(n_assoc):
            if aflags & 1:
                (v,) = struct.unpack(">H", buf[q : q + 2])
                ids.append(v & 0x7FFF)
                q += 2
            else:
                ids.append(buf[q] & 0x7F)
                q += 1
        if item_id == primary:
            assoc = ids
    hvcc = None
    width = height = None
    for idx in assoc:
        if not (1 <= idx <= len(props)):
            continue
        fc, s0, e0 = props[idx - 1]
        if fc == b"hvcC":
            hvcc = buf[s0:e0]
        elif fc == b"ispe":
            width, height = struct.unpack(">II", buf[s0 + 4 : s0 + 12])
    if hvcc is None or width is None:
        raise ValueError("coded item lacks hvcC/ispe properties")
    return sample, hvcc, int(width), int(height)


def wrap_hevc_sample(
    sample: bytes, hvcc: bytes, width: int, height: int
) -> bytes:
    """Wrap ONE raw HEVC sample (length-prefixed NALs demuxed from an
    ``hvc1`` video track) in a minimal spec-correct still-HEIC
    container so the system decoder can decode it independently — the
    HEVC pendant of ``avif_native.wrap_av1_sample``."""
    import struct

    from .avif_native import _box, _full

    ftyp = _box(b"ftyp", b"heic\x00\x00\x00\x00heicmif1miaf")
    hdlr = _full(
        b"hdlr", 0, 0,
        b"\x00\x00\x00\x00" + b"pict" + b"\x00" * 12 + b"\x00",
    )
    pitm = _full(b"pitm", 0, 0, struct.pack(">H", 1))
    infe = _full(
        b"infe", 2, 0, struct.pack(">HH", 1, 0) + b"hvc1" + b"\x00"
    )
    iinf = _full(b"iinf", 0, 0, struct.pack(">H", 1) + infe)
    ispe = _full(b"ispe", 0, 0, struct.pack(">II", width, height))
    pixi = _full(b"pixi", 0, 0, b"\x03\x08\x08\x08")
    ipco = _box(b"ipco", ispe + pixi + _box(b"hvcC", hvcc))
    ipma = _full(
        b"ipma", 0, 0,
        struct.pack(">I", 1) + struct.pack(">HB", 1, 3)
        + bytes([0x01, 0x02, 0x80 | 0x03]),
    )
    iprp = _box(b"iprp", ipco + ipma)

    def _iloc(offset: int) -> bytes:
        return _full(
            b"iloc", 0, 0,
            bytes([0x44, 0x00])
            + struct.pack(">H", 1)
            + struct.pack(">HH", 1, 0)
            + struct.pack(">H", 1)
            + struct.pack(">II", offset, len(sample)),
        )

    meta = _full(b"meta", 0, 0, hdlr + pitm + _iloc(0) + iinf + iprp)
    data_off = len(ftyp) + len(meta) + 8
    meta = _full(
        b"meta", 0, 0, hdlr + pitm + _iloc(data_off) + iinf + iprp
    )
    return ftyp + meta + _box(b"mdat", sample)
