"""ctypes bindings to the SYSTEM libavif (AV1 image/sequence codec) —
the first real COMPRESSED-VIDEO-CODEC path in the multimodal tier,
closing (for the modern royalty-free codec) the "H.264/HEVC/VP9/AV1
decode requires libav" boundary that ``datapipe/mp4.py`` has named
since r9. H.264/HEVC/VP9 remain the marked libav stub; AV1 now decodes
for real wherever ``libavif.so`` is installed (Debian's libavif15 links
dav1d for decode and aom for encode — probed at import, never assumed).

The ABI is version-sensitive (struct layouts changed across libavif
releases), so :func:`_lib` VALIDATES the 0.11.x layout at probe time
against distinctive library-set defaults (decoder: imageSizeLimit
16384², imageDimensionLimit 32768, imageCountLimit 2592000, strict 7;
encoder: maxThreads 1, speed −1, timescale 1; image: created fields
read back). Any mismatch disables the binding — callers then hit the
same marked ``NotImplementedError`` as before, never a misread struct.

* :func:`decode_rgb` / :func:`decode_frames` — still AVIF and image
  sequences (animated AVIF / AV1-in-ISOBMFF) to H×W×3 uint8 RGB.
* :func:`encode_rgb` / :func:`encode_frames` — AV1 encoding through
  aom. ``lossless=True`` pins identity matrix coefficients + YUV444 +
  full range + quantizer 0: the decode is INTEGER-EXACT, which is what
  lets the planted gates assert exact pixels (the same conformance-
  oracle double duty as ``webp_native``/``tiff_native``).
* :func:`wrap_av1_sample` — builds a minimal spec-correct STILL AVIF
  container (ftyp/meta/iloc/iinf/iprp + mdat) around one raw AV1
  sample payload and the track's ``av1C`` configuration record, so the
  per-sample decode of an AV1 VIDEO track demuxed by OUR
  ``datapipe/mp4.py`` box walker routes through the system decoder —
  the engine owns the container path, the codec work is dav1d's.

Scale shape: row-local C calls inside Arrow-batched ``mapInPandas``
stages, same as every other codec (zero shuffle, zero driver hops).
"""

from __future__ import annotations

import ctypes as C

from .native import load


class _RWData(C.Structure):
    _fields_ = [("data", C.c_void_p), ("size", C.c_size_t)]


class _Image(C.Structure):
    """avifImage, libavif 0.11.x layout (leading fields validated at
    probe time by reading back avifImageCreate's arguments)."""

    _fields_ = [
        ("width", C.c_uint32),
        ("height", C.c_uint32),
        ("depth", C.c_uint32),
        ("yuvFormat", C.c_int),
        ("yuvRange", C.c_int),
        ("yuvChromaSamplePosition", C.c_int),
        ("yuvPlanes", C.c_void_p * 3),
        ("yuvRowBytes", C.c_uint32 * 3),
        ("imageOwnsYUVPlanes", C.c_int),
        ("alphaPlane", C.c_void_p),
        ("alphaRowBytes", C.c_uint32),
        ("imageOwnsAlphaPlane", C.c_int),
        ("alphaPremultiplied", C.c_int),
        ("icc", _RWData),
        ("colorPrimaries", C.c_uint16),
        ("transferCharacteristics", C.c_uint16),
        ("matrixCoefficients", C.c_uint16),
        ("transformFlags", C.c_uint32),
        ("pasp", C.c_uint32 * 2),
        ("clap", C.c_uint32 * 8),
        ("irot", C.c_uint8),
        ("imir", C.c_uint8),
        ("exif", _RWData),
        ("xmp", _RWData),
    ]


class _RGBImage(C.Structure):
    """avifRGBImage, 0.11.x (format default RGBA validated at probe)."""

    _fields_ = [
        ("width", C.c_uint32),
        ("height", C.c_uint32),
        ("depth", C.c_uint32),
        ("format", C.c_int),
        ("chromaUpsampling", C.c_int),
        ("chromaDownsampling", C.c_int),
        ("avoidLibYUV", C.c_int),
        ("ignoreAlpha", C.c_int),
        ("alphaPremultiplied", C.c_int),
        ("isFloat", C.c_int),
        ("pixels", C.c_void_p),
        ("rowBytes", C.c_uint32),
    ]


class _Encoder(C.Structure):
    """avifEncoder head, 0.11.x (layout pinned empirically: int32 dump
    of a fresh encoder reads [0, 1, −1, 0] then timescale u64 = 1 —
    codecChoice, maxThreads, speed, keyframeInterval — and the
    quantizer block follows repetitionCount/extraLayerCount)."""

    _fields_ = [
        ("codecChoice", C.c_int),
        ("maxThreads", C.c_int),
        ("speed", C.c_int),
        ("keyframeInterval", C.c_int),
        ("timescale", C.c_uint64),
        ("repetitionCount", C.c_int),
        ("extraLayerCount", C.c_uint32),
        ("minQuantizer", C.c_int),
        ("maxQuantizer", C.c_int),
        ("minQuantizerAlpha", C.c_int),
        ("maxQuantizerAlpha", C.c_int),
        ("tileRowsLog2", C.c_int),
        ("tileColsLog2", C.c_int),
        ("autoTiling", C.c_int),
    ]


class _Decoder(C.Structure):
    """avifDecoder head, 0.11.x (validated by the default-constant
    quadruple below before ``image`` is ever dereferenced)."""

    _fields_ = [
        ("codecChoice", C.c_int),
        ("maxThreads", C.c_int),
        ("requestedSource", C.c_int),
        ("allowProgressive", C.c_int),
        ("allowIncremental", C.c_int),
        ("ignoreExif", C.c_int),
        ("ignoreXMP", C.c_int),
        ("imageSizeLimit", C.c_uint32),
        ("imageDimensionLimit", C.c_uint32),
        ("imageCountLimit", C.c_uint32),
        ("strictFlags", C.c_uint32),
        ("image", C.POINTER(_Image)),
        ("imageIndex", C.c_int),
        ("imageCount", C.c_int),
    ]


_YUV444 = 1
_RGBA = 1  # avifRGBFormat: RGB=0, RGBA=1
_RANGE_FULL = 1
_MC_IDENTITY = 0
_ADD_IMAGE_FORCE_KEYFRAME = 1
_ADD_IMAGE_SINGLE = 2

_CANDIDATES = ("avif", "libavif.so.15", "libavif.so")
_ENC_NEED = (
    "avifEncoderCreate", "avifEncoderDestroy", "avifEncoderWrite",
    "avifEncoderAddImage", "avifEncoderFinish", "avifImageRGBToYUV",
)


def _has_encoder(lib) -> bool:
    return all(hasattr(lib, s) for s in _ENC_NEED)


def _bind(lib) -> bool:
    """Bind the decoder (every symbol required) and, where present, the
    encoder; then :func:`_validate` the struct layouts."""
    lib.avifDecoderCreate.restype = C.POINTER(_Decoder)
    lib.avifDecoderDestroy.argtypes = [C.POINTER(_Decoder)]
    lib.avifDecoderSetIOMemory.restype = C.c_int
    lib.avifDecoderSetIOMemory.argtypes = [
        C.POINTER(_Decoder), C.c_char_p, C.c_size_t,
    ]
    lib.avifDecoderParse.restype = C.c_int
    lib.avifDecoderParse.argtypes = [C.POINTER(_Decoder)]
    lib.avifDecoderNextImage.restype = C.c_int
    lib.avifDecoderNextImage.argtypes = [C.POINTER(_Decoder)]
    lib.avifImageCreate.restype = C.POINTER(_Image)
    lib.avifImageCreate.argtypes = [
        C.c_uint32, C.c_uint32, C.c_uint32, C.c_int,
    ]
    lib.avifImageDestroy.argtypes = [C.POINTER(_Image)]
    lib.avifRGBImageSetDefaults.argtypes = [
        C.POINTER(_RGBImage), C.POINTER(_Image),
    ]
    lib.avifImageYUVToRGB.restype = C.c_int
    lib.avifImageYUVToRGB.argtypes = [
        C.POINTER(_Image), C.POINTER(_RGBImage),
    ]
    lib.avifRWDataFree.argtypes = [C.POINTER(_RWData)]
    lib.avifResultToString.restype = C.c_char_p
    lib.avifResultToString.argtypes = [C.c_int]
    if _has_encoder(lib):
        lib.avifEncoderCreate.restype = C.POINTER(_Encoder)
        lib.avifEncoderDestroy.argtypes = [C.POINTER(_Encoder)]
        lib.avifEncoderWrite.restype = C.c_int
        lib.avifEncoderWrite.argtypes = [
            C.POINTER(_Encoder), C.POINTER(_Image), C.POINTER(_RWData),
        ]
        lib.avifEncoderAddImage.restype = C.c_int
        lib.avifEncoderAddImage.argtypes = [
            C.POINTER(_Encoder), C.POINTER(_Image), C.c_uint64, C.c_uint32,
        ]
        lib.avifEncoderFinish.restype = C.c_int
        lib.avifEncoderFinish.argtypes = [
            C.POINTER(_Encoder), C.POINTER(_RWData),
        ]
        lib.avifImageRGBToYUV.restype = C.c_int
        lib.avifImageRGBToYUV.argtypes = [
            C.POINTER(_Image), C.POINTER(_RGBImage),
        ]
    return _validate(lib)


def _validate(lib) -> bool:
    """Pin the 0.11.x struct layouts against the library's own default
    constants BEFORE any field is trusted. A layout drift fails here
    and the binding reports unavailable."""
    dec = lib.avifDecoderCreate()
    try:
        d = dec.contents
        if (
            d.maxThreads != 1
            or d.imageSizeLimit != 16384 * 16384
            or d.imageDimensionLimit != 32768
            or d.imageCountLimit != 2592000
            or d.strictFlags != 7
            or bool(d.image)
        ):
            return False
    finally:
        lib.avifDecoderDestroy(dec)
    img = lib.avifImageCreate(123, 45, 8, _YUV444)
    try:
        i = img.contents
        if (
            i.width != 123 or i.height != 45 or i.depth != 8
            or i.yuvFormat != _YUV444
        ):
            return False
        rgb = _RGBImage()
        lib.avifRGBImageSetDefaults(C.byref(rgb), img)
        if rgb.width != 123 or rgb.height != 45 or rgb.depth != 8:
            return False
    finally:
        lib.avifImageDestroy(img)
    if _has_encoder(lib):
        enc = lib.avifEncoderCreate()
        try:
            e = enc.contents
            if e.maxThreads != 1 or e.speed != -1 or e.timescale != 1:
                return False
        finally:
            lib.avifEncoderDestroy(enc)
    return True


def _lib():
    return load(_CANDIDATES, _bind)


def _encoder_lib():
    """The bound library when it also encodes, else None."""
    lib = _lib()
    return lib if lib is not None and _has_encoder(lib) else None


def libavif_available() -> bool:
    return _lib() is not None


def libavif_encoder_available() -> bool:
    return _encoder_lib() is not None


def _check(lib, result: int, what: str) -> None:
    if result != 0:
        msg = lib.avifResultToString(result)
        raise ValueError(
            f"libavif {what} failed: {msg.decode('ascii', 'replace')}"
        )


def _read_rgb(lib, img_ptr):
    """Convert a decoded avifImage to an H×W×3 uint8 numpy array."""
    import numpy as np

    im = img_ptr.contents
    w, h = int(im.width), int(im.height)
    rgb = _RGBImage()
    lib.avifRGBImageSetDefaults(C.byref(rgb), img_ptr)
    rgb.depth = 8
    rgb.format = _RGBA
    buf = np.empty((h, w, 4), dtype=np.uint8)
    rgb.pixels = buf.ctypes.data_as(C.c_void_p)
    rgb.rowBytes = w * 4
    _check(lib, lib.avifImageYUVToRGB(img_ptr, C.byref(rgb)), "YUVToRGB")
    return buf[:, :, :3].copy()


def decode_frames(payload: bytes) -> list:
    """Decode every image in an AVIF payload (1 for stills, N for
    animated/sequence files) to H×W×3 uint8 RGB arrays."""
    lib = _lib()
    if lib is None:
        raise NotImplementedError(
            "AVIF/AV1 decode requires the system libavif (dav1d/aom),"
            " which is not installed"
        )
    data = bytes(payload)
    dec = lib.avifDecoderCreate()
    try:
        _check(
            lib,
            lib.avifDecoderSetIOMemory(dec, data, len(data)),
            "SetIOMemory",
        )
        _check(lib, lib.avifDecoderParse(dec), "Parse")
        out = []
        n = int(dec.contents.imageCount)
        for _ in range(max(n, 1)):
            if lib.avifDecoderNextImage(dec) != 0:
                break
            out.append(_read_rgb(lib, dec.contents.image))
        if not out:
            raise ValueError("AVIF payload decoded zero images")
        return out
    finally:
        lib.avifDecoderDestroy(dec)


def decode_rgb(payload: bytes):
    """First (or only) image of an AVIF payload as H×W×3 uint8 RGB."""
    return decode_frames(payload)[0]


def get_info(payload: bytes) -> tuple[int, int, int]:
    """(width, height, image_count) from the container, no pixel work."""
    lib = _lib()
    if lib is None:
        raise NotImplementedError("AVIF info requires the system libavif")
    data = bytes(payload)
    dec = lib.avifDecoderCreate()
    try:
        _check(
            lib,
            lib.avifDecoderSetIOMemory(dec, data, len(data)),
            "SetIOMemory",
        )
        _check(lib, lib.avifDecoderParse(dec), "Parse")
        d = dec.contents
        im = d.image.contents
        return int(im.width), int(im.height), int(d.imageCount)
    finally:
        lib.avifDecoderDestroy(dec)


def _image_from_rgb(lib, px, *, lossless: bool):
    """Build an avifImage from an H×W×3 uint8 array. Lossless pins
    identity matrix coefficients + YUV444 + full range (integer-exact
    RGB roundtrip); lossy keeps the library's default BT.601."""
    import numpy as np

    px = np.ascontiguousarray(px, dtype=np.uint8)
    h, w = px.shape[:2]
    img = lib.avifImageCreate(w, h, 8, _YUV444)
    i = img.contents
    i.yuvRange = _RANGE_FULL
    if lossless:
        i.matrixCoefficients = _MC_IDENTITY
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[:, :, :3] = px[:, :, :3] if px.ndim == 3 else px[:, :, None]
    rgba[:, :, 3] = 255
    rgb = _RGBImage()
    lib.avifRGBImageSetDefaults(C.byref(rgb), img)
    rgb.depth = 8
    rgb.format = _RGBA
    rgb.pixels = rgba.ctypes.data_as(C.c_void_p)
    rgb.rowBytes = w * 4
    res = lib.avifImageRGBToYUV(img, C.byref(rgb))
    if res != 0:
        lib.avifImageDestroy(img)
        _check(lib, res, "RGBToYUV")
    return img


def _new_encoder(lib, *, lossless: bool, quality: int, speed: int):
    enc = lib.avifEncoderCreate()
    e = enc.contents
    e.maxThreads = 1
    e.speed = speed
    if lossless:
        e.minQuantizer = 0
        e.maxQuantizer = 0
    else:
        q = max(0, min(63, int(quality)))
        e.minQuantizer = q
        e.maxQuantizer = q
    return enc


def encode_rgb(
    px, *, lossless: bool = True, quality: int = 30, speed: int = 8
) -> bytes:
    """Encode one H×W×3 uint8 array as a still AVIF. ``lossless=True``
    (the default) roundtrips integer-exactly through
    :func:`decode_rgb`; ``quality`` is the AV1 quantizer (0 best, 63
    worst) when lossy."""
    lib = _encoder_lib()
    if lib is None:
        raise NotImplementedError(
            "AVIF encode requires the system libavif built with an AV1"
            " encoder (aom), which is not installed"
        )
    img = _image_from_rgb(lib, px, lossless=lossless)
    enc = _new_encoder(lib, lossless=lossless, quality=quality, speed=speed)
    out = _RWData()
    try:
        _check(lib, lib.avifEncoderWrite(enc, img, C.byref(out)), "Write")
        return C.string_at(out.data, out.size)
    finally:
        lib.avifRWDataFree(C.byref(out))
        lib.avifEncoderDestroy(enc)
        lib.avifImageDestroy(img)


def encode_frames(
    frames,
    *,
    fps: int = 10,
    lossless: bool = True,
    quality: int = 30,
    speed: int = 8,
) -> bytes:
    """Encode a list of H×W×3 uint8 arrays as an ANIMATED AVIF (an AV1
    image sequence in an ISOBMFF container with a real ``av01`` sample
    table — ``datapipe/mp4.py`` demuxes it like any MP4). Every frame
    is forced to a keyframe so each demuxed sample decodes
    independently (the property the per-sample video gate relies on).
    The output is byte-deterministic: the wall-clock box times libavif
    writes are zeroed (:func:`_zero_box_times`)."""
    lib = _encoder_lib()
    if lib is None:
        raise NotImplementedError(
            "AVIF encode requires the system libavif built with an AV1"
            " encoder (aom), which is not installed"
        )
    if not frames:
        raise ValueError("encode_frames needs at least one frame")
    enc = _new_encoder(lib, lossless=lossless, quality=quality, speed=speed)
    enc.contents.timescale = fps
    out = _RWData()
    imgs = []
    try:
        for px in frames:
            img = _image_from_rgb(lib, px, lossless=lossless)
            imgs.append(img)
            _check(
                lib,
                lib.avifEncoderAddImage(
                    enc, img, 1, _ADD_IMAGE_FORCE_KEYFRAME
                ),
                "AddImage",
            )
        _check(lib, lib.avifEncoderFinish(enc, C.byref(out)), "Finish")
        return _zero_box_times(C.string_at(out.data, out.size))
    finally:
        lib.avifRWDataFree(C.byref(out))
        lib.avifEncoderDestroy(enc)
        for img in imgs:
            lib.avifImageDestroy(img)


def _zero_box_times(payload: bytes) -> bytes:
    """``payload`` with the creation and modification times of every
    ``mvhd``, ``tkhd`` and ``mdhd`` box set to zero. libavif stamps them
    from the wall clock. In all three full boxes the two times follow the
    version/flags word: 32-bit each in version 0, 64-bit in version 1."""
    from .mp4 import _iter_boxes

    buf = bytearray(payload)

    def walk(start: int, end: int) -> None:
        for fourcc, s, e in _iter_boxes(buf, start, end):
            if fourcc in (b"moov", b"trak", b"mdia"):
                walk(s, e)
            elif fourcc in (b"mvhd", b"tkhd", b"mdhd"):
                width = 8 if buf[s] == 1 else 4
                buf[s + 4 : s + 4 + 2 * width] = bytes(2 * width)

    walk(0, len(buf))
    return bytes(buf)


def _box(fourcc: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _full(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
    import struct

    return _box(
        fourcc, struct.pack(">I", (version << 24) | flags) + payload
    )


def wrap_av1_sample(
    sample: bytes, av1c: bytes, width: int, height: int
) -> bytes:
    """Wrap ONE raw AV1 sample (the OBUs demuxed from an ``av01`` video
    track by ``datapipe/mp4.py``) in a minimal spec-correct STILL AVIF
    container, so the system decoder can decode it independently — the
    per-sample decode path for AV1 video. ``av1c`` is the track's
    ``av1C`` configuration-record payload, copied verbatim from the
    sample entry (public ISO/IEC 23008-12 + AV1-ISOBMFF structures)."""
    import struct

    ftyp = _box(b"ftyp", b"avif\x00\x00\x00\x00avifmif1miaf")
    hdlr = _full(
        b"hdlr", 0, 0,
        b"\x00\x00\x00\x00" + b"pict" + b"\x00" * 12 + b"\x00",
    )
    pitm = _full(b"pitm", 0, 0, struct.pack(">H", 1))
    infe = _full(
        b"infe", 2, 0, struct.pack(">HH", 1, 0) + b"av01" + b"\x00"
    )
    iinf = _full(b"iinf", 0, 0, struct.pack(">H", 1) + infe)
    ispe = _full(b"ispe", 0, 0, struct.pack(">II", width, height))
    pixi = _full(b"pixi", 0, 0, b"\x03\x08\x08\x08")
    ipco = _box(b"ipco", ispe + pixi + _box(b"av1C", av1c))
    # item 1 → properties 1 (ispe), 2 (pixi), 3 (av1C, essential)
    ipma = _full(
        b"ipma", 0, 0,
        struct.pack(">I", 1) + struct.pack(">HB", 1, 3)
        + bytes([0x01, 0x02, 0x80 | 0x03]),
    )
    iprp = _box(b"iprp", ipco + ipma)

    def _iloc(offset: int) -> bytes:
        # iloc version 0: offset_size/length_size nibbles (4/4),
        # base_offset_size 0, item_count, then per item: id u16,
        # dref u16, extent_count u16, [extent offset u32, length u32]
        return _full(
            b"iloc", 0, 0,
            bytes([0x44, 0x00])
            + struct.pack(">H", 1)
            + struct.pack(">HH", 1, 0)
            + struct.pack(">H", 1)
            + struct.pack(">II", offset, len(sample)),
        )

    # two passes: the extent offset depends on meta's own size, which
    # does not change when the placeholder offset is patched in
    meta = _full(b"meta", 0, 0, hdlr + pitm + _iloc(0) + iinf + iprp)
    data_off = len(ftyp) + len(meta) + 8
    meta = _full(
        b"meta", 0, 0, hdlr + pitm + _iloc(data_off) + iinf + iprp
    )
    return ftyp + meta + _box(b"mdat", sample)
