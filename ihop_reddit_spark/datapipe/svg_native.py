"""ctypes bindings to the SYSTEM librsvg + cairo — REAL SVG
rasterization. SVG is the one major crawled-image format that is TEXT,
so fixtures need no encoder at all: the gate authors the markup and the
renderer must reproduce the planted fills pixel-exactly (axis-aligned
integer-coordinate rects have no anti-aliased interior, making the
closed-form oracle exact).

API shape mirrors the other native bindings (``webp_native``,
``avif_native``, ``heif_native``): capability probe + marked
``NotImplementedError`` boundary when the libraries are absent. The
only struct crossing the ABI is ``RsvgRectangle`` (four doubles —
public, stable since librsvg 2.46); cairo surfaces are opaque with
accessor functions, and the render is checked through
``cairo_status`` so a failed draw cannot silently yield zeros.

Pixel path: cairo ARGB32 is PREMULTIPLIED BGRA in native byte order;
:func:`render_rgb` un-composites over an opaque white page (the
browser default for standalone SVG) before returning H×W×3 RGB.

Scale shape: row-local C calls inside Arrow-batched ``mapInPandas``
stages, same as every other codec (zero shuffle, zero driver hops).
"""

from __future__ import annotations

import ctypes as C

from .native import load


class _Rect(C.Structure):
    _fields_ = [
        ("x", C.c_double),
        ("y", C.c_double),
        ("width", C.c_double),
        ("height", C.c_double),
    ]


_P = C.c_void_p
_FORMAT_ARGB32 = 0

_RSVG = ("rsvg-2", "librsvg-2.so.2")
_CAIRO = ("cairo", "libcairo.so.2")
_GOBJECT = ("gobject-2.0", "libgobject-2.0.so.0")


def _bind_rsvg(rsvg) -> bool:
    rsvg.rsvg_handle_new_from_data.restype = _P
    rsvg.rsvg_handle_new_from_data.argtypes = [
        C.c_char_p, C.c_size_t, C.POINTER(_P),
    ]
    rsvg.rsvg_handle_render_document.restype = C.c_int
    rsvg.rsvg_handle_render_document.argtypes = [
        _P, _P, C.POINTER(_Rect), C.POINTER(_P),
    ]
    rsvg.rsvg_handle_get_intrinsic_size_in_pixels.restype = C.c_int
    rsvg.rsvg_handle_get_intrinsic_size_in_pixels.argtypes = [
        _P, C.POINTER(C.c_double), C.POINTER(C.c_double),
    ]
    return True


def _bind_cairo(cairo) -> bool:
    cairo.cairo_image_surface_create.restype = _P
    cairo.cairo_image_surface_create.argtypes = [
        C.c_int, C.c_int, C.c_int,
    ]
    cairo.cairo_create.restype = _P
    cairo.cairo_create.argtypes = [_P]
    cairo.cairo_destroy.argtypes = [_P]
    cairo.cairo_surface_destroy.argtypes = [_P]
    cairo.cairo_surface_flush.argtypes = [_P]
    cairo.cairo_status.restype = C.c_int
    cairo.cairo_status.argtypes = [_P]
    cairo.cairo_image_surface_get_data.restype = C.POINTER(C.c_uint8)
    cairo.cairo_image_surface_get_data.argtypes = [_P]
    cairo.cairo_image_surface_get_stride.restype = C.c_int
    cairo.cairo_image_surface_get_stride.argtypes = [_P]
    return True


def _bind_gobject(gobj) -> bool:
    gobj.g_object_unref.argtypes = [_P]
    return True


def _libs():
    """(rsvg, cairo, gobject), or None unless all three bind."""
    libs = (
        load(_RSVG, _bind_rsvg),
        load(_CAIRO, _bind_cairo),
        load(_GOBJECT, _bind_gobject),
    )
    return libs if all(lib is not None for lib in libs) else None


def librsvg_available() -> bool:
    return _libs() is not None


def looks_like_svg(payload: bytes) -> bool:
    """Cheap sniff for the dispatch layer: XML prolog or a bare <svg
    root within the leading whitespace-trimmed bytes."""
    head = bytes(payload[:256]).lstrip()
    if head.startswith(b"<svg"):
        return True
    return head.startswith(b"<?xml") and b"<svg" in bytes(payload[:1024])


def render_rgb(payload: bytes, width: int | None = None,
               height: int | None = None):
    """Rasterize an SVG document to H×W×3 uint8 RGB over a white page.
    Default size is the document's intrinsic pixel size; passing
    ``width``/``height`` renders the whole document scaled into that
    viewport (vector content — no resampling artifacts beyond cairo's
    own anti-aliasing)."""
    import numpy as np

    libs = _libs()
    if libs is None:
        raise NotImplementedError(
            "SVG rasterization requires the system librsvg + cairo,"
            " which are not installed"
        )
    rsvg, cairo, gobj = libs
    data = bytes(payload)
    err = _P()
    handle = rsvg.rsvg_handle_new_from_data(data, len(data), C.byref(err))
    if not handle:
        raise ValueError("librsvg rejected the SVG document")
    surf = cr = None
    try:
        if width is None or height is None:
            wd, hd = C.c_double(), C.c_double()
            if not rsvg.rsvg_handle_get_intrinsic_size_in_pixels(
                handle, C.byref(wd), C.byref(hd)
            ):
                raise ValueError(
                    "SVG has no intrinsic pixel size; pass width/height"
                )
            width = width or int(round(wd.value))
            height = height or int(round(hd.value))
        if width <= 0 or height <= 0:
            raise ValueError(f"bad raster size {width}x{height}")
        surf = cairo.cairo_image_surface_create(
            _FORMAT_ARGB32, width, height
        )
        cr = cairo.cairo_create(surf)
        vp = _Rect(0.0, 0.0, float(width), float(height))
        ok = rsvg.rsvg_handle_render_document(
            handle, cr, C.byref(vp), C.byref(err)
        )
        status = cairo.cairo_status(cr)
        if not ok or status != 0:
            raise ValueError(
                f"SVG render failed (ok={ok}, cairo status {status})"
            )
        cairo.cairo_surface_flush(surf)
        ptr = cairo.cairo_image_surface_get_data(surf)
        stride = cairo.cairo_image_surface_get_stride(surf)
        raw = C.string_at(C.addressof(ptr.contents), stride * height)
        a = np.frombuffer(raw, np.uint8).reshape(
            height, stride // 4, 4
        )[:, :width].astype(np.uint16)
        # premultiplied BGRA over an opaque white page:
        # out = premul_color + (255 - alpha)
        alpha = a[:, :, 3]
        out = np.empty((height, width, 3), np.uint8)
        for dst, src in enumerate((2, 1, 0)):  # BGR -> RGB
            out[:, :, dst] = np.minimum(
                a[:, :, src] + (255 - alpha), 255
            ).astype(np.uint8)
        return out
    finally:
        if cr:
            cairo.cairo_destroy(cr)
        if surf:
            cairo.cairo_surface_destroy(surf)
        gobj.g_object_unref(handle)
