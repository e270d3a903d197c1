"""The one loader behind the ``*_native`` ctypes bindings (libwebp,
libtiff, libavif, libheif, librsvg + cairo + gobject).

Each binding module keeps its own ``bind(lib)`` body — argtypes and
restypes, plus whatever proves the library usable (avif's struct-layout
validation, heif's HEVC plugin probe, tiff's silenced error handlers);
this module owns the search and the cache. A library that is absent or
that its ``bind`` rejects makes :func:`load` return ``None``, and every
binding turns that into its marked ``NotImplementedError`` boundary.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import functools
from typing import Callable


@functools.cache
def load(
    candidates: tuple[str, ...], bind: Callable[[ctypes.CDLL], bool]
) -> ctypes.CDLL | None:
    """First library among ``candidates`` that opens and that ``bind``
    accepts, else ``None``. ``candidates[0]`` is the bare name for
    ``ctypes.util.find_library``; the rest are fallback sonames opened
    as given. ``bind(lib)`` rejects a candidate by returning a false
    value or by raising ``AttributeError`` (a missing symbol). Cached
    per ``(candidates, bind)``, so each library is searched, bound and
    validated once per process; ``load.cache_clear()`` forgets it."""
    for path in (ctypes.util.find_library(candidates[0]), *candidates[1:]):
        if not path:
            continue
        try:
            lib = ctypes.CDLL(path)
            if bind(lib):
                return lib
        except (OSError, AttributeError):
            continue
    return None
