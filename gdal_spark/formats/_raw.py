"""Raw-layout raster bands: the one place ``formats/`` turns bytes laid
out at fixed strides into arrays and back. The analog of GDAL's
``RawRasterBand`` (frmts/raw/rawdataset.cpp; semantics only).

A band is addressed by three byte counts, as in RawRasterBand: the
``image_offset`` of its first pixel (row 0, column 0), the
``pixel_offset`` between neighbouring columns and the ``line_offset``
between neighbouring rows. BSQ/BIL/BIP cubes, record prefixes and
suffixes, per-channel offsets and sub-windows are all choices of those
three; a negative ``line_offset`` reads rows bottom-up. The dtype
carries the byte order, and every read returns a native-order C copy.
Bytes past the end of the data read as zero (RawRasterBand's
short-file rule): a driver that must reject a short file checks the
length itself before the call.
"""

from __future__ import annotations

import numpy as np

# (line, pixel, band) strides of an (nb, h, w) cube, in items
_STRIDES = {
    "bsq": lambda w, h, nb: (w, 1, w * h),
    "bil": lambda w, h, nb: (w * nb, 1, w),
    "bip": lambda w, h, nb: (w * nb, nb, 1),
}
# axis order that lays an (h, w, nb) array out as each layout
_AXES = {"bsq": (2, 0, 1), "bil": (0, 2, 1), "bip": (0, 1, 2)}


def _layout(layout: str) -> str:
    il = layout.lower()
    if il not in _AXES:
        raise ValueError(f"interleave {layout!r} unsupported")
    return il


def read_band(data, dtype, w: int, h: int, image_offset: int = 0,
              pixel_offset: int | None = None,
              line_offset: int | None = None, nb: int = 1,
              band_offset: int = 0) -> np.ndarray:
    """Bytes -> native-order (h, w) array of the band whose pixel
    (row, col) sits at ``image_offset + row * line_offset + col *
    pixel_offset`` (defaults: packed pixels, packed rows). With
    ``nb > 1``, ``nb`` such bands ``band_offset`` bytes apart come
    back as (h, w, nb). One strided view of ``data``, then one copy."""
    dt = np.dtype(dtype)
    if pixel_offset is None:
        pixel_offset = dt.itemsize
    if line_offset is None:
        line_offset = w * pixel_offset
    shape = (h, w, nb)
    strides = (line_offset, pixel_offset, band_offset)
    out = np.zeros(shape, dt.newbyteorder("="))
    if out.size:
        spans = [(n - 1) * s for n, s in zip(shape, strides)]
        lo = image_offset + sum(min(0, s) for s in spans)
        hi = image_offset + sum(max(0, s) for s in spans) + dt.itemsize
        if lo < 0:
            raise ValueError(f"raw band starts {-lo} bytes before its data")
        offset = image_offset
        if hi > len(data):
            avail = data[lo:hi]
            pad = bytearray(hi - lo)
            pad[:len(avail)] = avail
            data, offset = pad, image_offset - lo
        out[...] = np.ndarray(shape, dt, buffer=data, offset=offset,
                              strides=strides)
    return out[:, :, 0] if nb == 1 else out


def read_raw(data, dtype, w: int, h: int, nb: int, layout: str,
             offset: int = 0, bottom_up: bool = False) -> np.ndarray:
    """A packed BSQ/BIL/BIP cube starting at byte ``offset`` ->
    native-order (h, w) for one band, else (h, w, nb). ``bottom_up``
    reads a cube whose first stored row is the southernmost."""
    isz = np.dtype(dtype).itemsize
    line, pixel, band = (isz * s for s in _STRIDES[_layout(layout)](
        w, h, nb))
    if bottom_up:
        offset, line = offset + (h - 1) * line, -line
    return read_band(data, dtype, w, h, offset, pixel, line, nb, band)


def write_raw(arr, dtype, layout: str = "bsq",
              bottom_up: bool = False) -> bytes:
    """(h, w) or (h, w, nb) array -> the bytes of a packed cube in
    ``layout``, each item cast to ``dtype`` (which carries the byte
    order); ``bottom_up`` stores the last row first."""
    a = np.asarray(arr)
    if a.ndim == 2:
        a = a[:, :, None]
    if bottom_up:
        a = a[::-1]
    return a.transpose(_AXES[_layout(layout)]).astype(
        dtype, copy=False).tobytes()
