"""GDAL golden-output checksum, re-derived from alg/gdalchecksum.cpp:48-253.

    checksum = sum over pixels (row-major) of  int(px) % primes[i % 11]
    where i = y * width + x  (per band), masked to 16 bits.

- primes = {7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43}
- integer data: C '%' (remainder truncated toward zero, sign of dividend)
- float data: converted like GDALCopyWords float->Int32: v+0.5, clamp to
  [-2147483647, 2147483647], floor; non-finite -> INT_MIN
- the running &0xffff per line is equivalent to one final mask (addition
  is a homomorphism mod 2**16 in two's complement)

This is the per-tile correctness oracle used throughout tests (the same
role band.Checksum() plays in autotest, e.g.
autotest/pyscripts/test_gdal2tiles.py:85-124).
"""

from __future__ import annotations

import numpy as np

PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.int64)


def _int_from_double(a: np.ndarray) -> np.ndarray:
    out = np.full(a.shape, np.iinfo(np.int32).min, dtype=np.int64)
    finite = np.isfinite(a)
    v = a[finite] + 0.5
    r = np.where(
        v < -2147483647.0,
        -2147483647,
        np.where(v > 2147483647.0, 2147483647, np.floor(v)),
    ).astype(np.int64)
    out[finite] = r
    return out


# the pixel-index prime pattern per (h, w) is cached (tiles recur at a
# handful of shapes)
_IDX_CACHE: dict[tuple[int, int], np.ndarray] = {}
_PRIMES8 = PRIMES.astype(np.uint8)[:, None]


def _checksums_u8(arr: np.ndarray) -> list[int]:
    """uint8 (h, w, c) fast path. Row-major pixels laid out in rows of 11
    put every pixel of column j under prime j, so one broadcast uint8
    remainder serves all bands (the zero padding adds nothing). The int32
    sums may wrap on huge bands; the low 16 bits stay exact."""
    h, w, c = arr.shape
    flat = arr.reshape(h * w, c)
    pad = -(h * w) % 11
    if pad:
        flat = np.concatenate([flat, np.zeros((pad, c), dtype=np.uint8)])
    rem = np.remainder(flat.reshape(-1, 11, c), _PRIMES8)
    return [int(v) & 0xFFFF for v in rem.sum(axis=0, dtype=np.int32).sum(axis=0)]


def _idx11(h: int, w: int) -> np.ndarray:
    key = (h, w)
    g = _IDX_CACHE.get(key)
    if g is None:
        g = (np.arange(h * w, dtype=np.int64) % 11).reshape(h, w)
        if h * w <= (1 << 21) and len(_IDX_CACHE) < 64:
            _IDX_CACHE[key] = g
    return g


def gdal_checksum(band: np.ndarray) -> int:
    """Checksum of one 2-D band (any dtype). Matches GDALChecksumImage for a
    full-band window (nXOff=nYOff=0)."""
    band = np.asarray(band)
    if band.ndim != 2:
        raise ValueError("gdal_checksum expects a single 2-D band")
    h, w = band.shape
    if band.dtype == np.uint8:
        return _checksums_u8(band[:, :, None])[0]
    if band.dtype.kind == "f":
        vals = _int_from_double(band.astype(np.float64))
    else:
        vals = band.astype(np.int64)
    p = PRIMES[_idx11(h, w)]
    # C remainder: truncation toward zero (numpy % floors, so fix negatives)
    absrem = np.abs(vals) % p
    rem = np.where(vals >= 0, absrem, -absrem)
    return int(rem.sum()) & 0xFFFF


def image_checksums(arr: np.ndarray) -> list[int]:
    """Per-band checksums of an (h, w) or (h, w, c) array — one
    remainder pass for all bands of a uint8 image."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        return [gdal_checksum(arr)]
    if arr.dtype == np.uint8:
        return _checksums_u8(arr)
    return [gdal_checksum(arr[:, :, b]) for b in range(arr.shape[2])]
