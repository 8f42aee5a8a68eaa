"""Generic CEOS (Committee on Earth Observation Satellites) image
read driver.

Reference semantics: frmts/ceos/ceosopen.c — re-derived from the
published CEOS superstructure format: 12-byte record prefixes
(record number, type code, length — all u32 big-endian), an image
file descriptor record (type 0x3FC01212, rejecting the
``CEOS-SAR-CCT`` SAR flavor like the reference's generic driver)
whose ASCII integer fields carry the layout — image record
count/length @180/@186, bits per pixel @216, bands @232, lines
@236, pixels @248, per-record prefix/suffix bytes @276/@288 — and
band-interleaved-by-line image records: band b of line l starts at
``fdr_len + (l·bands + b)·rec_len + 12 + prefix``. Truncated
transfers (common for CEOS tapes) zero-fill missing lines, as the
reference's scanline reads do.

Spark shape: one task per file; windowed reads avoid materializing
truncated tape declarations.
"""

from __future__ import annotations

import os

import numpy as np

from ._raw import read_band
from ._util import glob_paths, raster_row, scan_files

CRT_IMAGE_FDR = 0x3FC01212


def _ascii_int(b, default=0):
    s = bytes(b).decode("latin-1").strip()
    try:
        return int(s)
    except ValueError:
        return default


def parse_ceos_header(buf: bytes):
    """CEOS imagery bytes -> layout dict."""
    if len(buf) < 12:
        raise ValueError("CEOS: too short")
    # the reference's endianness probe: a nonzero leading byte means
    # the record number/length words are little-endian
    little = buf[0] != 0 or buf[1] != 0
    rectype = int.from_bytes(buf[4:8], "big")
    reclen = int.from_bytes(buf[8:12], "little" if little
                            else "big")
    if rectype != CRT_IMAGE_FDR:
        raise ValueError(f"CEOS: record type {rectype:#x} is not an "
                         "image file descriptor")
    # field offsets are relative to the RECORD START (the reference
    # keeps the 12-byte prefix inside pachData)
    if buf[16:28] == b"CEOS-SAR-CCT":
        raise ValueError("CEOS: SAR CCT flavor (use a SAR driver)")
    h = {
        "fdr_len": reclen,
        "rec_count": _ascii_int(buf[180:186]),
        "rec_len": _ascii_int(buf[186:192]),
        "bits": _ascii_int(buf[216:220]),
        "bands": max(1, _ascii_int(buf[232:236])),
        "lines": _ascii_int(buf[236:244]),
        "pixels": _ascii_int(buf[248:256]),
        "prefix": _ascii_int(buf[276:280]),
        "suffix": _ascii_int(buf[288:292]),
    }
    if h["rec_len"] <= 0 or h["pixels"] <= 0 or h["lines"] <= 0:
        raise ValueError("CEOS: implausible layout")
    return h


def read_ceos_window(buf: bytes, band: int, y0: int, ny: int,
                     x0: int = 0, nx: int | None = None):
    """1-based band + line window -> (ny, nx) array (zero-filled
    where the transfer is truncated)."""
    h = parse_ceos_header(buf)
    if nx is None:
        nx = h["pixels"] - x0
    bpp = h["bits"] // 8
    dt = {1: np.uint8, 2: np.dtype(">u2")}.get(bpp, np.uint8)
    # one record per (line, band) after the descriptor record; pixels
    # follow the 12-byte record header and the prefix
    line_stride = h["bands"] * h["rec_len"]
    off = (h["fdr_len"] + (band - 1) * h["rec_len"] + y0 * line_stride
           + 12 + h["prefix"] + x0 * bpp)
    return read_band(buf, dt, nx, ny, off, np.dtype(dt).itemsize,
                     line_stride)


def scan_ceos(spark, path_glob: str, max_lines: int = 0):
    """Glob of CEOS imagery files -> images-table rows (one per
    band); max_lines caps materialization for truncated tapes."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, band int, declared_lines int, "
              "source string")

    def read(r):
        with open(r.path, "rb") as f:
            buf = f.read()
        stem = os.path.basename(r.path)
        h = parse_ceos_header(buf)
        avail = max(
            0, (len(buf) - h["fdr_len"]) //
            (h["bands"] * h["rec_len"]))
        ny = min(h["lines"], avail + 1)
        if max_lines:
            ny = min(ny, max_lines)
        return [raster_row(f"{stem}#{b}", read_ceos_window(buf, b, 0, ny),
                           None, None, band=b,
                           declared_lines=h["lines"], source=stem)
                for b in range(1, h["bands"] + 1)]

    return scan_files(spark, glob_paths(path_glob), read, schema)
