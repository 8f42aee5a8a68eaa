"""PCRaster CSF-2 (.map) driver — the raster format of the PCRaster
environmental-modelling system.

Reference driver: frmts/pcraster/ over libcsf (implemented from the
published CSF 2.0 structure — no code taken; field offsets verified
byte-level against the autotest fixture):

- main header: 27-byte ``RUU CROSS SYSTEM MAP FORMAT`` signature in a
  32-byte space, version u16@32 (2), gisFileId u32@34, projection
  u16@38 (0 = y-increases-bottom-up, others y-decreasing — GDAL
  treats every file as north-up, support for y-increasing "has been
  dropped"), attrTable u32@40, mapType u16@44 (1 = raster), byteOrder
  u32@46 (1 = little-endian).
- raster header @64: valueScale u16 (VS_BOOLEAN 0xE0 / VS_NOMINAL
  0xE2 / VS_ORDINAL 0xF2 / VS_SCALAR 0xEB / VS_DIRECTION 0xFB /
  VS_LDD 0xF0), cellRepr u16 (CR_UINT1 0x00 / CR_INT4 0x26 / CR_REAL4
  0x5A / CR_INT2 0x15 / CR_UINT2 0x11 / CR_UINT4 0x22 / CR_REAL8
  0xDB), min/max as 8-byte fields holding the value in the cell
  representation with the remainder MV-filled, xUL/yUL REAL8 @84/@92,
  nrRows/nrCols u32 @100/@104, cellSize REAL8 @108 (+duplicate),
  angle REAL8 @124.
- cells start at offset 256, row-major top-down; missing values are
  the per-representation MV patterns (UINT1 255, INT4 INT32_MIN,
  REAL4/REAL8 all-ones-bits NaN, INT2 min, UINT2/UINT4 max).
- geotransform: (xUL, cellSize, 0, yUL, 0, -cellSize) — the ldd.map
  golden (182140, 10, 0, 327880, 0, -10), nodata 255 for UINT1.

Spark shape: one task per .map file into images-table rows; the sink
is task-per-row, writing version-2 little-endian files (UINT1 / INT4 /
REAL4 like the reference's CreateCopy set).
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd

from ._util import raster_row, schema_columns, write_files

OUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
    "gt5 double, srid int, nodata double"
)

_SIG = b"RUU CROSS SYSTEM MAP FORMAT"

VS_BOOLEAN, VS_NOMINAL, VS_ORDINAL = 0xE0, 0xE2, 0xF2
VS_SCALAR, VS_DIRECTION, VS_LDD = 0xEB, 0xFB, 0xF0

# cellRepr -> (numpy dtype, missing value); REAL4/REAL8 MVs are the
# all-ones bit patterns (NaN)
_REPRS = {
    0x00: ("<u1", 255),
    0x04: ("<i1", -128),
    0x15: ("<i2", -32768),
    0x11: ("<u2", 65535),
    0x26: ("<i4", -2147483648),
    0x22: ("<u4", 4294967295),
    0x5A: ("<f4", None),
    0xDB: ("<f8", None),
}


def parse_pcraster(data: bytes):
    """-> (float64 array with MVs as NaN, geotransform, nodata,
    value_scale, cell_repr)."""
    if data[:27] != _SIG:
        raise ValueError("not a PCRaster CSF file")
    byte_order = struct.unpack_from("<I", data, 46)[0]
    if byte_order != 1:
        raise ValueError(
            f"PCRaster: unsupported byte order {byte_order}"
        )
    map_type = struct.unpack_from("<H", data, 44)[0]
    if map_type != 1:
        raise ValueError(f"PCRaster: not a raster map ({map_type})")
    vs, cr = struct.unpack_from("<HH", data, 64)
    if cr not in _REPRS:
        raise ValueError(f"PCRaster: unknown cell representation {cr:#x}")
    dtype, mv = _REPRS[cr]
    xul, yul = struct.unpack_from("<dd", data, 84)
    rows, cols = struct.unpack_from("<II", data, 100)
    cell = struct.unpack_from("<d", data, 108)[0]
    raw = np.frombuffer(data, dtype=dtype, count=rows * cols,
                        offset=256).reshape(rows, cols)
    arr = raw.astype(np.float64)
    if mv is None:
        # all-ones bit pattern is NaN for IEEE floats — NaN stays NaN
        nodata = None
        arr = np.where(np.isnan(arr), np.nan, arr)
    else:
        nodata = float(mv)
        arr = np.where(raw == mv, np.nan, arr)
    gt = (xul, cell, 0.0, yul, 0.0, -cell)
    return arr, gt, nodata, vs, cr


def format_pcraster(arr: np.ndarray, gt,
                    value_scale: int = VS_SCALAR,
                    cell_repr: int | None = None) -> bytes:
    """Version-2 little-endian writer. Default representation follows
    the reference's CreateCopy set: VS_SCALAR -> REAL4,
    VS_BOOLEAN/VS_LDD -> UINT1, VS_NOMINAL/VS_ORDINAL -> INT4."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a[:, :, 0]
    h, w = a.shape
    if gt[2] != 0 or gt[4] != 0 or gt[5] >= 0:
        raise ValueError("PCRaster requires a north-up, unrotated grid")
    if abs(abs(gt[1]) - abs(gt[5])) > 1e-12:
        raise ValueError("PCRaster requires square cells")
    if cell_repr is None:
        cell_repr = {VS_BOOLEAN: 0x00, VS_LDD: 0x00, VS_NOMINAL: 0x26,
                     VS_ORDINAL: 0x26}.get(value_scale, 0x5A)
    dtype, mv = _REPRS[cell_repr]
    itemsize = np.dtype(dtype).itemsize
    mask = np.isnan(a)
    valid = a[~mask]
    if mv is None:
        body = a.astype(dtype)
        # MV is the all-ones bit pattern
        body_bytes = bytearray(body.tobytes())
        flat_mask = mask.ravel()
        for i in np.flatnonzero(flat_mask):
            body_bytes[i * itemsize:(i + 1) * itemsize] = (
                b"\xff" * itemsize
            )
        body_bytes = bytes(body_bytes)
    else:
        body_bytes = np.where(mask, mv, a).astype(dtype).tobytes()

    def cell_field(v: float) -> bytes:
        raw = np.array([v], dtype=dtype).tobytes()
        return raw + b"\xff" * (8 - len(raw))

    vmin = float(valid.min()) if valid.size else 0.0
    vmax = float(valid.max()) if valid.size else 0.0
    hdr = bytearray(256)
    hdr[0:27] = _SIG
    struct.pack_into("<H", hdr, 32, 2)        # version
    struct.pack_into("<I", hdr, 34, 0)        # gisFileId
    struct.pack_into("<H", hdr, 38, 1)        # projection (y-dec)
    struct.pack_into("<I", hdr, 40, 0)        # attrTable
    struct.pack_into("<H", hdr, 44, 1)        # mapType raster
    struct.pack_into("<I", hdr, 46, 1)        # byteOrder LE
    struct.pack_into("<HH", hdr, 64, value_scale, cell_repr)
    hdr[68:76] = cell_field(vmin)
    hdr[76:84] = cell_field(vmax)
    struct.pack_into("<dd", hdr, 84, float(gt[0]), float(gt[3]))
    struct.pack_into("<II", hdr, 100, h, w)
    struct.pack_into("<ddd", hdr, 108, float(gt[1]), float(gt[1]), 0.0)
    return bytes(hdr) + body_bytes


def scan_pcraster(spark, path_glob: str, srid: int = 0):
    """Glob of .map files -> images-table rows (one task per file)."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr, gt, nodata, _vs, _cr = parse_pcraster(
                    bytes(r.content)
                )
                rows.append(raster_row(
                    os.path.splitext(os.path.basename(r.path))[0],
                    arr, gt, srid, nodata))
            yield pd.DataFrame(rows, columns=schema_columns(OUT_SCHEMA))

    return (
        spark.read.format("binaryFile").load(path_glob)
        .select("path", "content")
        .mapInPandas(parse, schema=OUT_SCHEMA)
    )


def write_pcraster(df, out_dir: str, value_scale: int = VS_SCALAR,
                   cell_repr: int | None = None):
    """One .map file per row, task-written."""
    def dump_row(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.map")
        with open(path, "wb") as f:
            f.write(format_pcraster(np.squeeze(arr), gt,
                                    value_scale, cell_repr))
        return path

    return write_files(df, out_dir, dump_row)
