"""NOAA .gtx vertical datum shift grid driver.

Reference semantics: frmts/raw/gtxdataset.cpp (the published NOAA
VDatum vertical-shift binary format):

- 40-byte BIG-ENDIAN header: latitude of origin (float64 — the
  CENTER of the lower-left cell), longitude of origin (float64,
  0..360), lat cell size, lon cell size (float64 each), rows and
  columns (int32 each);
- data is float32 big-endian (float64 when the file size says so),
  stored BOTTOM-UP: the first scanline is the southernmost row,
  west->east within a row — flipped to north-up on read;
- the corner-anchored geotransform shifts the center origin by half
  a cell and re-anchors at the top row
  (``gt3 = lat0 + dlat*(rows-1) + dlat/2``, ``gt5 = -dlat``);
- values are offsets in METRES between two vertical datums; the
  implicit nodata marker is -88.8888 (GTXRasterBand::GetNoDataValue).

:class:`VerticalShift` applies the grid the PROJ vgridshift way:
bilinear interpolation of the offset at (lon, lat) with nodata cells
poisoning the interpolation, ``h' = h + offset`` going source->target
(subtract to invert). Spark shape: one task per file (vertical grids
are single-subgrid and small); the applier is numpy-vectorized so it
rides Arrow-batched UDFs.
"""

from __future__ import annotations

import os
import struct

import numpy as np

from ._raw import read_raw, write_raw
from ._util import glob_paths, raster_row, scan_files, write_files

NODATA = -88.8888


def parse_gtx(buf: bytes):
    """.gtx bytes -> (arr (h, w) float32/float64 north-up, gt)."""
    if len(buf) < 40:
        raise ValueError("GTX: file shorter than the 40-byte header")
    lat0, lon0, dlat, dlon, rows, cols = struct.unpack(">ddddii",
                                                       buf[:40])
    if rows <= 0 or cols <= 0:
        raise ValueError(f"GTX: invalid dimensions {cols}x{rows}")
    n = rows * cols
    if len(buf) - 40 >= 8 * n:
        dtype = ">f8"
    elif len(buf) - 40 >= 4 * n:
        dtype = ">f4"
    else:
        raise ValueError("GTX: truncated data section")
    # stored bottom-up -> north-up
    arr = read_raw(buf, dtype, cols, rows, 1, "bsq", 40, bottom_up=True)
    gt = (lon0 - dlon * 0.5, dlon, 0.0,
          lat0 + dlat * (rows - 1) + dlat * 0.5, 0.0, -dlat)
    return arr, gt


def format_gtx(arr: np.ndarray, gt) -> bytes:
    """(h, w) array + corner-anchored north-up geotransform ->
    .gtx bytes (GTXDataset::Create + SetGeoTransform shape)."""
    arr = np.asarray(arr)
    if arr.ndim != 2:
        raise ValueError("GTX holds a single band")
    if gt[2] != 0.0 or gt[4] != 0.0 or gt[5] >= 0:
        raise ValueError("GTX needs an unrotated north-up geotransform")
    h, w = arr.shape
    lon0 = gt[0] + 0.5 * gt[1]
    lat0 = gt[3] + (h - 0.5) * gt[5]
    dtype = ">f8" if arr.dtype == np.float64 else ">f4"
    header = struct.pack(">ddddii", lat0, lon0, -gt[5], gt[1], h, w)
    return header + write_raw(arr, dtype, bottom_up=True)


def scan_gtx(spark, path_glob: str):
    """Glob of .gtx files -> images-table rows (srid 4326, nodata
    -88.8888), one task per file."""
    from .envi import OUT_SCHEMA

    def read(r):
        with open(r.path, "rb") as f:
            arr, gt = parse_gtx(f.read())
        stem = os.path.splitext(os.path.basename(r.path))[0]
        return [raster_row(stem, arr, gt, 4326, NODATA)]

    return scan_files(spark, glob_paths(path_glob), read, OUT_SCHEMA)


def write_gtx(df, out_dir: str) -> list[str]:
    """Images-table rows -> one .gtx per row, written by the task
    that holds the row."""
    def dump_row(r, arr, gt, nd, out_dir):
        if arr.dtype != np.float64:
            arr = arr.astype(np.float32)
        path = os.path.join(out_dir, f"{r.image_id}.gtx")
        with open(path, "wb") as f:
            f.write(format_gtx(arr, gt))
        return path

    return write_files(df, out_dir, dump_row)


class VerticalShift:
    """Apply a .gtx grid as a vertical datum transformation (PROJ
    vgridshift semantics): bilinear offset at (lon, lat), forward
    ``h' = h + offset``, inverse subtracts. Points outside the grid
    or touching a nodata cell pass through unshifted (offset 0).
    Longitudes are folded into the grid's 0..360 convention when the
    grid starts east of 180."""

    def __init__(self, arr: np.ndarray, gt, nodata: float = NODATA):
        self._arr = np.asarray(arr, dtype=np.float64)
        self._gt = tuple(float(v) for v in gt)
        self._nodata = float(nodata)

    def offsets(self, lon, lat):
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        gt = self._gt
        arr = self._arr
        h, w = arr.shape
        if gt[0] > 180.0:
            # grid in the 0..360 convention: fold western longitudes up
            lon = np.where(lon < gt[0], lon + 360.0, lon)
        fx = (lon - gt[0]) / gt[1] - 0.5
        fy = (lat - gt[3]) / gt[5] - 0.5
        out = np.zeros_like(lon)
        inside = ((fx >= -0.5) & (fx <= w - 0.5)
                  & (fy >= -0.5) & (fy <= h - 0.5))
        if not inside.any():
            return out
        x = np.clip(fx[inside], 0.0, w - 1.0)
        y = np.clip(fy[inside], 0.0, h - 1.0)
        x0 = np.floor(x).astype(np.int64)
        y0 = np.floor(y).astype(np.int64)
        x1 = np.minimum(x0 + 1, w - 1)
        y1 = np.minimum(y0 + 1, h - 1)
        tx, ty = x - x0, y - y0
        c00, c01 = arr[y0, x0], arr[y0, x1]
        c10, c11 = arr[y1, x0], arr[y1, x1]
        v = ((1 - tx) * (1 - ty) * c00 + tx * (1 - ty) * c01
             + (1 - tx) * ty * c10 + tx * ty * c11)
        bad = ((np.isclose(c00, self._nodata))
               | (np.isclose(c01, self._nodata))
               | (np.isclose(c10, self._nodata))
               | (np.isclose(c11, self._nodata)))
        v[bad] = 0.0
        out[inside] = v
        return out

    def forward(self, h, lon, lat):
        return np.asarray(h, dtype=np.float64) + self.offsets(lon, lat)

    def inverse(self, h, lon, lat):
        return np.asarray(h, dtype=np.float64) - self.offsets(lon, lat)
