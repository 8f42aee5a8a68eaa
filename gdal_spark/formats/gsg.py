"""Golden Software (Surfer) grid drivers: GSAG ASCII ``DSAA``, GSBG
Surfer-6 binary ``DSBB``, GS7BG Surfer-7 binary ``DSRB``.

Reference semantics: frmts/gsg/{gsagdataset,gsbgdataset,
gs7bgdataset}.cpp (the published Surfer grid formats):

- all three are PIXEL-IS-POINT grids: the header stores the min/max
  of the node COORDINATES, so ``cell = (maxX-minX)/(nx-1)`` and the
  corner-anchored geotransform subtracts half a cell
  (``gt0 = minX - cell/2``, gsbgdataset.cpp GetGeoTransform);
- node values are stored BOTTOM-UP (first row = southernmost) in
  all three containers — flipped to north-up on read;
- ``DSAA``: whitespace-separated text — nx ny / minX maxX /
  minY maxY / minZ maxZ, then nx*ny values (rows may wrap across
  physical lines); ``DSBB``: int16 nx, int16 ny, six float64
  min/max, float32 LE values; ``DSRB``: (tag, size) sections —
  the header section carries the version, the 72-byte ``GRID``
  section is int32 nRows, int32 nCols, xLL, yLL, xSize, ySize,
  zMin, zMax, rotation, blankValue (all float64), and the ``DATA``
  section holds nRows*nCols float64;
- the blank/nodata marker is 1.701410009187828e38 (the drivers'
  shared dfNODATA_VALUE); GS7BG rotation must be zero (the
  reference ignores it with a warning; here it is rejected by name);
- both binary dims must be >= 2 (a 1-node axis has no defined cell
  size) and GSBG dims fit int16 — the same bounds the reference's
  create-time checks enforce (autotest test_gsg_create_wrong_dims).

Spark shape: one task per file both ways (Surfer grids are
single-band artifacts); the sink is the usual task-per-row writer.
"""

from __future__ import annotations

import os
import struct

import numpy as np

from ._raw import read_raw, write_raw
from ._util import glob_paths, raster_row, scan_files, write_files

NODATA = 1.701410009187828e38
_GRID_TAG = 0x44495247  # 'GRID'
_DATA_TAG = 0x41544144  # 'DATA'


def _georef(nx, ny, min_x, max_x, min_y, max_y):
    dx = (max_x - min_x) / (nx - 1)
    dy = (max_y - min_y) / (ny - 1)
    return (min_x - dx * 0.5, dx, 0.0, max_y + dy * 0.5, 0.0, -dy)


def _bounds(arr, gt):
    h, w = arr.shape
    if gt[2] != 0.0 or gt[4] != 0.0 or gt[5] >= 0:
        raise ValueError("Surfer grids cannot be rotated")
    if w < 2 or h < 2:
        raise ValueError("Surfer grids need >= 2 nodes per axis")
    min_x = gt[0] + 0.5 * gt[1]
    max_x = gt[0] + (w - 0.5) * gt[1]
    max_y = gt[3] + 0.5 * gt[5]
    min_y = gt[3] + (h - 0.5) * gt[5]
    valid = arr[~np.isclose(arr, NODATA, rtol=1e-6)]
    z0 = float(valid.min()) if valid.size else 0.0
    z1 = float(valid.max()) if valid.size else 0.0
    return min_x, max_x, min_y, max_y, z0, z1


def parse_gsg(buf: bytes):
    """Any of the three Surfer containers -> (arr north-up, gt).
    dtype: float64 for DSAA/DSRB, float32 for DSBB."""
    magic = buf[:4]
    if magic == b"DSAA":
        toks = buf.decode("ascii", "replace").split()
        nx, ny = int(toks[1]), int(toks[2])
        min_x, max_x, min_y, max_y = (float(t) for t in toks[3:7])
        # toks[7:9] are minZ/maxZ — informational
        vals = np.array([float(t) for t in toks[9:9 + nx * ny]],
                        dtype=np.float64)
        if vals.size != nx * ny:
            raise ValueError("GSAG: truncated value section")
        arr = np.ascontiguousarray(vals.reshape(ny, nx)[::-1, :])
    elif magic == b"DSBB":
        nx, ny = struct.unpack("<hh", buf[4:8])
        min_x, max_x, min_y, max_y = struct.unpack("<dddd", buf[8:40])
        # buf[40:56] = minZ/maxZ
        arr = read_raw(buf, "<f4", nx, ny, 1, "bsq", 56, bottom_up=True)
    elif magic == b"DSRB":
        off = 4
        size = struct.unpack("<i", buf[off:off + 4])[0]
        off += 4 + size  # header section (version)
        while True:
            if off + 8 > len(buf):
                raise ValueError("GS7BG: no GRID section")
            tag, size = struct.unpack("<ii", buf[off:off + 8])
            off += 8
            if tag == _GRID_TAG:
                break
            off += size
        ny, nx = struct.unpack("<ii", buf[off:off + 8])
        (min_x, min_y, dx, dy, _z0, _z1, rot, _blank) = struct.unpack(
            "<dddddddd", buf[off + 8:off + 72])
        if rot != 0.0:
            raise ValueError("GS7BG: rotated grids are not supported")
        max_x = min_x + dx * (nx - 1)
        max_y = min_y + dy * (ny - 1)
        off += size
        tag, dsize = struct.unpack("<ii", buf[off:off + 8])
        if tag != _DATA_TAG:
            raise ValueError("GS7BG: GRID section not followed by DATA")
        arr = read_raw(buf, "<f8", nx, ny, 1, "bsq", off + 8,
                       bottom_up=True)
    else:
        raise ValueError("not a Surfer grid (DSAA/DSBB/DSRB)")
    if nx < 2 or ny < 2:
        raise ValueError("Surfer grids need >= 2 nodes per axis")
    return arr, _georef(nx, ny, min_x, max_x, min_y, max_y)


def format_gsag(arr: np.ndarray, gt) -> str:
    """North-up array + geotransform -> DSAA text (CreateCopy cell
    order: south row first, 10 values per line, blank line between
    rows)."""
    arr = np.asarray(arr, dtype=np.float64)
    min_x, max_x, min_y, max_y, z0, z1 = _bounds(arr, gt)

    def num(v: float) -> str:
        return repr(float(v)) if v != int(v) else str(int(v))

    lines = ["DSAA",
             f"{arr.shape[1]} {arr.shape[0]}",
             f"{num(min_x)} {num(max_x)}",
             f"{num(min_y)} {num(max_y)}",
             f"{num(z0)} {num(z1)}"]
    for row in arr[::-1, :]:
        for i in range(0, row.size, 10):
            lines.append(" ".join(num(v) for v in row[i:i + 10]))
        lines.append("")
    return "\n".join(lines) + "\n"


def format_gsbg(arr: np.ndarray, gt) -> bytes:
    """North-up array + geotransform -> Surfer-6 DSBB bytes."""
    arr = np.asarray(arr, dtype=np.float32)
    h, w = arr.shape
    if w > 32767 or h > 32767:
        raise ValueError("GSBG dimensions exceed int16")
    min_x, max_x, min_y, max_y, z0, z1 = _bounds(arr, gt)
    head = b"DSBB" + struct.pack("<hh", w, h) + struct.pack(
        "<dddddd", min_x, max_x, min_y, max_y, z0, z1)
    return head + write_raw(arr, "<f4", bottom_up=True)


def format_gs7bg(arr: np.ndarray, gt) -> bytes:
    """North-up array + geotransform -> Surfer-7 DSRB bytes."""
    arr = np.asarray(arr, dtype=np.float64)
    h, w = arr.shape
    min_x, max_x, min_y, max_y, z0, z1 = _bounds(arr, gt)
    dx = (max_x - min_x) / (w - 1)
    dy = (max_y - min_y) / (h - 1)
    out = [b"DSRB", struct.pack("<ii", 4, 1),
           struct.pack("<ii", _GRID_TAG, 72),
           struct.pack("<ii", h, w),
           struct.pack("<dddddddd", min_x, min_y, dx, dy, z0, z1,
                       0.0, NODATA),
           struct.pack("<ii", _DATA_TAG, 8 * w * h),
           write_raw(arr, "<f8", bottom_up=True)]
    return b"".join(out)


def scan_gsg(spark, path_glob: str, srid: int = 0):
    """Glob of Surfer .grd files (any of the three containers) ->
    images-table rows, one task per file. Surfer grids carry no CRS;
    pass ``srid`` when known."""
    from .envi import OUT_SCHEMA

    def read(r):
        with open(r.path, "rb") as f:
            arr, gt = parse_gsg(f.read())
        stem = os.path.splitext(os.path.basename(r.path))[0]
        return [raster_row(stem, arr, gt, int(srid), NODATA)]

    return scan_files(spark, glob_paths(path_glob), read, OUT_SCHEMA)


def write_gsg(df, out_dir: str, container: str = "gsbg") -> list[str]:
    """Images-table rows -> one .grd per row in the chosen container
    (``gsag`` / ``gsbg`` / ``gs7bg``), written by the task that holds
    the row."""
    if container not in ("gsag", "gsbg", "gs7bg"):
        raise ValueError(f"unknown Surfer container {container!r}")

    def dump_row(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.grd")
        if container == "gsag":
            data = format_gsag(arr, gt).encode("ascii")
        elif container == "gsbg":
            data = format_gsbg(arr, gt)
        else:
            data = format_gs7bg(arr, gt)
        with open(path, "wb") as f:
            f.write(data)
        return path

    return write_files(df, out_dir, dump_row)
