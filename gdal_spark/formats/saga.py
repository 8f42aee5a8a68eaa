"""SAGA GIS binary grid driver (.sgrd header + .sdat raster
[+ .prj]).

Reference semantics: frmts/saga/sagadataset.cpp (the published SAGA
grid format):

- the ``.sgrd`` header is ``KEY\\t= value`` text: DATAFORMAT (BIT /
  BYTE[_UNSIGNED] -> u8, SHORTINT[_UNSIGNED] -> i16/u16,
  INTEGER[_UNSIGNED] -> i32/u32, FLOAT -> f32, DOUBLE -> f64),
  BYTEORDER_BIG, CELLCOUNT_X/Y, CELLSIZE, DATAFILE_OFFSET,
  NODATA_VALUE, Z_FACTOR, TOPTOBOTTOM;
- POSITION_XMIN / POSITION_YMIN are the CENTER of the lower-left
  cell: ``gt0 = xmin - cell/2``,
  ``gt3 = ymin + (rows-1)*cell + cell/2`` (GetGeoTransform);
- rows are stored BOTTOM-UP (IReadBlock seeks
  ``(rows - y - 1) * cols``); grids marked ``TOPTOBOTTOM = TRUE``
  are rejected exactly like the reference, and Z_FACTOR != 1 too
  (the reference warns and misreads; rejecting by name is the
  honest Spark-side contract);
- the SRS rides a sibling ESRI ``.prj`` — resolved through the
  engine's WKT1 parser / UTM parameter match (shared with the EHdr
  driver).

Spark shape: header-planned one-task-per-grid scan, task-per-row
sink emitting the reference's header key set.
"""

from __future__ import annotations

import os

import numpy as np

from ._raw import read_raw, write_raw
from ._util import glob_paths, raster_row, scan_files, write_files

_DTYPES = {
    "BIT": "u1", "BYTE_UNSIGNED": "u1", "BYTE": "u1",
    "SHORTINT_UNSIGNED": "u2", "SHORTINT": "i2",
    "INTEGER_UNSIGNED": "u4", "INTEGER": "i4",
    "FLOAT": "f4", "DOUBLE": "f8",
}
_FORMAT_NAMES = {
    np.dtype(np.uint8): "BYTE_UNSIGNED",
    np.dtype(np.uint16): "SHORTINT_UNSIGNED",
    np.dtype(np.int16): "SHORTINT",
    np.dtype(np.uint32): "INTEGER_UNSIGNED",
    np.dtype(np.int32): "INTEGER",
    np.dtype(np.float32): "FLOAT",
    np.dtype(np.float64): "DOUBLE",
}


def parse_sgrd(text: str) -> dict:
    out = {}
    for line in text.splitlines():
        if "=" not in line:
            continue
        k, v = line.split("=", 1)
        out[k.strip().upper()] = v.strip()
    return out


def decode_saga(buf: bytes, hdr: dict):
    """(.sdat bytes, parsed .sgrd) -> (arr north-up, gt, nodata)."""
    fmt = hdr.get("DATAFORMAT", "FLOAT").upper()
    if fmt not in _DTYPES:
        raise ValueError(f"SAGA: unsupported DATAFORMAT {fmt!r}")
    if hdr.get("TOPTOBOTTOM", "FALSE").upper().startswith("TRUE"):
        raise ValueError("SAGA: TOPTOBOTTOM grids are not supported "
                         "(matches the reference driver)")
    z = float(hdr.get("Z_FACTOR", "1") or 1.0)
    if z != 1.0:
        raise ValueError(f"SAGA: Z_FACTOR {z} != 1 is not supported")
    w = int(hdr["CELLCOUNT_X"])
    h = int(hdr["CELLCOUNT_Y"])
    cell = float(hdr["CELLSIZE"])
    xmin = float(hdr.get("POSITION_XMIN", "0") or 0.0)
    ymin = float(hdr.get("POSITION_YMIN", "0") or 0.0)
    off = int(hdr.get("DATAFILE_OFFSET", "0") or 0)
    bo = ">" if hdr.get("BYTEORDER_BIG", "FALSE").upper().startswith(
        "TRUE") else "<"
    arr = read_raw(buf, bo + _DTYPES[fmt], w, h, 1, "bsq", off, bottom_up=True)
    gt = (xmin - cell * 0.5, cell, 0.0,
          ymin + (h - 1) * cell + cell * 0.5, 0.0, -cell)
    nodata = (float(hdr["NODATA_VALUE"])
              if hdr.get("NODATA_VALUE") else None)
    return arr, gt, nodata


def format_saga(arr: np.ndarray, gt, nodata=None, name: str = ""):
    """(array, geotransform) -> (.sdat bytes, .sgrd text) in the
    reference's header key order."""
    arr = np.asarray(arr)
    if arr.dtype not in _FORMAT_NAMES:
        raise ValueError(f"SAGA cannot hold dtype {arr.dtype}")
    if gt[2] != 0.0 or gt[4] != 0.0 or gt[5] >= 0 \
            or abs(gt[1] + gt[5]) > 1e-9 * abs(gt[1]):
        raise ValueError("SAGA grids need square north-up cells")
    h, w = arr.shape
    cell = gt[1]
    xmin = gt[0] + cell * 0.5
    ymin = gt[3] + (h - 0.5) * gt[5]
    nd = -99999.0 if nodata is None else float(nodata)
    hdr = "\n".join([
        f"NAME\t= {name}",
        "DESCRIPTION\t= ",
        "UNIT\t= ",
        "DATAFILE_OFFSET\t= 0",
        f"DATAFORMAT\t= {_FORMAT_NAMES[arr.dtype]}",
        "BYTEORDER_BIG\t= FALSE",
        f"POSITION_XMIN\t= {xmin:.10f}",
        f"POSITION_YMIN\t= {ymin:.10f}",
        f"CELLCOUNT_X\t= {w}",
        f"CELLCOUNT_Y\t= {h}",
        f"CELLSIZE\t= {cell:.10f}",
        "Z_FACTOR\t= 1.000000",
        f"NODATA_VALUE\t= {nd:f}",
        "TOPTOBOTTOM\t= FALSE",
    ]) + "\n"
    return write_raw(arr, arr.dtype.newbyteorder("<"),
                     bottom_up=True), hdr


def scan_saga(spark, path_glob: str):
    """Glob of .sdat files -> images-table rows; the driver reads
    only the tiny .sgrd/.prj texts, one task per grid."""
    from .ehdr import _srid_from_prj
    from .envi import OUT_SCHEMA

    tasks = []
    for p in glob_paths(path_glob,
                        keep=lambda p: p.lower().endswith(".sdat")):
        with open(os.path.splitext(p)[0] + ".sgrd") as f:
            tasks.append((p, f.read(), _srid_from_prj(p)))

    def read(r):
        with open(r.path, "rb") as f:
            arr, gt, nodata = decode_saga(f.read(), parse_sgrd(r.hdr))
        stem = os.path.splitext(os.path.basename(r.path))[0]
        return [raster_row(stem, arr, gt, int(r.srid), nodata)]

    return scan_files(spark, None, read, OUT_SCHEMA,
                      tasks=("path string, hdr string, srid int", tasks))


def write_saga(df, out_dir: str) -> list[str]:
    """Images-table rows -> one .sdat + .sgrd (+ .prj when the srid
    exports) per row, written by the task that holds the row."""
    def dump_row(r, arr, gt, nd, out_dir):
        from ..crs_wkt import export_wkt

        data, hdr = format_saga(arr, gt, nodata=nd, name=str(r.image_id))
        base = os.path.join(out_dir, str(r.image_id))
        with open(base + ".sdat", "wb") as f:
            f.write(data)
        with open(base + ".sgrd", "w") as f:
            f.write(hdr)
        srid = int(getattr(r, "srid", 0) or 0)
        if srid:
            try:
                wkt = export_wkt(srid)
            except ValueError:
                wkt = None
            if wkt:
                with open(base + ".prj", "w") as f:
                    f.write(wkt + "\n")
        return base + ".sdat"

    return write_files(df, out_dir, dump_row)
