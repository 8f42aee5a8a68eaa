"""Idrisi / TerrSet raster driver (.rst + .rdc documentation file).

Reference semantics: frmts/idrisi/IdrisiDataset.cpp (the published
Idrisi Raster A.1 format):

- the ``.rdc`` companion is ``key : value`` text with 12-character
  keys (including the backtick spellings ``pos`n error`` /
  ``flag def`n``); the raster is raw little-endian with rows stored
  TOP-DOWN (block offset = row * record size — no flip);
- ``data type``: ``byte`` (u8), ``integer`` (i16), ``real`` (f32),
  ``rgb24`` (3 bytes/pixel stored B,G,R — IReadBlock reads band n
  at byte ``3 - n`` of each pixel);
- georef is PIXEL-IS-AREA: ``gt0 = minX*unit``, ``gt3 = maxY*unit``,
  ``gt1 = (maxX-minX)/cols``, ``gt5 = (minY-maxY)/rows`` (divide by
  the cell count, unlike the Surfer node convention);
- ``flag value`` is the nodata marker unless ``none``;
- ``ref. system``: ``latlong`` -> 4326, ``utm-{zone}{n|s}`` -> the
  EPSG UTM srid, ``plane``/named .ref systems -> unknown (0).

Spark shape: one task per (.rst, .rdc) pair planned from the tiny
.rdc texts driver-side; the sink is the usual task-per-row writer
emitting the reference's CreateCopy key set.
"""

from __future__ import annotations

import os
import re

import numpy as np

from ._raw import read_raw, write_raw
from ._util import glob_paths, raster_row, scan_files, write_files

_DTYPES = {"byte": "u1", "integer": "<i2", "real": "<f4"}
_DTYPE_NAMES = {np.dtype(np.uint8): "byte", np.dtype(np.int16): "integer",
                np.dtype(np.float32): "real"}


def parse_rdc(text: str) -> dict:
    """.rdc text -> {key: value} with keys whitespace-normalized."""
    out = {}
    for line in text.splitlines():
        if ":" not in line:
            continue
        k, v = line.split(":", 1)
        out[" ".join(k.split()).lower()] = v.strip()
    return out


def _ref_srid(ref_system: str) -> int:
    rs = ref_system.strip().lower()
    if rs == "latlong":
        return 4326
    m = re.fullmatch(r"utm-(\d{1,2})([ns])", rs)
    if m:
        zone = int(m.group(1))
        return (32600 if m.group(2) == "n" else 32700) + zone
    return 0


def decode_rst(buf: bytes, rdc: dict):
    """(.rst bytes, parsed .rdc) -> (arr, gt, srid, nodata). rgb24
    yields (h, w, 3) uint8 in R,G,B band order."""
    dt = rdc.get("data type", "").lower()
    w = int(rdc["columns"])
    h = int(rdc["rows"])
    unit = float(rdc.get("unit dist.", "1") or 1.0)
    min_x = float(rdc["min. x"]) * unit
    max_x = float(rdc["max. x"]) * unit
    min_y = float(rdc["min. y"]) * unit
    max_y = float(rdc["max. y"]) * unit
    gt = (min_x, (max_x - min_x) / w, 0.0,
          max_y, 0.0, (min_y - max_y) / h)
    srid = _ref_srid(rdc.get("ref. system", ""))
    flag = rdc.get("flag value", "none").lower()
    nodata = None if flag in ("none", "") else float(flag)
    if dt == "rgb24":
        arr = np.ascontiguousarray(
            read_raw(buf, "u1", w, h, 3, "bip")[:, :, ::-1])  # BGR -> RGB
    elif dt in _DTYPES:
        arr = read_raw(buf, _DTYPES[dt], w, h, 1, "bsq")
    else:
        raise ValueError(f"RST: unknown data type {dt!r}")
    return arr, gt, srid, nodata


def format_rst(arr: np.ndarray, gt, srid: int = 0, nodata=None,
               title: str = ""):
    """(array, geotransform) -> (.rst bytes, .rdc text) in the
    reference's CreateCopy key order. rgb24 input is (h, w, 3) RGB."""
    arr = np.asarray(arr)
    if gt[2] != 0.0 or gt[4] != 0.0:
        raise ValueError("Idrisi rasters cannot be rotated")
    if arr.ndim == 3:
        if arr.shape[2] != 3 or arr.dtype != np.uint8:
            raise ValueError("RST rgb24 needs (h, w, 3) uint8")
        dt = "rgb24"
        data = write_raw(arr[:, :, ::-1], "u1", "bip")
        vmin, vmax = float(arr.min()), float(arr.max())
    else:
        if arr.dtype not in _DTYPE_NAMES:
            raise ValueError(f"RST cannot hold dtype {arr.dtype}")
        dt = _DTYPE_NAMES[arr.dtype]
        data = write_raw(arr, arr.dtype.newbyteorder("<"))
        vmin, vmax = float(arr.min()), float(arr.max())
    h, w = arr.shape[:2]
    min_x, max_x = gt[0], gt[0] + gt[1] * w
    max_y, min_y = gt[3], gt[3] + gt[5] * h
    if srid == 4326:
        ref_sys, ref_units = "latlong", "deg"
    elif 32601 <= srid <= 32660:
        ref_sys, ref_units = f"utm-{srid - 32600}n", "m"
    elif 32701 <= srid <= 32760:
        ref_sys, ref_units = f"utm-{srid - 32700}s", "m"
    else:
        ref_sys, ref_units = "plane", "m"

    def num(v: float) -> str:
        return f"{v:.7f}"

    flag = "none" if nodata is None else repr(float(nodata))
    rdc = "\n".join([
        "file format : IDRISI Raster A.1",
        f"file title  : {title}",
        f"data type   : {dt}",
        "file type   : binary",
        f"columns     : {w}",
        f"rows        : {h}",
        f"ref. system : {ref_sys}",
        f"ref. units  : {ref_units}",
        "unit dist.  : 1.0000000",
        f"min. X      : {num(min_x)}",
        f"max. X      : {num(max_x)}",
        f"min. Y      : {num(min_y)}",
        f"max. Y      : {num(max_y)}",
        "pos`n error : unknown",
        "resolution  : unknown",
        f"min. value  : {vmin:g}",
        f"max. value  : {vmax:g}",
        f"display min : {vmin:g}",
        f"display max : {vmax:g}",
        "value units : unspecified",
        "value error : unknown",
        f"flag value  : {flag}",
        "flag def`n  : " + ("none" if nodata is None else "missing data"),
        "legend cats : 0",
    ]) + "\n"
    return data, rdc


def scan_rst(spark, path_glob: str):
    """Glob of .rst files -> images-table rows (rgb24 as (h, w, 3)
    RGB cubes), one task per file; the driver reads only the tiny
    .rdc texts."""
    from .envi import OUT_SCHEMA

    tasks = []
    for p in glob_paths(path_glob,
                        keep=lambda p: p.lower().endswith(".rst")):
        with open(os.path.splitext(p)[0] + ".rdc") as f:
            tasks.append((p, f.read()))

    def read(r):
        with open(r.path, "rb") as f:
            arr, gt, srid, nodata = decode_rst(f.read(), parse_rdc(r.rdc))
        stem = os.path.splitext(os.path.basename(r.path))[0]
        return [raster_row(stem, arr, gt, srid, nodata)]

    return scan_files(spark, None, read, OUT_SCHEMA,
                      tasks=("path string, rdc string", tasks))


def write_rst(df, out_dir: str) -> list[str]:
    """Images-table rows -> one .rst + .rdc pair per row, written by
    the task that holds the row."""
    def dump_row(r, arr, gt, nd, out_dir):
        data, rdc = format_rst(
            arr, gt, srid=int(getattr(r, "srid", 0) or 0),
            nodata=nd, title=str(r.image_id))
        base = os.path.join(out_dir, str(r.image_id))
        with open(base + ".rst", "wb") as f:
            f.write(data)
        with open(base + ".rdc", "w") as f:
            f.write(rdc)
        return base + ".rst"

    return write_files(df, out_dir, dump_row)
