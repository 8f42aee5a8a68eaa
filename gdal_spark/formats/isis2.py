"""USGS ISIS2 cube driver (PDS-labelled ISIS `QUBE` objects).

Reference semantics: frmts/pds/isis2dataset.cpp over the engine's
shared from-scratch PVL parser (formats.pds.parse_label):

- ``^QUBE`` pointer spellings: record number, ``n <BYTES>``,
  ``"file.img"`` detached, ``("file.img", n[<BYTES>])`` — scaled by
  top-level RECORD_BYTES unless ``<BYTES>``;
- dims from ``QUBE.CORE_ITEMS = (ns, nl, nb)``;
  ``QUBE.SUFFIX_ITEMS`` must be (0,0,0) (no side/backplanes — the
  reference refuses them);
- ``AXIS_NAME`` (SAMPLE,LINE,BAND) -> BSQ, (BAND,LINE,SAMPLE) ->
  BIP, (SAMPLE,BAND,LINE) or absent -> treated BSQ (the reference's
  exact election);
- dtype from CORE_ITEM_BYTES 1/2/4/8 with UNSIGNED in
  CORE_ITEM_TYPE for u2; PC_* types little-endian, everything else
  (SUN_*, MAC_*, VAX_INTEGER spellings) big-endian;
- nodata: 0 (byte), -32768 (int16), 0 (uint16),
  -3.4028226550889044521e38 (float32/64) — the driver's NULL1/2/3;
- CORE_BASE / CORE_MULTIPLIER carried as band offset/scale
  ("true_value = base + multiplier * stored_value");
- georef from QUBE.IMAGE_MAP_PROJECTION with the reference's exact
  FLOAT32 rounding: ``dim = float32(MAP_SCALE * 1000)``,
  ``gt0 = float32(SAMPLE_PROJECTION_OFFSET) * dim - dim/2`` (no
  sign flip — ISIS2 differs from PDS3 here; pinned by the autotest
  arvidson gt golden at 1e-8), ``dim_y`` negative;
- truncated cubes zero-fill past EOF (RawRasterBand semantics);
  projection/target/radii carried as structured metadata.

Spark shape: one task per label both ways; the sink is the usual
task-per-row writer emitting attached BSQ MSB cubes.
"""

from __future__ import annotations

import os
import re

import numpy as np

from ._raw import read_raw, write_raw
from ._util import glob_paths, raster_row, scan_files, write_files
from .pds import _find_ci, parse_label

NULL1 = 0.0
NULL2 = -32768.0
NULL3 = -3.4028226550889044521e38


def _sub(kv, key, idx, default=""):
    v = kv.get(key, "")
    if not v.startswith("("):
        return v if idx == 1 else default
    parts = v.strip("()").split(",")
    return parts[idx - 1].strip() if idx <= len(parts) else default


def parse_isis2(buf: bytes, label_path: str = ""):
    """ISIS2 cube bytes -> (arr north-up (h, w[, nb]) native dtype,
    gt-or-None, nodata, scale, offset, proj string)."""
    text = buf.decode("ascii", "replace")
    kv = parse_label(text)
    ptr = kv.get("^QUBE")
    if ptr is None or "QUBE.CORE_ITEMS" not in kv:
        raise ValueError("not an ISIS2 cube (no ^QUBE/QUBE)")

    record_bytes = int(float(kv.get("RECORD_BYTES", "0") or "0"))
    data = buf
    skip = 0
    ptr = ptr.strip()
    if ptr.startswith('"') or ptr.startswith("'"):
        name = ptr.strip("\"'")
        path = _find_ci(os.path.dirname(label_path), name)
        with open(path, "rb") as f:
            data = f.read()
    elif ptr.startswith("("):
        inner = ptr.strip("()").split(",")
        name = inner[0].strip().strip("\"'")
        path = _find_ci(os.path.dirname(label_path), name)
        with open(path, "rb") as f:
            data = f.read()
        if len(inner) > 1:
            loc = inner[1].strip()
            n = int(re.sub(r"[^0-9-]", "", loc) or "1")
            skip = (n - 1) if "<BYTES>" in loc.upper() else (
                (n - 1) * record_bytes)
    else:
        n = int(re.sub(r"[^0-9-]", "", ptr) or "0")
        if n > 0:
            skip = (n - 1) if "<BYTES>" in ptr.upper() else (
                (n - 1) * record_bytes)

    for i in (1, 2, 3):
        if int(_sub(kv, "QUBE.SUFFIX_ITEMS", i, "0") or "0") != 0:
            raise ValueError("ISIS2: side/backplanes not supported")

    axis = kv.get("QUBE.AXIS_NAME", "").replace(" ", "").upper()
    if axis in ("", "(SAMPLE,LINE,BAND)", "(SAMPLE,BAND,LINE)"):
        org = "BSQ"
    elif axis == "(BAND,LINE,SAMPLE)":
        org = "BIP"
    else:
        raise ValueError(f"ISIS2: unsupported AXIS_NAME {axis}")

    ns = int(_sub(kv, "QUBE.CORE_ITEMS", 1))
    nl = int(_sub(kv, "QUBE.CORE_ITEMS", 2))
    nb = int(_sub(kv, "QUBE.CORE_ITEMS", 3) or "1")
    itype = int(float(kv.get("QUBE.CORE_ITEM_BYTES", "1")))
    ctype = kv.get("QUBE.CORE_ITEM_TYPE", "").strip("\"'").upper()
    endian = "<" if ctype.startswith("PC_") else ">"
    if itype == 1:
        code, nodata = "u1", NULL1
    elif itype == 2:
        if "UNSIGNED" in ctype:
            code, nodata = "u2", 0.0
        else:
            code, nodata = "i2", NULL2
    elif itype == 4:
        code, nodata = "f4", NULL3
    elif itype == 8:
        code, nodata = "f8", NULL3
    else:
        raise ValueError(f"ISIS2: CORE_ITEM_BYTES {itype} unsupported")

    arr = read_raw(data, endian + code, ns, nl, nb, org, skip)

    pfx = "QUBE.IMAGE_MAP_PROJECTION."
    gt = None
    sv = kv.get(pfx + "MAP_SCALE", "")
    if sv:
        dim = float(np.float32(float(sv.split()[0]) * 1000.0))
        dim_y = float(np.float32(float(sv.split()[0]) * 1000.0 * -1))
        samp = kv.get(pfx + "SAMPLE_PROJECTION_OFFSET", "")
        line = kv.get(pfx + "LINE_PROJECTION_OFFSET", "")
        if samp and line:
            ulx = float(np.float32(float(samp))) * dim - dim / 2.0
            uly = float(np.float32(float(line))) * dim_y - dim_y / 2.0
            gt = (ulx, dim, 0.0, uly, 0.0, dim_y)
    proj = "|".join([
        kv.get(pfx + "MAP_PROJECTION_TYPE", "").strip("\"'"),
        kv.get("QUBE.TARGET_NAME", "").strip("\"'"),
        kv.get(pfx + "A_AXIS_RADIUS", "").strip(),
        kv.get(pfx + "C_AXIS_RADIUS", "").strip(),
        kv.get(pfx + "CENTER_LONGITUDE", "").strip(),
        kv.get(pfx + "CENTER_LATITUDE", "").strip(),
        kv.get(pfx + "FIRST_STANDARD_PARALLEL", "").strip(),
    ])
    scale = float(kv.get("QUBE.CORE_MULTIPLIER", "1.0") or "1.0")
    offset = float(kv.get("QUBE.CORE_BASE", "0.0") or "0.0")
    return arr, gt, nodata, scale, offset, proj


_WTYPES = {"u1": ("SUN_UNSIGNED_INTEGER", 1), "i2": ("SUN_INTEGER", 2),
           "u2": ("SUN_UNSIGNED_INTEGER", 2), "f4": ("SUN_REAL", 4),
           "f8": ("SUN_REAL", 8)}


def format_isis2(arr: np.ndarray, gt=None, target: str = "MARS") -> bytes:
    """North-up (h, w[, nb]) array -> attached BSQ MSB ISIS2 cube."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    code = arr.dtype.str.lstrip("<>=|")
    if code not in _WTYPES:
        raise ValueError(f"ISIS2 writer: unsupported dtype {arr.dtype}")
    ctype, itemsize = _WTYPES[code]
    record_bytes = max(512, w * itemsize)
    lines = [
        "CCSD3ZF0000100000001NJPL3IF0PDS200000001 = SFDU_LABEL",
        "RECORD_TYPE = FIXED_LENGTH",
        "RECORD_BYTES = %d" % record_bytes,
        "LABEL_RECORDS = @LR@",
        "^QUBE = @Q@",
        "OBJECT = QUBE",
        " AXES = 3",
        " AXIS_NAME = (SAMPLE,LINE,BAND)",
        " CORE_ITEMS = (%d,%d,%d)" % (w, h, nb),
        " CORE_ITEM_BYTES = %d" % itemsize,
        " CORE_ITEM_TYPE = %s" % ctype,
        " CORE_BASE = 0.0",
        " CORE_MULTIPLIER = 1.0",
        " SUFFIX_BYTES = 4",
        " SUFFIX_ITEMS = (0,0,0)",
        " CORE_NAME = RAW_DATA_NUMBER",
        " TARGET_NAME = %s" % target,
    ]
    if gt is not None and gt[1]:
        if gt[2] or gt[4] or gt[5] >= 0:
            raise ValueError("ISIS2 writer: north-up grids only")
        dim = float(gt[1])
        samp = (float(gt[0]) + dim / 2.0) / dim
        line = (float(gt[3]) + (-dim) / 2.0) / -dim
        lines += [
            " GROUP = IMAGE_MAP_PROJECTION",
            "  MAP_PROJECTION_TYPE = SIMPLE_CYLINDRICAL",
            "  MAP_SCALE = %r" % (dim / 1000.0,),
            "  SAMPLE_PROJECTION_OFFSET = %r" % samp,
            "  LINE_PROJECTION_OFFSET = %r" % line,
            "  A_AXIS_RADIUS = 3396.0",
            "  C_AXIS_RADIUS = 3396.0",
            "  CENTER_LONGITUDE = 0.0",
            "  CENTER_LATITUDE = 0.0",
            " END_GROUP = IMAGE_MAP_PROJECTION",
        ]
    lines += ["END_OBJECT = QUBE", "END", ""]
    body = "\r\n".join(lines)
    # fixed-point label sizing (digits of LR/Q may change the length)
    lr = 1
    for _ in range(8):
        text = body.replace("@LR@", str(lr)).replace("@Q@", str(lr + 1))
        lr_new = (len(text) + record_bytes - 1) // record_bytes
        if lr_new == lr:
            break
        lr = lr_new
    label = text.ljust(lr * record_bytes, " ").encode("ascii")
    data = write_raw(arr, ">" + code, "bsq")
    pad = (-len(data)) % record_bytes
    return label + data + b" " * pad


def scan_isis2(spark, path_glob: str, srid: int = 0):
    """Glob of ISIS2 .cub labels -> images-table rows, one task per
    label (detached ^QUBE companions read by the task)."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "nodata double, scale double, offset double, "
              "proj string")

    def read(r):
        with open(r.path, "rb") as f:
            buf = f.read()
        arr, gt, nodata, scale, offset, proj = parse_isis2(
            buf, label_path=r.path)
        if gt is None:
            gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
        stem = os.path.splitext(os.path.basename(r.path))[0]
        return [raster_row(stem, arr, gt, int(srid), nodata, scale=scale,
                           offset=offset, proj=proj)]

    return scan_files(spark, glob_paths(path_glob), read, schema)


def write_isis2(df, out_dir: str, target: str = "MARS") -> list[str]:
    """Images-table rows -> one attached BSQ .cub per row, written by
    the task that holds the row."""
    def dump_row(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.cub")
        with open(path, "wb") as f:
            f.write(format_isis2(arr, gt, target=target))
        return path

    return write_files(df, out_dir, dump_row)
