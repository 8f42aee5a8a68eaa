"""Geosoft GXF (Grid eXchange File) driver — the geophysics-industry
ASCII grid interchange format.

Reference driver: frmts/gxf/ (gxfopen.c read semantics,
gxfdataset.cpp georef; implemented from the published GXF Rev 3
description — no code taken). The observable semantics reproduced
here, pinned on both autotest fixtures:

- ``#KEYWORD`` records matched by PREFIX like the reference
  (``#POIN``/``#POINTS``, ``#PTSE``...), values on the following
  lines until the next '#' line.
- GTYPE 0 uncompressed bodies tokenize on whitespace with row values
  wrapping across lines; a token is a dummy when it PREFIX-matches
  the #DUMMY text (the reference's ``strncmp(tok, dummy, len(tok))``
  — small.gxf's ``-9999999.000``).
- GTYPE n (1..20) compressed bodies: each datum is n base-90 digits
  (chars - 37), scaled by the #TRANSFORM scale/offset; ``!`` opens a
  dummy token; ``"`` opens a repeat group (count token unscaled, then
  the value token, possibly continuing on the next line) — small2.gxf
  is GTYPE 3 with scale 5.0E-03 offset -118.835 (checksum 65042).
- #SENSE orientation (default 1 = lower-left, rows left-to-right)
  flips rows to north-up and mirrors right-to-left rows; the four
  vertically-organized senses are rejected exactly like
  GXFGetScanline.
- the geotransform is CENTER-of-cell anchored: GXFGetPosition moves
  the origin to the top-left CORNER by subtracting half of both
  rotated pixel terms (gxfdataset.cpp:175-186), with #ROTATION in
  degrees.
- #UNIT_LENGTH / #MAP_PROJECTION / #MAP_DATUM_TRANSFORM are parsed to
  structured metadata (the POSC-style name + ellipsoid + method
  parameter records small2.gxf carries for NAD27 / Ohio North LCC
  2SP in US survey feet).

Spark shape: GXF files are whole-document ASCII (the transform and
dummy govern every value), so the unit of parallelism is the FILE —
one task per glob member into images-table rows, the AAIGrid fan-out.
The writer (the reference driver is read-only; ours exists for the
engine's sinks) emits GTYPE 0 sense-1 files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from ._util import raster_row, schema_columns, write_files

OUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
    "gt5 double, srid int, nodata double"
)

# sense codes (gxfopen.h:97-103)
LL_UP, LL_RIGHT, UL_RIGHT, UR_LEFT, LR_LEFT = -1, 1, -2, 3, -4


def _read_records(text: str):
    """-> ordered list of (#KEY, [value lines]) — a record's values run
    until the next line starting with '#'."""
    records = []
    key = None
    vals: list[str] = []
    for line in text.splitlines():
        if line.startswith("#"):
            if key is not None:
                records.append((key, vals))
            key = line.strip()
            vals = []
        elif key is not None:
            vals.append(line)
    if key is not None:
        records.append((key, vals))
    return records


def _first(vals: list[str]) -> str:
    for v in vals:
        if v.strip():
            return v.strip()
    return ""


def _csv_fields(s: str) -> list[str]:
    """Tokenize a '"a b",1,2'-style record line (comma/space separated,
    double-quote delimited) the CSLTokenizeStringComplex way."""
    out = []
    cur = []
    in_q = False
    for ch in s:
        if ch == '"':
            in_q = not in_q
        elif ch in ", " and not in_q:
            if cur:
                out.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def _base90(tok: str) -> int:
    v = 0
    for ch in tok:
        v = v * 90 + (ord(ch) - 37)
    return v


class GXFInfo:
    def __init__(self):
        self.w = 0
        self.h = 0
        self.x_size = 1.0
        self.y_size = 1.0
        self.x_origin = 0.0
        self.y_origin = 0.0
        self.rotation = 0.0
        self.sense = LL_RIGHT
        self.dummy_text = ""
        self.dummy = -1e12
        self.scale = 1.0
        self.offset = 0.0
        self.gtype = 0
        self.title = ""
        self.unit_name = ""
        self.unit_to_meter = 1.0
        self.projection: list[str] = []
        self.datum_transform: list[str] = []


def parse_gxf(text: str):
    """-> (array float64 north-up with dummies as NaN, geotransform,
    nodata, GXFInfo)."""
    info = GXFInfo()
    grid_lines: list[str] | None = None
    for key, vals in _read_records(text):
        uk = key.upper()
        if uk.startswith("#TITL"):
            info.title = _first(vals)
        elif uk.startswith("#POIN"):
            info.w = int(_first(vals))
        elif uk.startswith("#ROWS"):
            info.h = int(_first(vals))
        elif uk.startswith("#PTSE"):
            info.x_size = float(_first(vals))
        elif uk.startswith("#RWSE"):
            info.y_size = float(_first(vals))
        elif uk.startswith("#DUMM"):
            info.dummy_text = _first(vals)
            info.dummy = float(info.dummy_text)
        elif uk.startswith("#XORI"):
            info.x_origin = float(_first(vals))
        elif uk.startswith("#YORI"):
            info.y_origin = float(_first(vals))
        elif uk.startswith("#ROTA"):
            info.rotation = float(_first(vals))
        elif uk.startswith("#SENS"):
            info.sense = int(_first(vals))
        elif uk.startswith("#MAP_PROJECTION") and not info.projection:
            info.projection = [v for v in vals if v.strip()]
        elif uk.startswith("#MAP_D") and not info.datum_transform:
            info.datum_transform = [v for v in vals if v.strip()]
        elif uk.startswith("#UNIT") and not info.unit_name:
            fields = _csv_fields(_first(vals))
            if len(fields) > 1:
                info.unit_name = fields[0]
                info.unit_to_meter = float(fields[1]) or 1.0
        elif uk.startswith("#TRAN"):
            fields = _csv_fields(_first(vals))
            if len(fields) > 1:
                info.scale = float(fields[0])
                info.offset = float(fields[1])
        elif uk.startswith("#GTYPE"):
            info.gtype = int(_first(vals))
            if not 0 <= info.gtype <= 20:
                raise ValueError(f"GXF: invalid GTYPE {info.gtype}")
        elif uk.startswith("#GRID"):
            grid_lines = vals
    if grid_lines is None or info.w <= 0 or info.h <= 0:
        raise ValueError("GXF: missing #GRID or grid dimensions")

    n = info.w * info.h
    values = np.empty(n, dtype=np.float64)
    if info.gtype == 0:
        got = 0
        for line in grid_lines:
            if got >= n:
                break
            for tok in line.split():
                if got >= n:
                    break
                # the reference dummy test is a PREFIX compare of the
                # token against the #DUMMY text (gxfopen.c:503)
                if (info.dummy_text
                        and info.dummy_text.startswith(tok)
                        and len(tok) <= len(info.dummy_text)
                        and info.dummy_text[:len(tok)] == tok):
                    values[got] = info.dummy
                else:
                    values[got] = float(tok)
                got += 1
        if got != n:
            raise ValueError(f"GXF: body has {got} values, expected {n}")
    else:
        g = info.gtype
        got = 0
        it = iter(grid_lines)
        line = ""
        while got < n:
            if len(line) < g:
                try:
                    line = next(it)
                except StopIteration:
                    raise ValueError(
                        f"GXF: body has {got} values, expected {n}"
                    ) from None
                continue
            if line[0] == "!":
                values[got] = info.dummy
                got += 1
                line = line[g:]
            elif line[0] == '"':
                line = line[g:]
                if len(line) < g:
                    line = next(it)
                count = _base90(line[:g])
                line = line[g:]
                if len(line) < g:
                    line = next(it)
                if line[0] == "!":
                    val = info.dummy
                else:
                    val = _base90(line[:g]) * info.scale + info.offset
                if got + count > n:
                    raise ValueError("GXF: wrong repeat count")
                values[got:got + count] = val
                got += count
                line = line[g:]
            else:
                values[got] = _base90(line[:g]) * info.scale + info.offset
                got += 1
                line = line[g:]

    arr = values.reshape(info.h, info.w)
    # orient to north-up, left-to-right (GXFGetScanline semantics)
    if info.sense in (LL_RIGHT, LR_LEFT):
        arr = arr[::-1, :]
    elif info.sense in (UL_RIGHT, UR_LEFT):
        pass
    else:
        raise ValueError(
            "GXF: unable to support vertically oriented images"
        )
    if info.sense in (LR_LEFT, UR_LEFT):
        arr = arr[:, ::-1]

    # center-of-cell anchored geotransform (gxfdataset.cpp:175-186)
    if info.sense == UL_RIGHT:
        cx, cy = info.x_origin, info.y_origin
    elif info.sense == UR_LEFT:
        cx = info.x_origin - (info.w - 1) * info.x_size
        cy = info.y_origin
    elif info.sense == LL_RIGHT:
        cx = info.x_origin
        cy = info.y_origin + (info.h - 1) * info.y_size
    else:  # LR_LEFT
        cx = info.x_origin - (info.w - 1) * info.x_size
        cy = info.y_origin + (info.h - 1) * info.y_size
    rot = np.deg2rad(info.rotation)
    gt1 = info.x_size * np.cos(rot)
    gt2 = info.y_size * np.sin(rot)
    gt4 = info.x_size * np.sin(rot)
    gt5 = -info.y_size * np.cos(rot)
    gt = (cx - 0.5 * gt1 - 0.5 * gt2, float(gt1), float(gt2),
          cy - 0.5 * gt4 - 0.5 * gt5, float(gt4), float(gt5))
    nodata = info.dummy
    out = np.where(arr == nodata, np.nan, arr)
    return out, gt, nodata, info


def format_gxf(arr: np.ndarray, gt, nodata: float | None = -1e12,
               title: str = "gdal_spark") -> str:
    """GTYPE-0 sense-1 writer (the reference driver is read-only; this
    exists for the engine's own sinks). North-up unrotated grids only;
    rows emitted south-to-north per sense 1, origin at the CENTER of
    the lower-left cell."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a[:, :, 0]
    h, w = a.shape
    if gt[2] != 0 or gt[4] != 0 or gt[5] >= 0:
        raise ValueError("GXF writer requires a north-up, unrotated grid")
    if nodata is not None:
        a = np.where(np.isnan(a), nodata, a)
    lines = [
        "#TITLE", title,
        "#POINTS", str(w),
        "#ROWS", str(h),
        "#SENSE", "1",
        "#PTSEPARATION", repr(float(gt[1])),
        "#RWSEPARATION", repr(float(-gt[5])),
        "#XORIGIN", repr(float(gt[0]) + float(gt[1]) / 2),
        "#YORIGIN", repr(float(gt[3] + h * gt[5]) + float(-gt[5]) / 2),
    ]
    if nodata is not None:
        lines += ["#DUMMY", repr(float(nodata))]
    lines.append("#GRID")
    for row in a[::-1]:
        lines.append(" ".join(repr(float(v)) for v in row))
    return "\n".join(lines) + "\n"


def scan_gxf(spark, path_glob: str, srid: int = 0):
    """Glob of .gxf files -> images-table rows (one task per file)."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr, gt, nodata, _info = parse_gxf(
                    bytes(r.content).decode("ascii", "replace")
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


def write_gxf(df, out_dir: str, nodata: float | None = -1e12):
    """One .gxf file per row, task-written (the AAIGrid sink shape)."""
    def dump_row(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.gxf")
        with open(path, "w") as f:
            f.write(format_gxf(arr, gt, nd,
                               title=str(r.image_id)))
        return path

    return write_files(df, out_dir, dump_row, nodata=nodata)
