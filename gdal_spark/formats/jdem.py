"""JDEM (Japanese DEM, .mem) driver — the Geographic Survey Institute
50 m mesh format.

Reference driver: frmts/jdem/jdemdataset.cpp (implemented from the
published GSI format description — no code taken). Observable
semantics, pinned on the autotest fixture (fakejdem.mem, checksum 15):

- a 1011-byte fixed header; fixed-width integer fields (space-padded,
  atoi semantics): mesh code at [0:6], raster width at [23:26],
  height at [26:29], and four DMS-packed angles (DDDMMSS as a 7-digit
  int → deg + min/60 + sec/3600): LL lat @29, LL lon @36, UR lat @43,
  UR lon @50.
- records of ``width*5 + 9 + 2`` bytes follow: the 6-char mesh code
  (must equal the header's — the reference's binary-transfer check),
  a 3-digit 1-based row number (strictly sequential; partial datasets
  rejected), then ``width`` 5-digit elevations in 0.1 m units
  (Float32 after * 0.1).
- geotransform from the LL/UR corner angles; rows run north to south;
  SRS is the Tokyo datum (EPSG:4301).

Spark shape: one task per file into images-table rows; task-per-row
sink (the reference driver is read-only; the writer exists for the
engine's own sinks and is limited to whole-arc-second extents, the
only ones the DMS-packed header can carry).
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

HEADER_SIZE = 1011


def _field(buf: bytes, offset: int, width: int) -> int:
    """atoi of a fixed-width field (leading spaces fine, stops at the
    first non-digit after them)."""
    s = buf[offset:offset + width].decode("ascii", "replace")
    s = s.strip()
    neg = s.startswith("-")
    digits = ""
    for ch in (s[1:] if neg else s):
        if ch.isdigit():
            digits += ch
        else:
            break
    if not digits:
        return 0
    return -int(digits) if neg else int(digits)


def _angle(buf: bytes, offset: int) -> float:
    n = _field(buf, offset, 7)
    deg = n // 10000
    minute = (n // 100) % 100
    sec = n % 100
    return deg + minute / 60.0 + sec / 3600.0


def _pack_angle(value: float) -> str:
    total_sec = int(round(value * 3600.0))
    deg, rem = divmod(total_sec, 3600)
    minute, sec = divmod(rem, 60)
    return f"{deg * 10000 + minute * 100 + sec:07d}"


def parse_jdem(data: bytes):
    """-> (float64 array (h, w), geotransform, mesh code)."""
    if len(data) < HEADER_SIZE:
        raise ValueError("JDEM: file shorter than the 1011-byte header")
    hdr = data[:HEADER_SIZE]
    w = _field(hdr, 23, 3)
    h = _field(hdr, 26, 3)
    if w <= 0 or h <= 0:
        raise ValueError("JDEM: invalid raster dimensions")
    ll_lat = _angle(hdr, 29)
    ll_lon = _angle(hdr, 36)
    ur_lat = _angle(hdr, 43)
    ur_lon = _angle(hdr, 50)
    mesh = hdr[0:6]
    rec = w * 5 + 9 + 2
    arr = np.empty((h, w), dtype=np.float64)
    for row in range(h):
        off = HEADER_SIZE + rec * row
        line = data[off:off + rec]
        if len(line) < w * 5 + 9:
            raise ValueError(f"JDEM: cannot read scanline {row}")
        if line[:6] != mesh:
            raise ValueError(
                "JDEM scanline corrupt. Perhaps file was not "
                "transferred in binary mode?"
            )
        if _field(line, 6, 3) != row + 1:
            raise ValueError(
                "JDEM scanline out of order; partial datasets are "
                "not supported"
            )
        for i in range(w):
            arr[row, i] = _field(line, 9 + 5 * i, 5) * 0.1
    gt = (ll_lon, (ur_lon - ll_lon) / w, 0.0,
          ur_lat, 0.0, -(ur_lat - ll_lat) / h)
    return arr, gt, mesh.decode("ascii", "replace")


def format_jdem(arr: np.ndarray, gt, mesh: str = "000000") -> bytes:
    """Inverse of :func:`parse_jdem`; extents must land on whole arc
    seconds (the DMS-packed header's resolution)."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a[:, :, 0]
    h, w = a.shape
    if gt[2] != 0 or gt[4] != 0 or gt[5] >= 0:
        raise ValueError("JDEM requires a north-up, unrotated grid")
    ll_lon, ur_lat = float(gt[0]), float(gt[3])
    ur_lon = ll_lon + w * float(gt[1])
    ll_lat = ur_lat + h * float(gt[5])
    for v in (ll_lat, ll_lon, ur_lat, ur_lon):
        if abs(v * 3600 - round(v * 3600)) > 1e-6:
            raise ValueError(
                "JDEM extents must be whole arc seconds"
            )
    mesh = (mesh + "      ")[:6]
    hdr = bytearray(b" " * HEADER_SIZE)
    hdr[0:6] = mesh.encode("ascii")
    hdr[23:26] = f"{w:3d}".encode("ascii")
    hdr[26:29] = f"{h:3d}".encode("ascii")
    hdr[29:36] = _pack_angle(ll_lat).encode("ascii")
    hdr[36:43] = _pack_angle(ll_lon).encode("ascii")
    hdr[43:50] = _pack_angle(ur_lat).encode("ascii")
    hdr[50:57] = _pack_angle(ur_lon).encode("ascii")
    out = bytearray(hdr)
    for row in range(h):
        rec = mesh.encode("ascii") + f"{row + 1:3d}".encode("ascii")
        for i in range(w):
            v = int(round(a[row, i] * 10.0))
            if not 0 <= v <= 99999:
                raise ValueError(
                    "JDEM elevations must be in [0, 9999.9] m"
                )
            rec += f"{v:05d}".encode("ascii")
        out += rec + b"\r\n"
    return bytes(out)


def scan_jdem(spark, path_glob: str):
    """Glob of .mem JDEM files -> images-table rows (srid 4301, the
    Tokyo datum)."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr, gt, _mesh = parse_jdem(bytes(r.content))
                rows.append(raster_row(
                    os.path.splitext(os.path.basename(r.path))[0],
                    arr, gt, 4301, None))
            yield pd.DataFrame(rows, columns=schema_columns(OUT_SCHEMA))

    return (
        spark.read.format("binaryFile").load(path_glob)
        .select("path", "content")
        .mapInPandas(parse, schema=OUT_SCHEMA)
    )


def write_jdem(df, out_dir: str):
    """One .mem file per row, task-written."""
    def dump_row(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.mem")
        with open(path, "wb") as f:
            f.write(format_jdem(np.squeeze(arr), gt,
                                mesh=str(r.image_id)[:6]))
        return path

    return write_files(df, out_dir, dump_row)
