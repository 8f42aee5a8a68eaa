"""NLAPS NDF + EOSAT FAST Landsat driver family (read side, like
the reference).

Reference semantics (from the published NLAPS / FAST-L7A format
descriptions):

- **NDF** (frmts/raw/ndfdataset.cpp): ``KEY=VALUE;`` header lines;
  dims PIXELS_PER_LINE / LINES_PER_DATA_FILE, 8-bit BSQ band files
  named by ``BANDn_FILENAME`` (resolved case-insensitively beside
  the header), NUMBER_OF_BANDS_IN_VOLUME; georef from
  UPPER_LEFT_CORNER's 3rd/4th fields (the CENTER of the UL pixel)
  backed off half a PIXEL_SPACING — the LE7134052000500350 golden
  gt (320325.75, 14.25, 0, 1383062.25, 0, -14.25); truncated band
  files zero-fill;
- **FAST** (frmts/raw/fastdataset.cpp): 1536-byte fixed-layout
  ``KEY =value`` text header; PIXELS PER LINE / LINES PER BAND,
  OUTPUT BITS PER PIXEL, PIXEL SIZE, up to six 29-char FILENAME
  slots naming the band files; ACQUISITION DATE / SATELLITE /
  SENSOR metadata at the reference's quoted spellings; corner
  records (``UL ="`` + 28 chars of lat/lon + two 13-char
  projection coordinates) carried as metadata (the reference fits
  a GCP transform whose SRS normalization is out of scope here —
  pixels and metadata are the pinned surface).

Spark shape: one task per header; band files read by the task.
"""

from __future__ import annotations

import os
import re

import numpy as np

from ._raw import read_raw, write_raw
from ._util import glob_paths, scan_files, write_files
from .pds import _find_ci
from .rawgrids import IMG_SCHEMA, _file_rows


def parse_ndf_header(text: str) -> dict[str, str]:
    out = {}
    for line in text.replace("\r", "\n").split("\n"):
        line = line.strip().rstrip(";")
        if "=" in line:
            k, v = line.split("=", 1)
            out.setdefault(k.strip().upper(), v.strip())
    return out


def parse_ndf(header_text: str, band_files: list[bytes]):
    """Header text + band bytes (BANDn order) -> (arr north-up
    (h, w[, nb]) uint8, gt-or-None, nodata, meta)."""
    kv = parse_ndf_header(header_text)
    w = int(kv.get("PIXELS_PER_LINE", "0"))
    h = int(kv.get("LINES_PER_DATA_FILE", "0"))
    if w <= 0 or h <= 0:
        raise ValueError("NDF: bad dimensions")
    if kv.get("PIXEL_FORMAT", "BYTE").upper() != "BYTE":
        raise ValueError("NDF: only BYTE products supported")
    bands = [read_raw(data, "u1", w, h, 1, "bsq") for data in band_files]
    if not bands:
        raise ValueError("NDF: no band files")
    arr = bands[0] if len(bands) == 1 else np.stack(bands, axis=-1)
    arr = np.ascontiguousarray(arr)
    gt = None
    ul = kv.get("UPPER_LEFT_CORNER", "")
    spacing = kv.get("PIXEL_SPACING", "")
    if ul and spacing:
        parts = [p.strip() for p in ul.split(",")]
        px = float(spacing.split(",")[0])
        if len(parts) >= 4:
            cx = float(parts[2])
            cy = float(parts[3])
            gt = (cx - px / 2.0, px, 0.0, cy + px / 2.0, 0.0, -px)
    meta = "|".join([kv.get("SATELLITE", ""),
                     kv.get("DATA_SET_TYPE", ""),
                     kv.get("MAP_PROJECTION_NAME", ""),
                     kv.get("USGS_MAP_ZONE", "")])
    return arr, gt, None, meta


def scan_ndf(spark, path_glob: str, srid: int = 0):
    """Glob of NDF .H* headers (BANDn_FILENAME companions read per
    task)."""
    def reader(path):
        with open(path, encoding="latin-1") as f:
            text = f.read()
        kv = parse_ndf_header(text)
        nb = int(kv.get("NUMBER_OF_BANDS_IN_VOLUME", "1") or "1")
        dirname = os.path.dirname(path)
        files = []
        for i in range(1, nb + 1):
            name = kv.get(f"BAND{i}_FILENAME", "")
            if not name:
                continue
            with open(_find_ci(dirname, os.path.basename(name)),
                      "rb") as f:
                files.append(f.read())
        return parse_ndf(text, files)

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


_FAST_KEYS = {
    "ACQUISITION_DATE": ("ACQUISITION DATE =", 8),
    "SATELLITE": ("SATELLITE =", 10),
    "SENSOR": ("SENSOR =", 10),
}


def parse_fast_header(text: str):
    """1536-byte FAST header -> (dict, [band filenames])."""
    kv = {}
    for out_key, (marker, size) in _FAST_KEYS.items():
        i = text.find(marker)
        if i >= 0:
            kv[out_key] = text[i + len(marker):
                               i + len(marker) + size].strip()

    def num(pattern, cast=int):
        m = re.search(pattern, text)
        return cast(m.group(1).replace(" ", "")) if m else None

    kv["PIXELS_PER_LINE"] = num(r"PIXELS PER LINE =\s*(\d+)")
    kv["LINES_PER_BAND"] = num(r"LINES PER BAND =\s*(\d+)")
    kv["BITS_PER_PIXEL"] = num(
        r"OUTPUT BITS PER PIXEL =\s*(\d+)") or 8
    kv["PIXEL_SIZE"] = num(r"PIXEL SIZE =\s*([0-9.]+)", float)
    filenames = []
    for m in re.finditer(r"FILENAME =(.{0,29})", text):
        name = m.group(1).strip()
        if name:
            filenames.append(name.split()[0])
    corners = {}
    for tag in ("UL", "UR", "LL", "LR"):
        i = text.find(tag + " =")
        if i >= 0:
            seg = text[i + len(tag) + 2:]
            # 28 chars of lat/lon, then two 13-char projection coords
            try:
                x = float(seg[28:41])
                y = float(seg[42:55])
                corners[tag] = (x, y)
            except ValueError:
                pass
    return kv, filenames, corners


def parse_fast(header_text: str, band_files: list[bytes]):
    """FAST header + band bytes -> (arr north-up (h, w[, nb]),
    gt None, nodata, meta)."""
    kv, _names, corners = parse_fast_header(header_text)
    w = kv.get("PIXELS_PER_LINE")
    h = kv.get("LINES_PER_BAND")
    if not w or not h:
        raise ValueError("FAST: bad dimensions")
    bpp = kv.get("BITS_PER_PIXEL", 8)
    code = {8: "u1", 16: "u2"}.get(bpp)
    if code is None:
        raise ValueError(f"FAST: {bpp} bits per pixel unsupported")
    bands = [read_raw(data, "<" + code, w, h, 1, "bsq")
             for data in band_files]
    if not bands:
        raise ValueError("FAST: no band files")
    arr = bands[0] if len(bands) == 1 else np.stack(bands, axis=-1)
    arr = np.ascontiguousarray(arr)
    meta = "|".join([
        kv.get("ACQUISITION_DATE", ""), kv.get("SATELLITE", ""),
        kv.get("SENSOR", ""),
        ";".join(f"{t}={x},{y}" for t, (x, y) in sorted(
            corners.items())),
    ])
    return arr, None, None, meta


def scan_fast(spark, path_glob: str, srid: int = 0):
    """Glob of .FST admin headers (FILENAME companions read per
    task)."""
    def reader(path):
        with open(path, encoding="latin-1") as f:
            text = f.read(4608)
        _kv, names, _c = parse_fast_header(text)
        dirname = os.path.dirname(path)
        files = []
        for name in names:
            try:
                with open(_find_ci(dirname, os.path.basename(name)),
                          "rb") as f:
                    files.append(f.read())
            except (OSError, ValueError):
                files.append(b"")
        return parse_fast(text, files)

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def format_ndf(arr: np.ndarray, gt, band_name: str = "BAND"):
    """North-up uint8 (h, w[, nb]) -> (header text, [band bytes]) —
    a synthetic NLAPS writer (the reference is read-only); the
    header round-trips through parse_ndf/scan_ndf."""
    arr = np.asarray(arr, np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    if gt[2] or gt[4] or gt[5] >= 0 or gt[1] != -gt[5]:
        raise ValueError("NDF writer: square north-up grids only")
    px = float(gt[1])
    cx = float(gt[0]) + px / 2.0
    cy = float(gt[3]) - px / 2.0
    lines = [
        "NDF_REVISION=2.00;",
        "DATA_SET_TYPE=EDC_ETM+;",
        "PIXEL_FORMAT=BYTE;",
        "BITS_PER_PIXEL=8;",
        f"PIXELS_PER_LINE={w};",
        f"LINES_PER_DATA_FILE={h};",
        "DATA_FILE_INTERLEAVING=BSQ;",
        f"UPPER_LEFT_CORNER=0E,0N,{cx!r},{cy!r};",
        f"PIXEL_SPACING={px!r},{px!r};",
        "PIXEL_SPACING_UNITS=METERS;",
        f"NUMBER_OF_BANDS_IN_VOLUME={nb};",
        "SATELLITE=LANDSAT_7;",
        "MAP_PROJECTION_NAME=UTM;",
        "USGS_MAP_ZONE=46;",
    ]
    for i in range(nb):
        lines.append(f"BAND{i + 1}_FILENAME={band_name}{i + 1}.I8;")
    lines.append("END_OF_HDR;")
    bands = [write_raw(arr[:, :, i], "u1") for i in range(nb)]
    return "\n".join(lines) + "\n", bands


def write_ndf(df, out_dir: str) -> list[str]:
    """Images-table rows -> one .H1 header + BANDn.I8 files per
    row, task-per-row."""
    def dumper(r, arr, gt, nd, out_dir):
        hdr, bands = format_ndf(arr.astype(np.uint8), gt,
                                band_name=r.image_id + "_B")
        path = os.path.join(out_dir, f"{r.image_id}.H1")
        with open(path, "w") as f:
            f.write(hdr)
        for i, data in enumerate(bands):
            with open(os.path.join(
                    out_dir, f"{r.image_id}_B{i + 1}.I8"), "wb") as f:
                f.write(data)
        return path

    return write_files(df, out_dir, dumper)
