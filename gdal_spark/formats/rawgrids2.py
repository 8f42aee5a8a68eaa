"""Raw-header grid driver family II: Vexcel MFF, PCI .aux (PAux),
USGS DOQ (new-style keyword headers), USGS CTG land-use grids, and
Erdas Imagine Raw (EIR).

Reference semantics (each from its published format description):

- **MFF** (frmts/raw/mffdataset.cpp): ``key=value`` .hdr with
  IMAGE_LINES/LINE_SAMPLES (or tiled no_rows/no_columns +
  tile_size_rows/columns), BYTE_ORDER LSB/MSB (default MSB), and
  band data in sibling ``<base>.<letter><NN>`` files — extension
  letter b=uint8, i=uint16, j=cint16, r=float32, x=cfloat32, NN =
  raw band number; an optional ``type`` key (I*1/I*2/U*2/I*4/U*4/
  R*4/R*8/C*4/C*8) overrides the letter; tiled bands store
  row-major tiles each contiguous; corner lat/lon keys carried as
  metadata;
- **PAux** (frmts/raw/pauxdataset.cpp): ``Key: value`` .aux beside
  the raw file named by AuxilaryTarget; RawDefinition "w h nchan";
  ChanDefinition-n "type offset pixel_offset line_offset
  [Swapped]" with types 8U/16U/16S/32R; UpLeftX/Y + LoRightX/Y
  corner georef (``cell = (LoRightX-UpLeftX)/w``);
- **DOQ2** (frmts/raw/doq2dataset.cpp): BEGIN_USGS_DOQ_HEADER
  keyword records (value + right-padded comment ending ``*`` —
  the reference keeps the collapsed remainder as metadata, pinned
  by the QUADRANGLE_NAME golden); SAMPLES_AND_LINES w,h;
  BYTE_COUNT = header length to skip; BITS_PER_PIXEL; one
  BAND_CONTENT record per band, pixel-interleaved data;
  XY_ORIGIN + HORIZONTAL_RESOLUTION georef (the quoted
  (377054, 1, 0, 4082205, 0, -1) golden);
- **CTG** (frmts/ctg/ctgdataset.cpp): five 80-char header lines
  (rows@0:10, cols@20:10, cellsize@35:5, UTM zone@50:5 on line 0;
  the 1/1/cols/rows index block on line 1; NW easting/northing
  @40:10/@50:10 on line 3; TITLE line 4) then one 80-char record
  per cell: zone(3) easting(8) northing(8) + six 10-char int
  fields (values >= 2e9 read as 0) scattered into six int32 bands
  by the half-cell-adjusted cell coordinates;
- **EIR** (frmts/raw/eirdataset.cpp): IMAGINE_RAW_FILE keyword
  header (WIDTH/HEIGHT/NUM_LAYERS/PIXEL_FILES/FORMAT BIL|BIP|BSQ/
  DATATYPE U1..F64/DATA_OFFSET) over a sibling raw file.

Spark shape: one task per dataset both ways.
"""

from __future__ import annotations

import os
import re

import numpy as np

from ._raw import read_band, read_raw, write_raw
from ._util import glob_paths, scan_files, write_files
from .pds import _find_ci
from .rawgrids import IMG_SCHEMA, _file_rows

__all__ = [
    "parse_mff", "format_mff", "scan_mff", "write_mff",
    "parse_paux", "format_paux", "scan_paux", "write_paux",
    "parse_doq2", "scan_doq2",
    "parse_ctg", "format_ctg", "scan_ctg", "write_ctg",
    "parse_eir", "format_eir", "scan_eir", "write_eir",
]


# ---------------------------------------------------------------------------
# MFF
# ---------------------------------------------------------------------------

_MFF_LETTER = {"b": "u1", "i": "u2", "j": "ci2", "r": "f4",
               "x": "cf4"}
_MFF_TYPE = {"I*1": "u1", "I*2": "i2", "U*2": "u2", "I*4": "i4",
             "U*4": "u4", "R*4": "f4", "R*8": "f8"}


def _mff_kv(text: str) -> dict[str, str]:
    out = {}
    for line in text.splitlines():
        if "=" in line:
            k, v = line.split("=", 1)
            out.setdefault(k.strip().lower(), v.strip())
    return out


def parse_mff(hdr_text: str, band_files: list[tuple[str, bytes]]):
    """Header text + [(extension, bytes)] band files (in raw-band
    order) -> (arr north-up (h, w[, nb]), gt None, nodata, meta)."""
    kv = _mff_kv(hdr_text)
    tiled = "no_rows" in kv
    if tiled:
        h = int(kv["no_rows"])
        w = int(kv.get("no_columns", kv.get("line_samples", "0")))
        if not w:
            w = int(kv.get("line_samples", "0")) or int(
                kv.get("image_lines", "0"))
    else:
        h = int(kv.get("image_lines", "0"))
        w = int(kv.get("line_samples", "0"))
    if tiled and not w:
        w = int(kv.get("line_samples", "0")) or h
    if w <= 0 or h <= 0:
        # tiled headers may carry IMAGE_LINES/LINE_SAMPLES too
        h = h or int(kv.get("image_lines", "0"))
        w = w or int(kv.get("line_samples", "0"))
    if w <= 0 or h <= 0:
        raise ValueError("MFF: bad dimensions")
    endian = "<" if kv.get("byte_order", "MSB").upper().startswith(
        "LSB") else ">"
    refined = _MFF_TYPE.get(kv.get("type", "").upper())
    tx = int(kv.get("tile_size_columns", "0") or "0")
    ty = int(kv.get("tile_size_rows", "0") or "0")
    bands = []
    for ext, data in band_files:
        letter = ext[0].lower()
        code = refined or _MFF_LETTER.get(letter)
        if code is None:
            raise ValueError(f"MFF: unknown band extension {ext!r}")
        complex_pair = code.startswith("c")
        # complex = (real, imaginary) pairs of the base type
        dt = ([("re", endian + code[1:]), ("im", endian + code[1:])]
              if complex_pair else endian + code)
        if tiled and tx > 0 and ty > 0:
            ntx = (w + tx - 1) // tx
            nty = (h + ty - 1) // ty
            # row-major tiles, one after another
            tiles = read_raw(data, dt, tx, ty * nty * ntx, 1, "bsq")
            band = tiles.reshape(nty, ntx, ty, tx).transpose(
                0, 2, 1, 3).reshape(nty * ty, ntx * tx)[:h, :w]
        else:
            band = read_raw(data, dt, w, h, 1, "bsq")
        bands.append(band["re"] + 1j * band["im"] if complex_pair
                     else band)
    if not bands:
        raise ValueError("MFF: no band files")
    arr = bands[0] if len(bands) == 1 else np.stack(bands, axis=-1)
    arr = np.ascontiguousarray(arr)
    meta = "|".join(
        kv.get(k, "") for k in (
            "top_left_corner_latitude", "top_left_corner_longitude",
            "projection_name", "spheroid_name"))
    return arr, None, None, meta


def format_mff(arr: np.ndarray):
    """North-up (h, w[, nb]) uint8/uint16/float32 -> (hdr text,
    [(extension, bytes)])."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    code = arr.dtype.str.lstrip("<>=|")
    letter = {"u1": "b", "u2": "i", "f4": "r"}.get(code)
    if letter is None:
        raise ValueError(f"MFF writer: unsupported dtype {arr.dtype}")
    hdr = ("IMAGE_FILE_FORMAT = MFF\n"
           "FILE_TYPE = IMAGE\n"
           f"IMAGE_LINES = {h}\n"
           f"LINE_SAMPLES = {w}\n"
           "BYTE_ORDER = LSB\n"
           "END\n")
    files = [(f"{letter}{i:02d}", write_raw(arr[:, :, i], "<" + code))
             for i in range(nb)]
    return hdr, files


def scan_mff(spark, path_glob: str, srid: int = 0):
    """Glob of .hdr files (sibling band files found per task by the
    reference's basename + letter-digit rule)."""
    def reader(path):
        with open(path, "r", encoding="latin-1") as f:
            hdr = f.read()
        base = os.path.splitext(os.path.basename(path))[0]
        dirname = os.path.dirname(path)
        found = []
        for cand in sorted(os.listdir(dirname)):
            stem, ext = os.path.splitext(cand)
            ext = ext.lstrip(".")
            if (stem.lower() == base.lower() and len(ext) >= 2
                    and ext[0].lower() in "bcijrxz"
                    and ext[1:].isdigit()):
                found.append((int(ext[1:]), ext, cand))
        found.sort()
        bands = []
        for _n, ext, cand in found:
            with open(os.path.join(dirname, cand), "rb") as f:
                bands.append((ext, f.read()))
        return parse_mff(hdr, bands)

    def wrap(path):
        arr, gt, nodata, meta = reader(path)
        if np.iscomplexobj(arr):
            arr = np.stack([arr.real, arr.imag], axis=-1) \
                .astype(np.float32)
        return arr, gt, nodata, meta

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(wrap, srid), IMG_SCHEMA)


def write_mff(df, out_dir: str) -> list[str]:
    def dumper(r, arr, gt, nd, out_dir):
        hdr, files = format_mff(arr)
        path = os.path.join(out_dir, f"{r.image_id}.hdr")
        with open(path, "w") as f:
            f.write(hdr)
        for ext, data in files:
            with open(os.path.join(out_dir,
                                   f"{r.image_id}.{ext}"), "wb") as f:
                f.write(data)
        return path

    return write_files(df, out_dir, dumper)


# ---------------------------------------------------------------------------
# PAux
# ---------------------------------------------------------------------------

_PAUX_TYPES = {"8U": "u1", "16U": "u2", "16S": "i2", "32R": "f4"}


def parse_paux(aux_text: str, raw: bytes):
    """.aux text + raw bytes -> (arr north-up (h, w[, nb]),
    gt-or-None, nodata, meta)."""
    kv = {}
    chans = {}
    for line in aux_text.splitlines():
        if ":" not in line:
            continue
        k, v = line.split(":", 1)
        k = k.strip()
        m = re.match(r"ChanDefinition-(\d+)$", k)
        if m:
            chans[int(m.group(1))] = v.split()
        else:
            kv.setdefault(k, v.strip())
    if "RawDefinition" not in kv:
        raise ValueError("PAux: no RawDefinition")
    w, h, nb = (int(t) for t in kv["RawDefinition"].split()[:3])
    bands = []
    for i in range(1, nb + 1):
        spec = chans.get(i)
        if spec is None:
            raise ValueError(f"PAux: missing ChanDefinition-{i}")
        code = _PAUX_TYPES.get(spec[0].upper())
        if code is None:
            raise ValueError(f"PAux: unknown channel type {spec[0]}")
        off, pixoff, lineoff = (int(t) for t in spec[1:4])
        # the aux convention is relative to BIG-endian: "Swapped"
        # means little-endian data (the reference's CPL_LSB branch
        # treats Swapped as native; small16's band-2 checksum
        # 12816 pins it)
        swapped = len(spec) > 4 and spec[4].lower() == "swapped"
        endian = "<" if swapped else ">"
        bands.append(read_band(raw, endian + code, w, h, off, pixoff,
                               lineoff))
    arr = bands[0] if nb == 1 else np.stack(bands, axis=-1)
    gt = None
    if "UpLeftX" in kv and "LoRightX" in kv:
        ulx = float(kv["UpLeftX"])
        uly = float(kv["UpLeftY"])
        lrx = float(kv["LoRightX"])
        lry = float(kv["LoRightY"])
        gt = (ulx, (lrx - ulx) / w, 0.0, uly, 0.0, (lry - uly) / h)
    meta = kv.get("MapUnits", "")
    return arr, gt, None, meta


def format_paux(arr: np.ndarray, gt=None, target: str = "image.raw"):
    """North-up (h, w[, nb]) -> (.aux text, raw band-sequential
    bytes)."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    code = arr.dtype.str.lstrip("<>=|")
    ptype = {v: k for k, v in _PAUX_TYPES.items()}.get(code)
    if ptype is None:
        raise ValueError(f"PAux writer: unsupported dtype {arr.dtype}")
    itemsize = arr.dtype.itemsize
    lines = [f"AuxilaryTarget: {target}",
             f"RawDefinition: {w} {h} {nb}"]
    for i in range(nb):
        off = i * w * h * itemsize
        # data below is little-endian = "Swapped" in the aux
        # convention (relative to big-endian)
        lines.append(f"ChanDefinition-{i + 1}: {ptype} {off} "
                     f"{itemsize} {w * itemsize} Swapped")
    if gt is not None and gt[1]:
        if gt[2] or gt[4] or gt[5] >= 0:
            raise ValueError("PAux writer: north-up grids only")
        lines += [f"UpLeftX: {gt[0]!r}", f"UpLeftY: {gt[3]!r}",
                  f"LoRightX: {gt[0] + w * gt[1]!r}",
                  f"LoRightY: {gt[3] + h * gt[5]!r}"]
    return "\n".join(lines) + "\n", write_raw(arr, "<" + code, "bsq")


def scan_paux(spark, path_glob: str, srid: int = 0):
    """Glob of .aux files (raw target resolved per task)."""
    def reader(path):
        with open(path, "r", encoding="latin-1") as f:
            aux = f.read()
        target = None
        for line in aux.splitlines():
            if line.startswith("AuxilaryTarget:"):
                target = line.split(":", 1)[1].strip()
                break
        if target is None:
            target = os.path.splitext(os.path.basename(path))[0]
        raw_path = _find_ci(os.path.dirname(path), target)
        with open(raw_path, "rb") as f:
            raw = f.read()
        return parse_paux(aux, raw)

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def write_paux(df, out_dir: str) -> list[str]:
    def dumper(r, arr, gt, nd, out_dir):
        target = f"{r.image_id}.raw"
        aux, data = format_paux(arr, gt, target=target)
        path = os.path.join(out_dir, f"{r.image_id}.aux")
        with open(path, "w") as f:
            f.write(aux)
        with open(os.path.join(out_dir, target), "wb") as f:
            f.write(data)
        return path

    return write_files(df, out_dir, dumper)


# ---------------------------------------------------------------------------
# DOQ2 (read-only like the reference)
# ---------------------------------------------------------------------------

def parse_doq2(buf: bytes):
    """New-style USGS DOQ bytes -> (arr, gt-or-None, nodata,
    meta dict)."""
    head = buf[:8192].decode("latin-1", "replace")
    if "BEGIN_USGS_DOQ_HEADER" not in head.split("\n", 1)[0]:
        raise ValueError("not a new-style USGS DOQ file")
    w = h = 0
    skip = 0
    bpp = 1
    bands = 0
    xo = yo = None
    res = 0.0
    meta = {}
    for line in head.splitlines():
        line = line.rstrip()
        if not line:
            continue
        toks = line.split()
        if not toks:
            continue
        key = toks[0]
        if key == "END_USGS_HEADER":
            break
        if key == "SAMPLES_AND_LINES" and len(toks) >= 3:
            w, h = int(toks[1]), int(toks[2])
        elif key == "BYTE_COUNT":
            skip = int(toks[1])
        elif key == "XY_ORIGIN" and len(toks) >= 3:
            xo, yo = float(toks[1]), float(toks[2])
        elif key == "HORIZONTAL_RESOLUTION":
            res = float(toks[1])
        elif key == "BITS_PER_PIXEL":
            bpp = int(toks[1]) // 8
        elif key == "BAND_CONTENT":
            bands += 1
        elif len(toks) >= 2 and key.isupper():
            # keep the collapsed remainder (value + comment) like
            # the reference's metadata (QUADRANGLE_NAME golden)
            meta.setdefault(key, " ".join(toks[1:]).replace('"', ""))
    if w <= 0 or h <= 0 or skip <= 0:
        raise ValueError("DOQ2: missing dimensions/BYTE_COUNT")
    if bpp != 1:
        raise ValueError("DOQ2: only 8-bit products supported")
    arr = read_raw(buf, "u1", w, h, max(1, bands), "bip", skip)
    gt = None
    if xo is not None and res:
        gt = (xo, res, 0.0, yo, 0.0, -res)
    return arr, gt, None, meta


def scan_doq2(spark, path_glob: str, srid: int = 0):
    def reader(path):
        with open(path, "rb") as f:
            arr, gt, nodata, meta = parse_doq2(f.read())
        return arr, gt, nodata, meta.get("QUADRANGLE_NAME", "")

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


# ---------------------------------------------------------------------------
# CTG
# ---------------------------------------------------------------------------

def parse_ctg(buf: bytes):
    """USGS CTG bytes -> (arr (h, w, 6) int32, gt, nodata 0, meta
    title|zone)."""
    text = buf.decode("latin-1", "replace")
    if len(text) < 400:
        raise ValueError("CTG: header too short")

    def fld(base, off, n):
        return text[base + off:base + off + n]

    h = int(fld(0, 0, 10).strip() or "0")
    w = int(fld(0, 20, 10).strip() or "0")
    cell = int(fld(0, 35, 5).strip() or "0")
    zone = int(fld(0, 50, 5).strip() or "0")
    minc = int(fld(80, 0, 5).strip() or "0")
    minr = int(fld(80, 5, 5).strip() or "0")
    maxc = int(fld(80, 10, 5).strip() or "0")
    maxr = int(fld(80, 15, 5).strip() or "0")
    if (h <= 0 or w <= 0 or cell <= 0 or minc != 1 or minr != 1
            or maxc != w or maxr != h):
        raise ValueError("not a USGS CTG grid")
    nwe = int(fld(240, 40, 10).strip() or "0")
    nwn = int(fld(240, 50, 10).strip() or "0")
    title = fld(320, 0, 80).strip()
    arr = np.zeros((h, w, 6), np.int32)
    pos = 400
    n = len(text)
    while pos + 80 <= n:
        line = text[pos:pos + 80]
        pos += 80
        z = int(line[0:3].strip() or "-1")
        if z != zone:
            raise ValueError("CTG: unexpected UTM zone in record")
        x = int(line[3:11].strip() or "0") - cell // 2
        y = int(line[11:19].strip() or "0") + cell // 2
        dx = x - nwe
        dy = nwn - y
        if dx < 0 or dx % cell or dy < 0 or dy % cell:
            raise ValueError("CTG: unexpected cell coordinates")
        cx = dx // cell
        cy = dy // cell
        if cx >= w or cy >= h:
            raise ValueError("CTG: cell out of range")
        for i in range(6):
            v = int(line[20 + 10 * i:30 + 10 * i].strip() or "0")
            arr[cy, cx, i] = 0 if v >= 2000000000 else v
    gt = (float(nwe), float(cell), 0.0, float(nwn), 0.0, float(-cell))
    return arr, gt, 0.0, f"{title}|{zone}"


def format_ctg(arr: np.ndarray, gt, zone: int = 14,
               title: str = "GDAL SPARK") -> str:
    """(h, w, 6) int32 + integer-metre north-up gt -> CTG text."""
    arr = np.asarray(arr, np.int64)
    if arr.ndim != 3 or arr.shape[2] != 6:
        raise ValueError("CTG writer: (h, w, 6) int bands only")
    if gt[2] or gt[4] or gt[5] >= 0 or gt[1] != -gt[5]:
        raise ValueError("CTG writer: square north-up grids only")
    h, w, _ = arr.shape
    cell = int(gt[1])
    nwe, nwn = int(gt[0]), int(gt[3])
    if cell != gt[1] or nwe != gt[0] or nwn != gt[3]:
        raise ValueError("CTG writer: integer-metre grids only")
    lines = []
    l0 = "%10d%10s%10d%5s%5d%10s%5d" % (h, "", w, "", cell, "", zone)
    lines.append(l0.ljust(80))
    lines.append(("%5d%5d%5d%5d" % (1, 1, w, h)).ljust(80))
    lines.append(" " * 80)
    lines.append((" " * 40 + "%10d%10d" % (nwe, nwn)).ljust(80))
    lines.append(title.ljust(80)[:80])
    for cy in range(h):
        for cx in range(w):
            e = nwe + cx * cell + cell // 2
            nn = nwn - cy * cell - cell // 2
            row = "%3d%8d%8d " % (zone, e, nn)
            row += "".join("%10d" % int(arr[cy, cx, i])
                           for i in range(6))
            lines.append(row.ljust(80))
    return "".join(lines)


def scan_ctg(spark, path_glob: str, srid: int = 0):
    def reader(path):
        with open(path, "rb") as f:
            return parse_ctg(f.read())

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def write_ctg(df, out_dir: str) -> list[str]:
    def dumper(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}_grid_cell")
        with open(path, "w") as f:
            f.write(format_ctg(arr.astype(np.int32), gt))
        return path

    return write_files(df, out_dir, dumper)


# ---------------------------------------------------------------------------
# EIR
# ---------------------------------------------------------------------------

_EIR_TYPES = {"U1": "u1", "U2": "u1", "U4": "u1", "U8": "u1",
              "S8": "i1", "U16": "u2", "S16": "i2", "U32": "u4",
              "S32": "i4", "F32": "f4", "F64": "f8"}


def parse_eir(hdr_text: str, raw: bytes):
    """IMAGINE_RAW_FILE header + raw bytes -> (arr north-up, gt
    None, nodata, meta)."""
    kv = {}
    for line in hdr_text.splitlines():
        toks = line.split(None, 1)
        if len(toks) == 2:
            kv.setdefault(toks[0].upper(), toks[1].strip())
        elif toks:
            kv.setdefault(toks[0].upper(), "")
    if "IMAGINE_RAW_FILE" not in kv:
        raise ValueError("not an Erdas Imagine Raw header")
    w = int(kv.get("WIDTH", "0"))
    h = int(kv.get("HEIGHT", "0"))
    nb = int(kv.get("NUM_LAYERS", "1") or "1")
    if w <= 0 or h <= 0:
        raise ValueError("EIR: bad dimensions")
    code = _EIR_TYPES.get(kv.get("DATATYPE", "U8").upper())
    if code is None:
        raise ValueError(f"EIR: unknown DATATYPE {kv.get('DATATYPE')}")
    fmt = kv.get("FORMAT", "BIL").upper()
    off = int(kv.get("DATA_OFFSET", "0") or "0")
    arr = read_raw(raw, "<" + code, w, h, nb,
                   fmt if fmt in ("BIL", "BIP") else "BSQ", off)
    return arr, None, None, fmt


def format_eir(arr: np.ndarray, pixel_file: str):
    """North-up (h, w[, nb]) -> (hdr text, BIL raw bytes)."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    code = arr.dtype.str.lstrip("<>=|")
    dt = {v: k for k, v in _EIR_TYPES.items() if k not in
          ("U1", "U2", "U4")}.get(code)
    if dt is None:
        raise ValueError(f"EIR writer: unsupported dtype {arr.dtype}")
    hdr = ("IMAGINE_RAW_FILE\n"
           f"WIDTH {w}\n"
           f"HEIGHT {h}\n"
           f"NUM_LAYERS {nb}\n"
           f"PIXEL_FILES {pixel_file}\n"
           "FORMAT BIL\n"
           f"DATATYPE {dt}\n"
           "DATA_OFFSET 0\n"
           "END_RAW_FILE\n")
    return hdr, write_raw(arr, "<" + code, "bil")


def scan_eir(spark, path_glob: str, srid: int = 0):
    """Glob of .hdr files; PIXEL_FILES names the raw companion."""
    def reader(path):
        with open(path, "r", encoding="latin-1") as f:
            hdr = f.read()
        pixel = None
        for line in hdr.splitlines():
            toks = line.split(None, 1)
            if toks and toks[0].upper() == "PIXEL_FILES" \
                    and len(toks) > 1:
                pixel = toks[1].strip()
        if pixel is None:
            pixel = os.path.splitext(os.path.basename(path))[0] + ".img"
        raw_path = _find_ci(os.path.dirname(path),
                            os.path.basename(pixel))
        with open(raw_path, "rb") as f:
            raw = f.read()
        return parse_eir(hdr, raw)

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def write_eir(df, out_dir: str) -> list[str]:
    def dumper(r, arr, gt, nd, out_dir):
        pixel = f"{r.image_id}.img"
        hdr, data = format_eir(arr, pixel)
        path = os.path.join(out_dir, f"{r.image_id}.hdr")
        with open(path, "w") as f:
            f.write(hdr)
        with open(os.path.join(out_dir, pixel), "wb") as f:
            f.write(data)
        return path

    return write_files(df, out_dir, dumper)
