"""Raw-header grid driver family: JPL ROI_PAC, NRCan BYN geoid
grids, Erdas 7.x LAN/GIS, NOHRSC SNODAS, and FARSITE LCP landscape
files.

Reference semantics (each from its published format description):

- **ROI_PAC** (frmts/raw/roipacdataset.cpp): a bare data file plus a
  ``<file>.rsc`` text companion of ``KEY  VALUE`` lines. Dtype and
  layout come from the data extension: ``.dem`` int16 / ``.flg``
  uint8 single band; ``.int``/``.slc`` complex float32;
  ``.amp`` two float32 bands PIXEL-interleaved; ``.cor``/``.hgt``/
  ``.unw``/``.msk``/``.trans`` two float32 bands LINE-interleaved
  (the RMG convention). Georef straight from X_FIRST/X_STEP/
  Y_FIRST/Y_STEP; PROJECTION/DATUM carried as metadata.
- **BYN** (frmts/raw/byndataset.cpp): 80-byte header with the
  byte-verified field offsets (south/north/west/east int32 arcsec
  @0/4/8/12, dlat/dlon int16 @16/18, global/type @20/22, factor
  double @24, sizeof @32, byteorder @48, scale flag @50); the scale
  flag multiplies boundaries AND spacing by 1000; ``w = (east -
  west + 1)/dlon + 1`` (int truncation), gt centers the corner
  cell: ``gt0 = (west - dlon/2)/3600``; int16 data nodata 32767,
  int32 nodata ``9999 * factor``; band scale ``1/factor``.
- **LAN** (frmts/raw/landataset.cpp): 128-byte ``HEAD74``/``HEADER``
  header — pixel type 0=8bit 1=4bit 2=16bit @6, bands @8, dims
  @16/20 (int32 in HEAD74, float32 in HEADER), georef floats
  @112-127 anchored at the pixel CENTER (half-cell shift applied
  like the reference); data is band-interleaved-by-line; 4-bit
  packs two pixels per byte high-nibble first, expanded to uint8.
- **SNODAS** (frmts/raw/snodasdataset.cpp): ``Key: value`` .hdr
  text + int16 BIG-endian .dat companion; gt from the min/max
  x/y coordinates over columns/rows; "No data value" nodata.
- **LCP** (frmts/raw/lcpdataset.cpp): FARSITE landscape — 7316-byte
  little-endian header: crown/ground-fuel flags @0/@4 (21 = have)
  electing 5/7/8/10 int16 PIXEL-interleaved bands in the canonical
  order elevation/slope/aspect/fuel/cover[/height/base/density]
  [/duff/woody]; dims @4164/4168, E/W/N/S doubles @4172-4203,
  cell sizes @4208/4216, LATITUDE @8, unit code @4204, description
  @6804; per-band unit shorts @4224+2i, min/max/classes
  @44+412i/48/52, class values @56+412i, source files @4244+256i
  (canonical index i) — all surfaced as a metadata string.

Spark shape: one task per file both ways for every family member.
"""

from __future__ import annotations

import os
import struct

import numpy as np

from ._raw import read_band, read_raw, write_raw
from ._util import glob_paths, raster_row, scan_files, write_files
from .pds import _find_ci

IMG_SCHEMA = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "nodata double, meta string")


def _file_rows(reader, srid):
    """``reader(path) -> (arr, gt-or-None, nodata, meta)`` as a
    :func:`scan_files` read function: one row per file, keyed by the
    file stem."""
    def read(r):
        arr, gt, nodata, meta = reader(r.path)
        if gt is None:
            gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
        stem = os.path.splitext(os.path.basename(r.path))[0]
        return [raster_row(stem, arr, gt, int(srid), nodata, meta=meta)]

    return read


# ---------------------------------------------------------------------------
# ROI_PAC
# ---------------------------------------------------------------------------

_ROIPAC_EXT = {
    # ext -> (numpy code, nbands, interleave)
    "dem": ("i2", 1, "pixel"), "flg": ("u1", 1, "pixel"),
    "int": ("c8", 1, "pixel"), "slc": ("c8", 1, "pixel"),
    "amp": ("f4", 2, "pixel"),
    "cor": ("f4", 2, "line"), "hgt": ("f4", 2, "line"),
    "unw": ("f4", 2, "line"), "msk": ("f4", 2, "line"),
    "trans": ("f4", 2, "line"),
}


def parse_roipac_rsc(text: str) -> dict[str, str]:
    out = {}
    for line in text.splitlines():
        toks = line.split(None, 1)
        if len(toks) == 2:
            out.setdefault(toks[0], toks[1].strip())
    return out


def parse_roipac(data: bytes, rsc_text: str, ext: str):
    """Data bytes + .rsc text + data extension -> (arr north-up,
    gt-or-None, nodata, meta)."""
    kv = parse_roipac_rsc(rsc_text)
    if "WIDTH" not in kv or "FILE_LENGTH" not in kv:
        raise ValueError("ROI_PAC: .rsc lacks WIDTH/FILE_LENGTH")
    w = int(kv["WIDTH"])
    h = int(kv["FILE_LENGTH"])
    ext = ext.lower().lstrip(".")
    if ext not in _ROIPAC_EXT:
        raise ValueError(f"ROI_PAC: unknown extension .{ext}")
    code, nb, inter = _ROIPAC_EXT[ext]
    # line interleave = RMG
    arr = read_raw(data, "<" + code, w, h, nb,
                   "bip" if inter == "pixel" else "bil")
    gt = None
    if all(k in kv for k in ("X_FIRST", "X_STEP", "Y_FIRST", "Y_STEP")):
        gt = (float(kv["X_FIRST"]), float(kv["X_STEP"]), 0.0,
              float(kv["Y_FIRST"]), 0.0, float(kv["Y_STEP"]))
    meta = "|".join([kv.get("PROJECTION", ""), kv.get("DATUM", ""),
                     kv.get("Z_SCALE", ""), kv.get("Z_OFFSET", "")])
    return arr, gt, None, meta


def format_roipac(arr: np.ndarray, gt=None,
                  projection: str = "LL", datum: str = "WGS84"):
    """int16 (h, w) -> (.dem bytes, .rsc text); uint8 -> .flg."""
    arr = np.asarray(arr)
    if arr.ndim != 2 or arr.dtype.str.lstrip("<>=|") not in ("i2", "u1"):
        raise ValueError("ROI_PAC writer: (h, w) int16/uint8 only")
    h, w = arr.shape
    lines = ["%-40s %d" % ("WIDTH", w),
             "%-40s %d" % ("FILE_LENGTH", h)]
    if gt is not None and gt[1]:
        lines += ["%-40s %r" % ("X_FIRST", float(gt[0])),
                  "%-40s %r" % ("X_STEP", float(gt[1])),
                  "%-40s %r" % ("Y_FIRST", float(gt[3])),
                  "%-40s %r" % ("Y_STEP", float(gt[5])),
                  "%-40s %s" % ("PROJECTION", projection),
                  "%-40s %s" % ("DATUM", datum)]
    code = arr.dtype.str.lstrip("<>=|")
    return write_raw(arr, "<" + code), "\n".join(lines) + "\n"


def scan_roipac(spark, path_glob: str, srid: int = 0):
    """Glob of ROI_PAC data files (companion .rsc read per task) ->
    images-table rows, one task per file."""
    def reader(path):
        with open(path, "rb") as f:
            data = f.read()
        with open(_find_ci(os.path.dirname(path),
                           os.path.basename(path) + ".rsc")) as f:
            rsc = f.read()
        ext = os.path.splitext(path)[1]
        arr, gt, nodata, meta = parse_roipac(data, rsc, ext)
        if np.iscomplexobj(arr):
            arr = np.stack([arr.real, arr.imag], axis=-1) \
                .astype(np.float32)
        return arr, gt, nodata, meta

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def write_roipac(df, out_dir: str) -> list[str]:
    """int16 rows -> .dem + .rsc pairs, task-per-row."""
    def dumper(r, arr, gt, nd, out_dir):
        if arr.ndim == 3:
            arr = arr[:, :, 0]
        ext = "dem" if arr.dtype != np.uint8 else "flg"
        data, rsc = format_roipac(arr.astype(
            np.int16 if ext == "dem" else np.uint8), gt)
        path = os.path.join(out_dir, f"{r.image_id}.{ext}")
        with open(path, "wb") as f:
            f.write(data)
        with open(path + ".rsc", "w") as f:
            f.write(rsc)
        return path

    return write_files(df, out_dir, dumper)


# ---------------------------------------------------------------------------
# BYN
# ---------------------------------------------------------------------------

def parse_byn(buf: bytes):
    """.byn bytes -> (arr north-up int16/int32, gt, nodata, scale)."""
    if len(buf) < 80:
        raise ValueError("BYN: header too short")
    south, north, west, east = struct.unpack_from("<iiii", buf, 0)
    dlat, dlon, _glob, ntype = struct.unpack_from("<hhhh", buf, 16)
    factor = struct.unpack_from("<d", buf, 24)[0]
    sizeof = struct.unpack_from("<h", buf, 32)[0]
    byteorder, scale = struct.unpack_from("<hh", buf, 48)
    if sizeof not in (2, 4) or scale not in (0, 1):
        raise ValueError("BYN: invalid header")
    s, n, w_, e, dla, dlo = (float(v) for v in
                             (south, north, west, east, dlat, dlon))
    if scale == 1:
        s, n, w_, e, dla, dlo = (v * 1000 for v in
                                 (s, n, w_, e, dla, dlo))
    if dla == 0 or dlo == 0:
        raise ValueError("BYN: zero spacing")
    w = int((e - w_ + 1.0) / dlo + 1.0)
    h = int((n - s + 1.0) / dla + 1.0)
    if w <= 0 or h <= 0:
        raise ValueError(f"BYN: header bounds give a {w} x {h} grid")
    code = "i2" if sizeof == 2 else "i4"
    endian = "<" if byteorder == 1 else ">"
    arr = read_raw(buf, endian + code, w, h, 1, "bsq", 80)
    gt = ((w_ - dlo / 2.0) / 3600.0, dlo / 3600.0, 0.0,
          (n + dla / 2.0) / 3600.0, 0.0, -dla / 3600.0)
    nodata = 32767.0 if sizeof == 2 else 9999.0 * (factor or 1.0)
    bscale = 1.0 / factor if factor not in (0.0, 1.0) else 1.0
    return arr, gt, nodata, bscale


def format_byn(arr: np.ndarray, gt, factor: float = 1.0) -> bytes:
    """North-up int16/int32 (h, w) on an arcsecond grid -> .byn."""
    arr = np.asarray(arr)
    code = arr.dtype.str.lstrip("<>=|")
    if arr.ndim != 2 or code not in ("i2", "i4"):
        raise ValueError("BYN writer: (h, w) int16/int32 only")
    if gt[2] or gt[4] or gt[5] >= 0:
        raise ValueError("BYN writer: north-up grids only")
    h, w = arr.shape
    dlo = gt[1] * 3600.0
    dla = -gt[5] * 3600.0
    w_ = gt[0] * 3600.0 + dlo / 2.0
    n = gt[3] * 3600.0 - dla / 2.0
    e = w_ + (w - 1) * dlo
    s = n - (h - 1) * dla
    vals = [s, n, w_, e, dla, dlo]
    if any(abs(v - round(v)) > 1e-6 for v in vals):
        raise ValueError("BYN writer: grid must be integer arcseconds")
    head = bytearray(80)
    struct.pack_into("<iiii", head, 0, *(int(round(v))
                                         for v in (s, n, w_, e)))
    struct.pack_into("<hhhh", head, 16, int(round(dla)),
                     int(round(dlo)), 0, 1)
    struct.pack_into("<d", head, 24, float(factor))
    struct.pack_into("<h", head, 32, arr.dtype.itemsize)
    struct.pack_into("<hh", head, 48, 1, 0)
    return bytes(head) + write_raw(arr, "<" + code)


def scan_byn(spark, path_glob: str, srid: int = 4326):
    def reader(path):
        with open(path, "rb") as f:
            arr, gt, nodata, bscale = parse_byn(f.read())
        return arr, gt, nodata, repr(bscale)

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def write_byn(df, out_dir: str) -> list[str]:
    def dumper(r, arr, gt, nd, out_dir):
        if arr.ndim == 3:
            arr = arr[:, :, 0]
        path = os.path.join(out_dir, f"{r.image_id}.byn")
        with open(path, "wb") as f:
            f.write(format_byn(arr.astype(np.int16
                                          if arr.dtype.itemsize <= 2
                                          else np.int32), gt))
        return path

    return write_files(df, out_dir, dumper)


# ---------------------------------------------------------------------------
# Erdas 7.x LAN
# ---------------------------------------------------------------------------

def parse_lan(buf: bytes):
    """.lan/.gis bytes -> (arr north-up (h, w[, nb]), gt-or-None,
    nodata, meta)."""
    magic = buf[:6].decode("ascii", "replace")
    if magic not in ("HEAD74", "HEADER"):
        raise ValueError("not an Erdas LAN/GIS file")
    for endian in ("<", ">"):
        nbands = struct.unpack_from(endian + "h", buf, 8)[0]
        if 0 < nbands <= 255:
            break
    else:
        raise ValueError("LAN: cannot determine byte order")
    ptype = struct.unpack_from(endian + "h", buf, 6)[0]
    if magic == "HEAD74":
        w, h = struct.unpack_from(endian + "ii", buf, 16)
    else:
        fw, fh = struct.unpack_from(endian + "ff", buf, 16)
        w, h = int(fw), int(fh)
    if w <= 0 or h <= 0:
        raise ValueError("LAN: bad dimensions")
    ulx, uly, px, py = struct.unpack_from(endian + "ffff", buf, 112)
    gt = None
    if px != 0.0 and py != 0.0:
        # center-of-pixel anchor -> corner
        gt = (float(ulx) - px * 0.5, float(px), 0.0,
              float(uly) + py * 0.5, 0.0, -float(py))
    if ptype == 0:
        code, packed = "u1", False
    elif ptype == 1:
        code, packed = "u1", True
    elif ptype == 2:
        code, packed = "i2", False
    else:
        raise ValueError(f"LAN: unsupported pixel type {ptype}")
    if packed:
        # two 4-bit pixels a byte, high nibble first: unpack the BIL
        # rows to one byte a pixel
        row_bytes = (w + 1) // 2
        rows = read_band(buf, "u1", row_bytes, h * nbands, 128)
        nib = np.empty((h * nbands, 2 * row_bytes), np.uint8)
        nib[:, 0::2] = rows >> 4
        nib[:, 1::2] = rows & 0x0F
        arr = read_raw(nib[:, :w].tobytes(), code, w, h, nbands, "bil")
    else:
        arr = read_raw(buf, endian + code, w, h, nbands, "bil", 128)
    proj = struct.unpack_from(endian + "h", buf, 88)[0]
    return arr, gt, None, f"proj_code={proj}"


def format_lan(arr: np.ndarray, gt=None) -> bytes:
    """uint8/int16 north-up (h, w[, nb]) -> HEAD74 LAN bytes."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    code = arr.dtype.str.lstrip("<>=|")
    if code not in ("u1", "i2"):
        raise ValueError("LAN writer: uint8/int16 only")
    head = bytearray(128)
    head[0:6] = b"HEAD74"
    struct.pack_into("<hh", head, 6, 0 if code == "u1" else 2, nb)
    struct.pack_into("<ii", head, 16, w, h)
    if gt is not None and gt[1]:
        if gt[2] or gt[4] or gt[5] >= 0:
            raise ValueError("LAN writer: north-up grids only")
        struct.pack_into("<ffff", head, 112,
                         gt[0] + gt[1] * 0.5, gt[3] + gt[5] * 0.5,
                         gt[1], -gt[5])
    return bytes(head) + write_raw(arr, "<" + code, "bil")


def scan_lan(spark, path_glob: str, srid: int = 0):
    def reader(path):
        with open(path, "rb") as f:
            return parse_lan(f.read())

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def write_lan(df, out_dir: str) -> list[str]:
    def dumper(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.lan")
        with open(path, "wb") as f:
            f.write(format_lan(arr, gt))
        return path

    return write_files(df, out_dir, dumper)


# ---------------------------------------------------------------------------
# SNODAS
# ---------------------------------------------------------------------------

def parse_snodas_hdr(text: str) -> dict[str, str]:
    out = {}
    for line in text.splitlines():
        if ":" in line:
            k, v = line.split(":", 1)
            out.setdefault(k.strip(), v.strip())
    return out


def parse_snodas(hdr_text: str, data: bytes):
    """.hdr text + .dat bytes -> (arr north-up int16, gt, nodata,
    meta)."""
    kv = parse_snodas_hdr(hdr_text)
    w = int(kv["Number of columns"])
    h = int(kv["Number of rows"])
    minx = float(kv["Minimum x-axis coordinate"])
    maxx = float(kv["Maximum x-axis coordinate"])
    miny = float(kv["Minimum y-axis coordinate"])
    maxy = float(kv["Maximum y-axis coordinate"])
    nodata = float(kv.get("No data value", "-9999"))
    arr = read_raw(data, ">i2", w, h, 1, "bsq")
    gt = (minx, (maxx - minx) / w, 0.0, maxy, 0.0, -(maxy - miny) / h)
    meta = "|".join([kv.get("Description", ""),
                     kv.get("Data units", "")])
    return arr, gt, nodata, meta


def format_snodas(arr: np.ndarray, gt, nodata: float = -9999.0):
    """North-up int16 (h, w) -> (.hdr text, .dat big-endian bytes)."""
    arr = np.asarray(arr, np.int16)
    if arr.ndim != 2:
        raise ValueError("SNODAS writer: (h, w) int16 only")
    if gt[2] or gt[4] or gt[5] >= 0:
        raise ValueError("SNODAS writer: north-up grids only")
    h, w = arr.shape
    minx = float(gt[0])
    maxx = minx + w * float(gt[1])
    maxy = float(gt[3])
    miny = maxy + h * float(gt[5])
    lines = [
        "Format version: NOHRSC GIS/RS raster file v1.1",
        "Data type: 16-bit signed integer",
        "Data units: Meters",
        "Number of columns: %d" % w,
        "Number of rows: %d" % h,
        "Benchmark x-axis coordinate: %r" % minx,
        "Benchmark y-axis coordinate: %r" % miny,
        "Minimum x-axis coordinate: %r" % minx,
        "Maximum x-axis coordinate: %r" % maxx,
        "Minimum y-axis coordinate: %r" % miny,
        "Maximum y-axis coordinate: %r" % maxy,
        "No data value: %d" % int(nodata),
        "Horizontal datum: WGS84",
        "",
    ]
    return "\n".join(lines), write_raw(arr, ">i2")


def scan_snodas(spark, path_glob: str, srid: int = 4326):
    """Glob of .hdr files (the .dat companion read per task)."""
    def reader(path):
        with open(path, "r", encoding="latin-1") as f:
            hdr = f.read()
        stem = os.path.splitext(os.path.basename(path))[0]
        with open(_find_ci(os.path.dirname(path), stem + ".dat"),
                  "rb") as f:
            data = f.read()
        return parse_snodas(hdr, data)

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def write_snodas(df, out_dir: str) -> list[str]:
    def dumper(r, arr, gt, nd, out_dir):
        if arr.ndim == 3:
            arr = arr[:, :, 0]
        hdr, data = format_snodas(arr.astype(np.int16), gt,
                                  nd if nd is not None else -9999.0)
        path = os.path.join(out_dir, f"{r.image_id}.hdr")
        with open(path, "w") as f:
            f.write(hdr)
        with open(os.path.join(out_dir, f"{r.image_id}.dat"),
                  "wb") as f:
            f.write(data)
        return path

    return write_files(df, out_dir, dumper)


# ---------------------------------------------------------------------------
# FARSITE LCP
# ---------------------------------------------------------------------------

_LCP_NAMES = ["ELEVATION", "SLOPE", "ASPECT", "FUEL_MODEL",
              "CANOPY_COV", "CANOPY_HT", "CBH", "CBD", "DUFF",
              "CWD"]


def parse_lcp(buf: bytes):
    """.lcp bytes -> (arr north-up (h, w, nb) int16, gt, nodata,
    meta string LATITUDE|UNIT|band0;band1;...)."""
    if len(buf) < 7316:
        raise ValueError("LCP: header too short")
    crown = struct.unpack_from("<i", buf, 0)[0] - 20
    ground = struct.unpack_from("<i", buf, 4)[0] - 20
    if crown not in (0, 1) or ground not in (0, 1):
        raise ValueError("not a FARSITE LCP file")
    latitude = struct.unpack_from("<i", buf, 8)[0]
    w, h = struct.unpack_from("<ii", buf, 4164)
    east, west, north, south = struct.unpack_from("<dddd", buf, 4172)
    unit_code = struct.unpack_from("<i", buf, 4204)[0]
    cellx, celly = struct.unpack_from("<dd", buf, 4208)
    if w <= 0 or h <= 0:
        raise ValueError("LCP: bad dimensions")
    # canonical band indices present
    idx = [0, 1, 2, 3, 4]
    if crown:
        idx += [5, 6, 7]
    if ground:
        idx += [8, 9]
    arr = read_raw(buf, "<i2", w, h, len(idx), "bip", 7316)
    gt = (west, cellx, 0.0, north, 0.0, -celly)
    bandmeta = []
    for i in idx:
        unit = struct.unpack_from("<H", buf, 4224 + 2 * i)[0]
        lo, hi, num = struct.unpack_from("<iii", buf, 44 + 412 * i)
        fname = buf[4244 + 256 * i:4244 + 256 * i + 256] \
            .split(b"\0")[0].decode("latin-1")
        vals = ""
        if i == 3 and 0 < num <= 100:
            # only FUEL_MODEL surfaces its class list in the
            # reference; num+1 slots read, filtered to [min, max]
            vv = struct.unpack_from("<%di" % (num + 1),
                                    buf, 56 + 412 * i)
            vals = ",".join(str(v) for v in vv if lo <= v <= hi)
        bandmeta.append(
            f"{_LCP_NAMES[i]}:unit={unit},min={lo},max={hi},"
            f"classes={num},values={vals},file={fname}")
    desc = buf[6804:7316].split(b"\0")[0].decode("latin-1")
    meta = "|".join([str(latitude),
                     {0: "Meters", 1: "Feet"}.get(unit_code, "?"),
                     ";".join(bandmeta), desc])
    return arr, gt, None, meta


def format_lcp(arr: np.ndarray, gt, latitude: int = 0) -> bytes:
    """(h, w, 5/7/8/10) int16 -> FARSITE LCP bytes."""
    arr = np.asarray(arr, np.int16)
    if arr.ndim != 3 or arr.shape[2] not in (5, 7, 8, 10):
        raise ValueError("LCP writer: (h, w, 5/7/8/10) int16 only")
    if gt[2] or gt[4] or gt[5] >= 0:
        raise ValueError("LCP writer: north-up grids only")
    h, w, nb = arr.shape
    crown = 21 if nb in (8, 10) else 20
    ground = 21 if nb in (7, 10) else 20
    head = bytearray(7316)
    struct.pack_into("<iii", head, 0, crown, ground, int(latitude))
    struct.pack_into("<ii", head, 4164, w, h)
    west = float(gt[0])
    north = float(gt[3])
    east = west + w * float(gt[1])
    south = north + h * float(gt[5])
    struct.pack_into("<dddd", head, 4172, east, west, north, south)
    struct.pack_into("<i", head, 4204, 0)
    struct.pack_into("<dd", head, 4208, float(gt[1]), float(-gt[5]))
    idx = [0, 1, 2, 3, 4]
    if crown == 21:
        idx += [5, 6, 7]
    if ground == 21:
        idx += [8, 9]
    for j, i in enumerate(idx):
        band = arr[:, :, j]
        struct.pack_into("<iii", head, 44 + 412 * i,
                         int(band.min()), int(band.max()), -1)
    return bytes(head) + write_raw(arr, "<i2", "bip")


def scan_lcp(spark, path_glob: str, srid: int = 0):
    def reader(path):
        with open(path, "rb") as f:
            return parse_lcp(f.read())

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def write_lcp(df, out_dir: str) -> list[str]:
    def dumper(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.lcp")
        with open(path, "wb") as f:
            f.write(format_lcp(arr, gt))
        return path

    return write_files(df, out_dir, dumper)
