"""Geodetic/GIS raw driver family IV: ILWIS raster maps, NOAA
NGSGEOID binary geoid grids, NADCON LOSLAS shift grids, and
Scientific Software SIGDEM.

Reference semantics (each from its published format description):

- **ILWIS** (frmts/ilwis/ilwisdataset.cpp): ini-style ``.mpr``
  ([Map] ``Size=rows cols``, [MapStore] ``Data``/``Type``
  Byte|Int|Long|Float|Real/``SwapBytes``) beside the raw ``.mp#``
  twin (little-endian unless SwapBytes); georef from the ``.grf``
  companion's [GeoRefCorners] MinX..MaxY over the cell counts;
- **NGSGEOID** (frmts/ngsgeoid/ngsgeoiddataset.cpp): 44-byte header
  SLAT/WLON/DLAT/DLON doubles + NLAT/NLON/IKIND int32s, endianness
  elected by IKIND==1 in either byte order; float32 rows stored
  SOUTH-first (flipped on read); half-cell-centered georef
  ``gt0 = WLON - DLON/2``, ``gt3 = SLAT + NLAT*DLAT - DLAT/2``;
- **LOSLAS** (frmts/raw/loslasdataset.cpp): 56-char description +
  8-char NADGRD/GEOGRD magic, LE int32 width/height/zcount @64,
  LE float32 origin-lon/dlon/origin-lat/dlat/angle @76; records of
  ``width*4 + 4`` bytes (4-byte prefix) INCLUDING the header
  record; data rows south-first, column 0 skipped; same
  half-cell-centered georef as the reference;
- **SIGDEM** (frmts/sigdem/sigdemdataset.cpp): ``SIGDEM`` magic +
  BIG-endian header at the byte-verified offsets (version @6,
  srid @8, X/Y/Z offset+scale doubles @12..59, min/max bounds
  @60..107, cols/rows @108/112, cell dims @116/124); int32 BE
  cells stored BOTTOM-UP, ``value = offsetZ + n/scaleZ``,
  0x80000000 is nodata.

Spark shape: one task per dataset both ways.
"""

from __future__ import annotations

import os
import struct

import numpy as np

from ._raw import read_band, read_raw, write_raw
from ._util import glob_paths, scan_files, write_files
from .pds import _find_ci
from .rawgrids import IMG_SCHEMA, _file_rows

_ILWIS_TYPES = {"BYTE": "u1", "INT": "i2", "LONG": "i4",
                "FLOAT": "f4", "REAL": "f8"}
SIGDEM_NODATA = -0x80000000


def _ini(text: str) -> dict[str, str]:
    """[section] key=value -> {'section.key': value} (lowercase)."""
    out = {}
    section = ""
    for line in text.splitlines():
        line = line.strip()
        if line.startswith("[") and line.endswith("]"):
            section = line[1:-1].strip().lower()
        elif "=" in line:
            k, v = line.split("=", 1)
            out.setdefault(section + "." + k.strip().lower(),
                           v.strip())
    return out


def parse_ilwis(mpr_text: str, data: bytes, grf_text: str = ""):
    """.mpr header + .mp# bytes (+ .grf georef) -> (arr north-up,
    gt-or-None, nodata, meta)."""
    kv = _ini(mpr_text)
    size = kv.get("map.size", "")
    if not size:
        raise ValueError("ILWIS: no [Map] Size")
    h, w = (int(t) for t in size.split()[:2])
    st = kv.get("mapstore.type", "Byte").upper()
    code = _ILWIS_TYPES.get(st)
    if code is None:
        raise ValueError(f"ILWIS: store type {st!r}")
    endian = ">" if kv.get("mapstore.swapbytes",
                           "No").lower().startswith("y") else "<"
    arr = read_raw(data, endian + code, w, h, 1, "bsq")
    gt = None
    if grf_text:
        gkv = _ini(grf_text)
        try:
            minx = float(gkv["georefcorners.minx"])
            miny = float(gkv["georefcorners.miny"])
            maxx = float(gkv["georefcorners.maxx"])
            maxy = float(gkv["georefcorners.maxy"])
            gt = (minx, (maxx - minx) / w, 0.0,
                  maxy, 0.0, -(maxy - miny) / h)
        except KeyError:
            pass
    meta = kv.get("ilwis.description", "")
    return arr, gt, None, meta


def format_ilwis(arr: np.ndarray, gt):
    """North-up (h, w) -> (.mpr text, .mp# bytes, .grf text)."""
    arr = np.asarray(arr)
    if arr.ndim != 2:
        raise ValueError("ILWIS writer: single-band (h, w) only")
    code = arr.dtype.str.lstrip("<>=|")
    st = {v: k.capitalize() for k, v in _ILWIS_TYPES.items()}.get(code)
    if st is None:
        raise ValueError(f"ILWIS writer: unsupported dtype {arr.dtype}")
    if gt[2] or gt[4] or gt[5] >= 0:
        raise ValueError("ILWIS writer: north-up grids only")
    h, w = arr.shape
    mpr = ("[Ilwis]\nClass=Raster Map\nType=BaseMap\n"
           "[Map]\nGeoRef=@GRF@\nSize=%d %d\nType=MapStore\n"
           "[MapStore]\nData=@DATA@\nRowLength=%d\n"
           "StartOffset=0\nSwapBytes=No\nType=%s\n"
           % (h, w, w, st))
    minx = float(gt[0])
    maxy = float(gt[3])
    maxx = minx + w * float(gt[1])
    miny = maxy + h * float(gt[5])
    grf = ("[GeoRef]\nColumns=%d\nLines=%d\nType=GeoRefCorners\n"
           "[GeoRefCorners]\nCornersOfCorners=Yes\n"
           "MinX=%r\nMinY=%r\nMaxX=%r\nMaxY=%r\n"
           % (w, h, minx, miny, maxx, maxy))
    return mpr, write_raw(arr, "<" + code), grf


def scan_ilwis(spark, path_glob: str, srid: int = 0):
    """Glob of .mpr headers (the .mp# twin and .grf georef read per
    task)."""
    def reader(path):
        with open(path, encoding="latin-1") as f:
            mpr = f.read()
        kv = _ini(mpr)
        dirname = os.path.dirname(path)
        stem = os.path.splitext(os.path.basename(path))[0]
        data_name = kv.get("mapstore.data", stem + ".mp#")
        with open(_find_ci(dirname, data_name), "rb") as f:
            data = f.read()
        grf = ""
        grf_name = kv.get("map.georef", "")
        if grf_name and grf_name.lower() != "none.grf":
            try:
                with open(_find_ci(dirname, grf_name),
                          encoding="latin-1") as f:
                    grf = f.read()
            except (OSError, ValueError):
                grf = ""
        return parse_ilwis(mpr, data, grf)

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def write_ilwis(df, out_dir: str) -> list[str]:
    def dumper(r, arr, gt, nd, out_dir):
        if arr.ndim == 3:
            arr = arr[:, :, 0]
        mpr, data, grf = format_ilwis(arr, gt)
        base = r.image_id
        mpr = mpr.replace("@GRF@", base + ".grf") \
                 .replace("@DATA@", base + ".mp#")
        path = os.path.join(out_dir, base + ".mpr")
        with open(path, "w") as f:
            f.write(mpr)
        with open(os.path.join(out_dir, base + ".mp#"), "wb") as f:
            f.write(data)
        with open(os.path.join(out_dir, base + ".grf"), "w") as f:
            f.write(grf)
        return path

    return write_files(df, out_dir, dumper)


def parse_ngsgeoid(buf: bytes):
    """.bin geoid bytes -> (arr north-up float32, gt, nodata None,
    meta endian)."""
    if len(buf) < 44:
        raise ValueError("NGSGEOID: header too short")
    for endian in ("<", ">"):
        ikind = struct.unpack_from(endian + "i", buf, 40)[0]
        if ikind == 1:
            break
    else:
        raise ValueError("not an NGSGEOID file (IKIND != 1)")
    slat, wlon, dlat, dlon = struct.unpack_from(endian + "dddd", buf, 0)
    nlat, nlon = struct.unpack_from(endian + "ii", buf, 32)
    if nlat <= 0 or nlon <= 0 or dlat <= 1e-15 or dlon <= 1e-15:
        raise ValueError("NGSGEOID: invalid header")
    if not (-90.0 <= slat and slat + nlat * dlat <= 90.0
            and -180.0 <= wlon and wlon + nlon * dlon <= 360.0):
        raise ValueError("NGSGEOID: bounds out of range")
    # south-first -> north-up
    arr = read_raw(buf, endian + "f4", nlon, nlat, 1, "bsq", 44,
                   bottom_up=True)
    gt = (wlon - dlon / 2.0, dlon, 0.0,
          slat + nlat * dlat - dlat / 2.0, 0.0, -dlat)
    return arr, gt, None, "little" if endian == "<" else "big"


def format_ngsgeoid(arr: np.ndarray, gt) -> bytes:
    """North-up float32 (h, w) -> little-endian .bin bytes."""
    arr = np.asarray(arr, np.float32)
    if arr.ndim != 2:
        raise ValueError("NGSGEOID writer: (h, w) float32 only")
    if gt[2] or gt[4] or gt[5] >= 0:
        raise ValueError("NGSGEOID writer: north-up grids only")
    h, w = arr.shape
    dlon = float(gt[1])
    dlat = float(-gt[5])
    wlon = float(gt[0]) + dlon / 2.0
    slat = float(gt[3]) - h * dlat + dlat / 2.0
    head = struct.pack("<ddddiii", slat, wlon, dlat, dlon, h, w, 1)
    return head + write_raw(arr, "<f4", bottom_up=True)


def parse_loslas(buf: bytes):
    """.los/.las/.geo bytes -> (arr north-up float32, gt, nodata,
    meta magic)."""
    if len(buf) < 96:
        raise ValueError("LOSLAS: header too short")
    magic = buf[56:64].decode("latin-1", "replace").strip()
    w, h, _zc = struct.unpack_from("<iii", buf, 64)
    if w <= 0 or h <= 0 or w > 100000 or h > 100000:
        raise ValueError("LOSLAS: bad dimensions")
    min_lon, dlon, min_lat, dlat, _ang = struct.unpack_from(
        "<fffff", buf, 76)
    rec = w * 4 + 4
    # records start after the header record; rows south-first; each
    # record carries a 4-byte prefix
    arr = read_band(buf, "<f4", w, h, h * rec + 4, 4, -rec)
    gt = (min_lon - dlon * 0.5, float(dlon), 0.0,
          min_lat + (h - 0.5) * dlat, 0.0, -float(dlat))
    return arr, gt, None, magic


def format_loslas(arr: np.ndarray, gt, kind: str = "NADGRD") -> bytes:
    """North-up float32 (h, w) -> .los/.las bytes."""
    arr = np.asarray(arr, np.float32)
    if arr.ndim != 2:
        raise ValueError("LOSLAS writer: (h, w) float32 only")
    if gt[2] or gt[4] or gt[5] >= 0:
        raise ValueError("LOSLAS writer: north-up grids only")
    h, w = arr.shape
    dlon = float(gt[1])
    dlat = float(-gt[5])
    min_lon = float(gt[0]) + dlon * 0.5
    min_lat = float(gt[3]) - (h - 0.5) * dlat
    rec = w * 4 + 4
    if rec < 96:
        # the header record shares the data record length; 96 bytes
        # of header fields need width >= 23
        raise ValueError("LOSLAS writer: grid width must be >= 23")
    head = bytearray(rec)
    head[0:56] = b"NADCON EXTRACTED REGION".ljust(56)
    head[56:64] = kind.ljust(8).encode("latin-1")[:8]
    struct.pack_into("<iii", head, 64, w, h, 1)
    struct.pack_into("<fffff", head, 76, min_lon, dlon, min_lat,
                     dlat, 0.0)
    # a zero 4-byte prefix per record: a 0.0 column before each row
    return bytes(head) + write_raw(np.pad(arr, ((0, 0), (1, 0))), "<f4",
                                   bottom_up=True)


def parse_sigdem(buf: bytes):
    """SIGDEM bytes -> (arr north-up float64, gt, nodata NaN-mask
    applied, meta srid)."""
    if buf[:6] != b"SIGDEM":
        raise ValueError("not a SIGDEM file")
    (version,) = struct.unpack_from(">h", buf, 6)
    (srid,) = struct.unpack_from(">i", buf, 8)
    (_ox, _sx, _oy, _sy, oz, sz) = struct.unpack_from(">6d", buf, 12)
    (minx, miny, _minz, _maxx, maxy, _maxz) = struct.unpack_from(
        ">6d", buf, 60)
    (w, h) = struct.unpack_from(">ii", buf, 108)
    (xdim, ydim) = struct.unpack_from(">dd", buf, 116)
    if w <= 0 or h <= 0:
        raise ValueError("SIGDEM: bad dimensions")
    need = w * h * 4
    body = buf[132:132 + need]
    if len(body) < need:
        body = body + struct.pack(">i", SIGDEM_NODATA) * (
            (need - len(body) + 3) // 4)
    raw = np.frombuffer(body[:need], ">i4").reshape(h, w)[::-1]
    inv = 1.0 / sz if sz else 0.0
    arr = oz + raw.astype(np.float64) * inv
    arr[raw == SIGDEM_NODATA] = np.nan
    arr = np.ascontiguousarray(arr)
    gt = (minx, xdim, 0.0, maxy, 0.0, -ydim)
    return arr, gt, float("nan"), str(srid)


def format_sigdem(arr: np.ndarray, gt, scale: float = 1000.0,
                  srid: int = 0) -> bytes:
    """North-up float array -> SIGDEM bytes (z quantized 1/scale)."""
    arr = np.asarray(arr, np.float64)
    if arr.ndim != 2:
        raise ValueError("SIGDEM writer: (h, w) only")
    if gt[2] or gt[4] or gt[5] >= 0:
        raise ValueError("SIGDEM writer: north-up grids only")
    h, w = arr.shape
    minx = float(gt[0])
    maxy = float(gt[3])
    maxx = minx + w * float(gt[1])
    miny = maxy + h * float(gt[5])
    finite = arr[np.isfinite(arr)]
    minz = float(finite.min()) if finite.size else 0.0
    maxz = float(finite.max()) if finite.size else 0.0
    head = bytearray(132)
    head[0:6] = b"SIGDEM"
    struct.pack_into(">h", head, 6, 1)
    struct.pack_into(">i", head, 8, int(srid))
    struct.pack_into(">6d", head, 12, minx, 1.0, miny, 1.0, 0.0,
                     float(scale))
    struct.pack_into(">6d", head, 60, minx, miny, minz, maxx, maxy,
                     maxz)
    struct.pack_into(">ii", head, 108, w, h)
    struct.pack_into(">dd", head, 116, float(gt[1]), float(-gt[5]))
    quant = np.where(np.isfinite(arr),
                     np.rint(arr * scale), SIGDEM_NODATA)
    return bytes(head) + write_raw(quant, ">i4", bottom_up=True)


def scan_ngsgeoid(spark, path_glob: str, srid: int = 4326):
    def reader(path):
        with open(path, "rb") as f:
            return parse_ngsgeoid(f.read())

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def write_ngsgeoid(df, out_dir: str) -> list[str]:
    def dumper(r, arr, gt, nd, out_dir):
        if arr.ndim == 3:
            arr = arr[:, :, 0]
        path = os.path.join(out_dir, f"{r.image_id}.bin")
        with open(path, "wb") as f:
            f.write(format_ngsgeoid(arr.astype(np.float32), gt))
        return path

    return write_files(df, out_dir, dumper)


def scan_loslas(spark, path_glob: str, srid: int = 4326):
    def reader(path):
        with open(path, "rb") as f:
            return parse_loslas(f.read())

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def write_loslas(df, out_dir: str, ext: str = "los") -> list[str]:
    def dumper(r, arr, gt, nd, out_dir):
        if arr.ndim == 3:
            arr = arr[:, :, 0]
        path = os.path.join(out_dir, f"{r.image_id}.{ext}")
        with open(path, "wb") as f:
            f.write(format_loslas(arr.astype(np.float32), gt))
        return path

    return write_files(df, out_dir, dumper)


def scan_sigdem(spark, path_glob: str, srid: int = 0):
    def reader(path):
        with open(path, "rb") as f:
            return parse_sigdem(f.read())

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def write_sigdem(df, out_dir: str, scale: float = 1000.0) -> list[str]:
    def dumper(r, arr, gt, nd, out_dir):
        if arr.ndim == 3:
            arr = arr[:, :, 0]
        path = os.path.join(out_dir, f"{r.image_id}.sdem")
        with open(path, "wb") as f:
            f.write(format_sigdem(arr, gt, scale=scale))
        return path

    return write_files(df, out_dir, dumper)
