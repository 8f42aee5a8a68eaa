"""USGS ASCII DEM driver (.dem — the classic 7.5-minute / 1-degree
quad format).

Reference semantics: frmts/usgsdem/usgsdemdataset.cpp (the published
USGS DEM standard, Fortran fixed-field text):

- A-record probing exactly like the reference: old format data
  starts at 864; new format at 1024 (or 1025 when the records end
  with a newline), with the undocumented 893 and 918 header
  variants probed in the same order;
- integers are read by skip-whitespace-then-digits (stopping
  WITHOUT consuming the terminator), doubles as exact-width 24- or
  12-character fields with Fortran ``D`` exponents mapped to ``E``;
- header fields at the reference's byte offsets: 156 coordinate
  system + zone, 528 ground/vertical units, 546 the four SW/NW/NE/SE
  corners, 816 dx/dy/vres, 858 profile count, 890 datum code;
- dtype election: feet or fractional vertical resolution ->
  float32, else int16 (``nVUnit == 1 || fVRes < 1.0``);
- geographic files carry arc-second coordinates (divided by 3600),
  UTM files anchor x on the FIRST PROFILE's x-start and snap the y
  extent modulus the cell size; state-plane files are rejected by
  name (the reference resolves them through its state-plane tables);
- data is one B-record PROFILE PER COLUMN, each running south to
  north with its own y-start (sparse profiles leave -32767 nodata),
  values scaled by ``vres`` then offset by the profile's elevation
  datum; files with 1024-byte records re-align to the next 1024
  boundary after each profile (junk trailing values skipped, GDAL
  #1316 analog);
- datum -> srid: NAD27/WGS72/WGS84/NAD83 geographic 4267/4322/4326/
  4269, UTM 26700+z / 32200+z / 32600+z / 26900+z (foot-unit UTM ->
  0, the engine's registry is metre-based).

Spark shape: read-only one-task-per-file scan (the reference's
writer emits this format only for interchange; the engine's native
sinks are the binary grids). Conformance: tests/test_usgsdem.py pins
five autotest fixtures including the truncated, extra-values and
spaces-after-864 variants.
"""

from __future__ import annotations

import math
import os

import numpy as np

from ._util import glob_paths, raster_row, scan_files, write_files

NODATA = -32767


def _read_int(buf: bytes, pos: int):
    """ReadInt semantics: skip whitespace, parse [+-]digits, stop
    without consuming the terminator. -> (value, new_pos, ok)."""
    n = len(buf)
    while pos < n and buf[pos:pos + 1].isspace():
        pos += 1
    if pos >= n:
        return 0, pos, False
    c = buf[pos:pos + 1]
    sign, val = 1, 0
    if c == b"-":
        sign = -1
    elif c == b"+":
        pass
    elif c.isdigit():
        val = c[0] - 48
    else:
        return 0, pos + 1, False
    pos += 1
    while pos < n and buf[pos:pos + 1].isdigit():
        val = val * 10 + (buf[pos] - 48)
        pos += 1
    return sign * val, pos, True


def _read_double(buf: bytes, pos: int, width: int):
    """Exact-width Fortran double field with D exponents."""
    if pos + width > len(buf):
        return 0.0, pos, False
    field = buf[pos:pos + width].replace(b"D", b"E")
    try:
        v = float(field)
    except ValueError:
        v = 0.0
    return v, pos + width, True


def _dconvert(buf: bytes, off: int, width: int) -> float:
    return _read_double(buf, off, width)[0]


_GEOG_SRID = {1: 4267, 2: 4322, 3: 4326, 4: 4269}
_UTM_BASE = {1: 26700, 2: 32200, 3: 32600, 4: 26900}


def parse_usgsdem(buf: bytes):
    """.dem bytes -> (arr north-up, gt, srid, nodata). Raises for
    state-plane files."""
    # --- data-start probing (LoadFromFile order) ---
    v1, p, _ = _read_int(buf, 864)
    v2, p, _ = _read_int(buf, p)
    new_format = p >= 1024 or v1 != 1 or v2 != 1
    if new_format:
        i, p, _ = _read_int(buf, 1024)
        j, p, _ = _read_int(buf, p)
        if i != 1 or (j != 1 and j != 0):
            i, p, _ = _read_int(buf, 893)
            j, p, _ = _read_int(buf, p)
            if i != 1 or j != 1:
                i, p, _ = _read_int(buf, 918)
                j, p, _ = _read_int(buf, p)
                if i != 1 or j != 1:
                    raise ValueError("not a USGS DEM file")
                data_start = 918
            else:
                data_start = 893
        else:
            data_start = 1024
            if (buf[1024:1025] == b"\n"
                    and buf[1024 + 1024 + 1:1024 + 1024 + 2] == b"\n"):
                data_start = 1025
    else:
        data_start = 864

    cs, p, _ = _read_int(buf, 156)
    zone, p, _ = _read_int(buf, p)
    gunit, p, _ = _read_int(buf, 528)
    vunit, p, _ = _read_int(buf, p)
    dx = _dconvert(buf, 816, 12)
    dy = _dconvert(buf, 828, 12)
    vres = _dconvert(buf, 840, 12)
    if dy == 0:
        raise ValueError("USGSDEM: zero y resolution")
    dtype = np.float32 if (vunit == 1 or vres < 1.0) else np.int16
    corners = []
    off = 546
    for _k in range(4):  # SW, NW, NE, SE
        x = _dconvert(buf, off, 24)
        y = _dconvert(buf, off + 24, 24)
        corners.append((x, y))
        off += 48
    ext_min_x = min(corners[0][0], corners[1][0])
    ext_max_x = max(corners[2][0], corners[3][0])
    ext_min_y = min(corners[0][1], corners[3][1])
    ext_max_y = max(corners[1][1], corners[2][1])
    n_profiles, p, _ = _read_int(buf, 858)

    datum = 0
    if new_format:
        try:
            datum = int(buf[890:892])
        except ValueError:
            datum = 0

    geographic = cs not in (1, 2, -9999)
    if cs == 2:
        raise ValueError("USGSDEM: state-plane files are not supported "
                         "(reference resolves them via EPSG state-plane "
                         "tables)")
    if cs == 1 and not (-60 <= zone <= 60):
        geographic = True

    if not geographic:
        ext_min_y = math.floor(ext_min_y / dy) * dy
        ext_max_y = math.ceil(ext_max_y / dy) * dy
        # x anchored on the first profile's x-start
        pos = data_start
        for _k in range(4):
            _v, pos, _ = _read_int(buf, pos)
        dx_start, pos, _ = _read_double(buf, pos, 24)
        h = int((ext_max_y - ext_min_y) / dy + 1.5)
        w = n_profiles
        gt = (dx_start - dx / 2.0, dx, 0.0,
              ext_max_y + dy / 2.0, 0.0, -dy)
        if gunit == 1:
            srid = 0  # foot-unit UTM: no metre-based registry srid
        else:
            base = _UTM_BASE.get(datum if new_format else 1, 26700)
            srid = base + abs(zone) if zone >= 0 else 32700 + abs(zone)
    else:
        h = int((ext_max_y - ext_min_y) / dy + 1.5)
        w = n_profiles
        gt = ((ext_min_x - dx / 2.0) / 3600.0, dx / 3600.0, 0.0,
              (ext_max_y + dy / 2.0) / 3600.0, 0.0, -dy / 3600.0)
        srid = _GEOG_SRID.get(datum, 4267) if new_format else 4267

    if w <= 0 or h <= 0:
        raise ValueError("USGSDEM: invalid dimensions")

    # --- profiles: one per column, south-to-north ---
    arr = np.full((h, w), NODATA, dtype=np.float64)
    y_min_center = gt[3] + (h - 0.5) * gt[5]
    pos = data_start
    for i in range(w):
        _row, pos, ok = _read_int(buf, pos)
        if ok:
            _col, pos, ok = _read_int(buf, pos)
        cpoints = 0
        if ok:
            cpoints, pos, ok = _read_int(buf, pos)
        if ok:
            _ncols, pos, ok = _read_int(buf, pos)
        if ok:
            _dx_start, pos, ok = _read_double(buf, pos, 24)
        dy_start = 0.0
        if ok:
            dy_start, pos, ok = _read_double(buf, pos, 24)
        elev_off = 0.0
        if ok:
            elev_off, pos, ok = _read_double(buf, pos, 24)
        if ok:
            _zmin, pos, ok = _read_double(buf, pos, 24)
        if ok:
            _zmax, pos, ok = _read_double(buf, pos, 24)
        if not ok:
            raise ValueError(f"USGSDEM: truncated profile {i}")
        if geographic:
            dy_start /= 3600.0
        lygap = int((y_min_center - dy_start) / gt[5] + 0.5)
        for j in range(lygap, cpoints + lygap):
            iy = h - j - 1
            elev, pos, ok = _read_int(buf, pos)
            if not ok:
                raise ValueError(f"USGSDEM: truncated profile {i}")
            if 0 <= iy < h and elev != NODATA:
                arr[iy, i] = elev * vres + elev_off
        if data_start == 1024:
            pos = (pos + 1023) // 1024 * 1024

    if dtype == np.int16:
        out = np.where(arr == NODATA, NODATA,
                       np.clip(arr, -32768, 32767)).astype(np.int16)
    else:
        out = arr.astype(np.float32)
    return np.ascontiguousarray(out), gt, srid, float(NODATA)


def scan_usgsdem(spark, path_glob: str):
    """Glob of .dem files -> images-table rows, one task per file."""
    from .envi import OUT_SCHEMA

    def read(r):
        with open(r.path, "rb") as f:
            arr, gt, srid, nodata = parse_usgsdem(f.read())
        stem = os.path.splitext(os.path.basename(r.path))[0]
        return [raster_row(stem, arr, gt, srid, nodata)]

    return scan_files(spark, glob_paths(path_glob), read, OUT_SCHEMA)


def format_usgsdem(arr: np.ndarray, gt, datum: int = 3,
                   title: str = "GDAL_SPARK") -> bytes:
    """North-up int-valued array + GEOGRAPHIC geotransform ->
    new-format (1024-byte-record) USGS DEM bytes — the reference's
    CreateCopy shape (geographic arc-second coordinates, one
    south-to-north profile per column, metre vertical unit,
    vres 1)."""
    arr = np.asarray(arr)
    if arr.ndim != 2:
        raise ValueError("USGSDEM holds a single band")
    if gt[2] != 0.0 or gt[4] != 0.0 or gt[5] >= 0:
        raise ValueError("USGSDEM needs a north-up geotransform")
    h, w = arr.shape
    dx = gt[1] * 3600.0
    dy = -gt[5] * 3600.0
    min_x = (gt[0] + 0.5 * gt[1]) * 3600.0
    max_y = (gt[3] + 0.5 * gt[5]) * 3600.0
    min_y = max_y - (h - 1) * dy
    max_x = min_x + (w - 1) * dx

    def dfield(v: float, width: int = 24) -> bytes:
        return f"{v:{width}.15E}".replace("E", "D").encode("ascii")

    def ifield(v: int, width: int = 6) -> bytes:
        return f"{v:{width}d}".encode("ascii")

    a = bytearray(b" " * 1024)
    a[0:len(title)] = title.encode("ascii")[:144]
    a[150:156] = ifield(1)       # DEM level
    a[156:162] = ifield(0)       # coordinate system: geographic
    a[162:168] = ifield(0)       # zone
    a[528:534] = ifield(3)       # ground unit: arc-seconds
    a[534:540] = ifield(2)       # vertical unit: metres
    a[540:546] = ifield(4)       # sides
    off = 546                    # SW, NW, NE, SE corners
    for cx, cy in ((min_x, min_y), (min_x, max_y),
                   (max_x, max_y), (max_x, min_y)):
        a[off:off + 24] = dfield(cx)
        a[off + 24:off + 48] = dfield(cy)
        off += 48
    valid = arr[arr != NODATA]
    z0 = float(valid.min()) if valid.size else 0.0
    z1 = float(valid.max()) if valid.size else 0.0
    a[738:786] = f"{z0:24.15E}{z1:24.15E}".replace("E", "D", 4)[:48] \
        .encode("ascii").ljust(48)
    a[786:810] = dfield(0.0)     # rotation
    a[810:816] = ifield(1)       # accuracy code
    a[816:828] = f"{dx:12.6E}".replace("E", "D").encode("ascii")
    a[828:840] = f"{dy:12.6E}".replace("E", "D").encode("ascii")
    a[840:852] = f"{1.0:12.6E}".replace("E", "D").encode("ascii")
    a[852:858] = ifield(1)       # rows (of profiles)
    a[858:864] = ifield(w)       # profile count
    a[890:892] = f"{datum:2d}".encode("ascii")
    out = [bytes(a)]

    for i in range(w):
        col = arr[:, i][::-1]    # south to north
        rec = bytearray()
        rec += ifield(1) + ifield(i + 1) + ifield(h) + ifield(1)
        rec += dfield(min_x + i * dx)
        rec += dfield(min_y)
        rec += dfield(0.0)       # elevation offset
        vals = col[col != NODATA]
        rec += dfield(float(vals.min()) if vals.size else 0.0)
        rec += dfield(float(vals.max()) if vals.size else 0.0)
        for v in col:
            rec += ifield(int(v))
        pad = (-len(rec)) % 1024
        rec += b" " * pad
        out.append(bytes(rec))
    return b"".join(out)


def write_usgsdem(df, out_dir: str) -> list[str]:
    """Images-table rows (geographic srid) -> one .dem per row,
    written by the task that holds the row."""
    def dump_row(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.dem")
        with open(path, "wb") as f:
            f.write(format_usgsdem(arr, gt))
        return path

    return write_files(df, out_dir, dump_row)
