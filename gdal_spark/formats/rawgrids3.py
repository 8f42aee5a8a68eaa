"""Raw-header grid family III: Northwood GRD/GRC, Vexcel MFF2
(HKV), GSC Geogrid, Generic Binary (.bil+.hdr), NSIDC sea-ice bin.

Reference semantics (re-derived from the published format
descriptions; reference drivers named for parity):

- **Northwood/VerticalMapper GRD + GRC** (frmts/northwood/):
  1024-byte binary header — ``HGPC1`` magic, u16 dims at 9/11 (u32
  fallback at 128/132), f64 min/max X/Y at 13/21/29/37 (cell
  CENTERS: the geotransform backs off half a step, step =
  (maxX-minX)/(nx-1)), f32 zmin/zmax at 45/49, color inflection
  table at 516 (u16 count; 7-byte zVal+RGB entries at 518),
  bits-per-pixel from byte 1023; GRD payload = u16 LE rows at 1024
  where 0 is nodata (-1e37) and z = zmin + (raw-1)·(zmax-zmin)/65534;
  the THREE derived color bands replicate the reference's 4096-entry
  color map (createIP linear ramps between inflection points, indexed
  raw/16); GRC payload = classified u8/u16 rows at 1024 followed by
  the class dictionary;
- **Vexcel MFF2 / HKV** (frmts/raw/hkvdataset.cpp): a DIRECTORY
  containing ``attrib`` (key = value: extent.cols/rows,
  pixel.size bits, pixel.encoding { unsigned twos-complement
  ieee-754 }, pixel.field { real complex }, pixel.order { lsbf
  msbf }, channel.enumeration), raw ``image_data``, and an optional
  ``georef`` corner-coordinate file carried as metadata;
- **GSC Geogrid** (frmts/raw/gscdataset.cpp): Fortran
  record-markered float32 LE — record 1 the i32 header (record
  length, pixels, lines, flag 2), record 2 eight f32 of georef
  (gt = (f[2], f[0], 0, f[5], 0, -f[1])), data records of
  pixels·4 bytes at stride reclen+8 from offset 2·reclen+4+8·row,
  nodata -1.0000000150474662e+30;
- **Generic Binary** (frmts/raw/genbindataset.cpp): ASCII ``.hdr``
  (BANDS/ROWS/COLS/INTERLEAVING/DATATYPE U8-U16-S16-F32…/
  BYTE_ORDER/UL_X_COORDINATE…/PIXEL_WIDTH/HEIGHT) beside a raw
  BSQ/BIL/BIP payload; short payloads zero-fill (the reference
  reads whatever rows exist);
- **NSIDCbin** (frmts/raw/nsidcbindataset.cpp): NSIDC north/south
  polar-stereographic sea-ice concentration — 300-byte ASCII-ish
  header (dims as text at offsets 6/12, hemisphere from the
  filename ``_n``/``_s``), u8 payload, the published 25 km grid
  anchors (north: -3837500/5837500, south: -3950000/4350000).

Spark shape: one task per dataset, standard images-table rows.
"""

from __future__ import annotations

import os
import re
import struct

import numpy as np

from ._raw import read_band, read_raw, write_raw
from ._util import glob_paths, local_path, raster_row, scan_files

GRD_NODATA = -1.0e37
GSC_NODATA = -1.0000000150474662199e+30


# ----------------------------------------------------------- NWT GRD
def _nwt_header(buf: bytes):
    if buf[:4] not in (b"HGPC", b"HGCC"):
        # magic per the reference identify: 'HGPC' grd / grc shares
        pass
    h = {}
    nx = struct.unpack_from("<H", buf, 9)[0]
    ny = struct.unpack_from("<H", buf, 11)[0]
    if nx == 0:
        nx = struct.unpack_from("<I", buf, 128)[0]
    if ny == 0:
        ny = struct.unpack_from("<I", buf, 132)[0]
    h["nx"], h["ny"] = nx, ny
    (h["minx"], h["maxx"], h["miny"],
     h["maxy"]) = struct.unpack_from("<dddd", buf, 13)
    h["zmin"], h["zmax"] = struct.unpack_from("<ff", buf, 45)
    h["bpp_code"] = buf[1023]
    n_inf = struct.unpack_from("<H", buf, 516)[0]
    infl = []
    for i in range(n_inf):
        z = struct.unpack_from("<f", buf, 518 + 7 * i)[0]
        r, g, b = buf[522 + 7 * i:525 + 7 * i]
        infl.append((z, r, g, b))
    h["inflections"] = infl
    if nx > 1:
        h["step"] = (h["maxx"] - h["minx"]) / (nx - 1)
    else:
        h["step"] = 1.0
    h["gt"] = (h["minx"] - h["step"] * 0.5, h["step"], 0.0,
               h["maxy"] + h["step"] * 0.5, 0.0, -h["step"])
    return h


def _linear_color(lo, hi, z):
    zl, rl, gl, bl = lo
    zh, rh, gh, bh = hi
    if z < zl:
        return rl, gl, bl
    if z > zh:
        return rh, gh, bh
    s = (z - zl) / (zh - zl)
    return (int(s * (rh - rl) + rl + 0.5),
            int(s * (gh - gl) + gl + 0.5),
            int(s * (bh - bl) + bl + 0.5))


def _create_ip(index, rgb, cmap, wm):
    """The reference's createIP linear ramp fill."""
    if index == 0:
        cmap[0] = rgb
        return 0
    if index <= wm:
        return wm
    r0, g0, b0 = cmap[wm]
    r, g, b = rgb
    span = index - wm
    for i in range(wm + 1, index):
        t = i - wm
        cmap[i] = (int(r0 + t * (r - r0) / span + 0.5),
                   int(g0 + t * (g - g0) / span + 0.5),
                   int(b0 + t * (b - b0) / span + 0.5))
    cmap[index] = rgb
    return index


def nwt_colormap(h, size=4096):
    """Replicates nwt_LoadColors: 4096-entry map over [zmin, zmax]."""
    cmap = [(0, 0, 0)] * size
    wm = _create_ip(0, (255, 255, 255), cmap, 0)
    infl = h["inflections"]
    if not infl:
        return cmap
    zmin, zmax = h["zmin"], h["zmax"]
    if zmin <= infl[0][0]:
        wm = _create_ip(1, infl[0][1:], cmap, wm)
        i = 1
    else:
        for i in range(1, len(infl)):
            if zmin < infl[i][0]:
                wm = _create_ip(
                    1, _linear_color(infl[i - 1], infl[i], zmin),
                    cmap, wm)
                break
        else:
            i = len(infl)
    if i >= len(infl):
        wm = _create_ip(1, infl[-1][1:], cmap, wm)
        _create_ip(size - 1, infl[-1][1:], cmap, wm)
        return cmap
    index = 0
    while i < len(infl):
        if zmax < infl[i][0]:
            index = size - 1
            wm = _create_ip(
                index, _linear_color(infl[i - 1], infl[i], zmax),
                cmap, wm)
            break
        index = int(((infl[i][0] - zmin) / (zmax - zmin)) * size)
        if index >= size:
            index = size - 1
        wm = _create_ip(index, infl[i][1:], cmap, wm)
        i += 1
    if index < size - 1:
        _create_ip(size - 1, infl[-1][1:], cmap, wm)
    return cmap


def parse_nwt_grd(buf: bytes):
    """.grd bytes -> (z float32 (h, w), (r, g, b) uint8 bands, gt).
    raw==0 -> nodata -1e37; bands 1-3 are the reference's derived
    color-map bands (ColorMap[raw/16])."""
    h = _nwt_header(buf)
    nx, ny = h["nx"], h["ny"]
    if len(buf) < 1024 + 2 * nx * ny:
        raise ValueError("NWT_GRD: truncated grid")
    raw = read_raw(buf, "<u2", nx, ny, 1, "bsq", 1024)
    scale = (h["zmax"] - h["zmin"]) / 65534.0
    z = np.where(raw == 0, np.float32(GRD_NODATA),
                 (h["zmin"] + (raw.astype(np.float64) - 1) *
                  scale).astype(np.float32))
    cmap = np.array(nwt_colormap(h), dtype=np.uint8)
    idx = (raw >> 4).astype(np.int32)
    rgb = cmap[idx]
    return (z.astype(np.float32), (rgb[:, :, 0], rgb[:, :, 1],
                                   rgb[:, :, 2]), h["gt"])


def parse_nwt_grc(buf: bytes):
    """.grc bytes -> (classified uint8/16 (h, w), gt)."""
    h = _nwt_header(buf)
    nx, ny = h["nx"], h["ny"]
    code = h["bpp_code"]
    bits = 16 if code == 0x80 or code == 0 else (code & 0x7F) * 4
    if code & 0x80 and code != 0x80:
        bits = (code & 0x7F) * 4
    # derive from payload size when ambiguous
    avail = len(buf) - 1024
    for cand in (1, 2, 4):
        if nx * ny * cand <= avail:
            bpp = cand
    for cand in (4, 2, 1):
        if nx * ny * cand <= avail:
            bpp = cand
            break
    dt = {1: "u1", 2: "<u2", 4: "<u4"}[bpp]
    return read_raw(buf, dt, nx, ny, 1, "bsq", 1024), h["gt"]


# -------------------------------------------------------------- MFF2
def _parse_attrib(text: str):
    out = {}
    for line in text.splitlines():
        if "=" not in line:
            continue
        k, v = line.split("=", 1)
        v = v.strip()
        m = re.match(r"\{\s*(.*)\}", v)
        if m:
            # pick the starred alternative
            starred = [t for t in m.group(1).split() if
                       t.startswith("*")]
            v = (starred[0][1:] if starred
                 else m.group(1).split()[0])
        out[k.strip()] = v
    return out


def _mff2_dtype(attr):
    bits = int(attr.get("pixel.size", 8))
    enc = attr.get("pixel.encoding", "unsigned")
    field = attr.get("pixel.field", "real")
    order = attr.get("pixel.order", "lsbf")
    e = "<" if order == "lsbf" else ">"
    if field == "complex":
        return np.dtype(f"{e}c{bits // 8}")
    if enc == "ieee-754":
        return np.dtype(f"{e}f{bits // 8}")
    if enc == "twos-complement":
        return np.dtype(f"{e}i{bits // 8}")
    return np.dtype(f"{e}u{bits // 8}")


def parse_mff2(dirpath: str):
    """MFF2 dataset directory -> (bands list, georef dict)."""
    dirpath = local_path(dirpath)
    with open(os.path.join(dirpath, "attrib")) as f:
        attr = _parse_attrib(f.read())
    w = int(attr["extent.cols"])
    h = int(attr["extent.rows"])
    nb = int(attr.get("channel.enumeration", 1))
    dt = _mff2_dtype(attr)
    with open(os.path.join(dirpath, "image_data"), "rb") as f:
        data = f.read()
    interleave = attr.get("channel.interleave", "pixel")
    # sequential (band) / tile unsupported -> band
    arr = read_raw(data, dt, w, h, nb,
                   "bip" if interleave == "pixel" else "bsq")
    bands = [arr] if nb == 1 else [arr[:, :, i] for i in range(nb)]
    georef = {}
    gpath = os.path.join(dirpath, "georef")
    if os.path.exists(gpath):
        with open(gpath) as f:
            georef = _parse_attrib(f.read())
    return [np.ascontiguousarray(b) for b in bands], georef


def write_mff2(dirpath: str, bands, georef=None):
    """Band arrays -> an MFF2 dataset directory (attrib +
    image_data [+ georef])."""
    dirpath = local_path(dirpath)
    os.makedirs(dirpath, exist_ok=True)
    b0 = np.ascontiguousarray(bands[0])
    h, w = b0.shape
    nb = len(bands)
    dt = b0.dtype
    if dt.kind == "f":
        enc = "ieee-754"
    elif dt.kind == "i":
        enc = "twos-complement"
    else:
        enc = "unsigned"
    attr = [
        f"channel.enumeration = {nb}",
        "channel.interleave = { *pixel tile sequential }",
        f"extent.cols = {w}",
        f"extent.rows = {h}",
        ("pixel.encoding = { "
         + " ".join(("*" if e == enc else "") + e for e in
                    ("unsigned", "twos-complement", "ieee-754"))
         + " }"),
        f"pixel.size = {dt.itemsize * 8}",
        "pixel.field = { *real complex }",
        "pixel.order = { *lsbf msbf }",
        "version = 1.1",
    ]
    with open(os.path.join(dirpath, "attrib"), "w") as f:
        f.write("\n".join(attr) + "\n")
    with open(os.path.join(dirpath, "image_data"), "wb") as f:
        f.write(write_raw(np.stack(bands, axis=-1), dt.newbyteorder("<"),
                          "bip"))
    if georef:
        with open(os.path.join(dirpath, "georef"), "w") as f:
            for k, v in georef.items():
                f.write(f"{k}={v}\n")


# --------------------------------------------------------------- GSC
def parse_gsc(buf: bytes):
    """.gsc bytes -> (float32 (h, w), gt)."""
    reclen, npix, nlines, flag = struct.unpack_from("<iiii", buf, 0)
    if flag != 2 or reclen != npix * 4:
        raise ValueError("GSC: not a Geogrid file")
    full = reclen + 8
    hdr2 = struct.unpack_from("<8f", buf, full + 12)
    gt = (hdr2[2], hdr2[0], 0.0, hdr2[5], 0.0, -hdr2[1])
    # Fortran records: a 4-byte length before and after each row
    return read_band(buf, "<f4", npix, nlines, full * 2 + 4, 4, full), gt


def format_gsc(arr: np.ndarray, gt) -> bytes:
    """Writer for the Fortran-record GSC layout the reader above
    parses: record 1's payload opens with (pixels, lines, 2);
    record 2's payload carries the eight georef floats at +8 (the
    reference reads them at byte reclen+20). Needs width >= 10 so
    the georef floats fit inside record 2."""
    arr = np.ascontiguousarray(arr, dtype=np.float32)
    h, w = arr.shape
    if w < 10:
        raise ValueError("GSC: width must be >= 10 (georef record)")
    reclen = w * 4
    out = bytearray()
    rec1 = struct.pack("<iii", w, h, 2) + b"\x00" * (reclen - 12)
    out += struct.pack("<i", reclen) + rec1 + struct.pack("<i",
                                                          reclen)
    hdr2 = (b"\x00" * 8 +
            struct.pack("<8f", gt[1], -gt[5], gt[0], 0.0, 0.0,
                        gt[3], 0.0, 0.0))
    hdr2 += b"\x00" * (reclen - len(hdr2))
    out += struct.pack("<i", reclen) + hdr2 + struct.pack("<i",
                                                          reclen)
    for row in range(h):
        out += struct.pack("<i", reclen)
        out += arr[row].astype("<f4").tobytes()
        out += struct.pack("<i", reclen)
    return bytes(out)


# ------------------------------------------------------------ GenBin
_GENBIN_TYPES = {"U8": np.uint8, "S8": np.int8, "U16": "u2",
                 "S16": "i2", "F32": "f4", "F64": "f8",
                 "U32": "u4", "S32": "i4"}


def parse_genbin(hdr_text: str, data: bytes, window=None):
    """.hdr text + .bil bytes -> (bands list, gt). Short payloads
    zero-fill. window=(x0, y0, w, h) reads a sub-window (the
    reference reads row-by-row, so huge declared grids with
    truncated payloads are still addressable)."""
    kv = {}
    for line in hdr_text.splitlines():
        if ":" in line:
            k, v = line.split(":", 1)
            kv[k.strip().upper()] = v.strip()
    nb = int(kv.get("BANDS", 1))
    ny = int(kv.get("ROWS"))
    nx = int(kv.get("COLS"))
    interleave = kv.get("INTERLEAVING", "BSQ").upper()
    dtname = kv.get("DATATYPE", "U8").upper()
    dt = np.dtype(_GENBIN_TYPES[dtname])
    order = kv.get("BYTE_ORDER", "NA").upper()
    if dt.itemsize > 1 and order not in ("NA", ""):
        dt = dt.newbyteorder("<" if "LSB" in order else ">")
    ulx = float(kv.get("UL_X_COORDINATE", 0.0))
    uly = float(kv.get("UL_Y_COORDINATE", 0.0))
    pw = float(kv.get("PIXEL_WIDTH", 1.0))
    ph = float(kv.get("PIXEL_HEIGHT", 1.0))
    gt = (ulx - pw / 2, pw, 0.0, uly + ph / 2, 0.0, -ph)
    x0, y0, w, h = window or (0, 0, nx, ny)
    isz = dt.itemsize
    pixel, line, band = {
        "BSQ": (isz, nx * isz, ny * nx * isz),
        "BIL": (isz, nb * nx * isz, nx * isz),
    }.get(interleave, (nb * isz, nb * nx * isz, isz))  # BIP
    return [read_band(data, dt, w, h, b * band + y0 * line + x0 * pixel,
                      pixel, line) for b in range(nb)], gt


def write_genbin(path: str, bands, gt):
    """Band arrays -> .bil + .hdr (BIL interleave)."""
    path = local_path(path)
    b0 = np.ascontiguousarray(bands[0])
    h, w = b0.shape
    name = {np.dtype(np.uint8): "U8", np.dtype(np.int16): "S16",
            np.dtype(np.uint16): "U16",
            np.dtype(np.float32): "F32"}[b0.dtype]
    hdr = [
        f"BANDS: {len(bands)}", f"ROWS: {h}", f"COLS: {w}",
        "INTERLEAVING: BIL", f"DATATYPE: {name}",
        "BYTE_ORDER: LSBFIRST",
        f"UL_X_COORDINATE: {gt[0] + gt[1] / 2:.6f}",
        f"UL_Y_COORDINATE: {gt[3] + gt[5] / 2:.6f}",
        f"PIXEL_WIDTH: {gt[1]:.6f}",
        f"PIXEL_HEIGHT: {-gt[5]:.6f}",
    ]
    stem = path[:-4] if path.endswith(".bil") else path
    with open(stem + ".hdr", "w") as f:
        f.write("\n".join(hdr) + "\n")
    with open(stem + ".bil", "wb") as f:
        f.write(write_raw(np.stack(bands, axis=-1),
                          b0.dtype.newbyteorder("<"), "bil"))


# ---------------------------------------------------------- NSIDCbin
def parse_nsidcbin(buf: bytes, south=None, name=""):
    """NSIDC 25 km sea-ice .bin -> (uint8 (h, w), gt)."""
    if len(buf) < 300:
        raise ValueError("NSIDCbin: missing 300-byte header")
    hdr = buf[:300]
    # dims are ASCII ints in the header's first fields
    try:
        nx = int(hdr[6:12].split()[0])
        ny = int(hdr[12:18].split()[0])
    except (ValueError, IndexError):
        nx = ny = 0
    if south is None:
        south = "_s" in name or (nx, ny) == (316, 332)
    if nx <= 0 or ny <= 0:
        nx, ny = (316, 332) if south else (304, 448)
    if len(buf) < 300 + nx * ny:
        raise ValueError("NSIDCbin: truncated grid")
    arr = read_raw(buf, "u1", nx, ny, 1, "bsq", 300)
    if south:
        gt = (-3950000.0, 25000.0, 0.0, 4350000.0, 0.0, -25000.0)
    else:
        gt = (-3837500.0, 25000.0, 0.0, 5837500.0, 0.0, -25000.0)
    return arr, gt


def format_nsidcbin(arr: np.ndarray, south=True) -> bytes:
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w = arr.shape
    hdr = bytearray(b" " * 300)
    hdr[0:6] = b"00255 "
    hdr[6:12] = f"{w:<6d}".encode()
    hdr[12:18] = f"{h:<6d}".encode()
    hdr[24:28] = b"1.799"[:4]
    return bytes(hdr) + write_raw(arr, "u1")


# -------------------------------------------------------------- scan
_IMG_SCHEMA = ("image_id string, bytes binary, w int, h int, "
               "fmt string, gt0 double, gt1 double, gt2 double, "
               "gt3 double, gt4 double, gt5 double, srid int, "
               "nodata double, band int, source string")


def _band_rows(reader):
    """``reader(path) -> [(arr, gt, nodata), ...]`` as a
    :func:`scan_files` read function: one row per band, keyed
    ``<file name>#<band>``."""
    def read(r):
        stem = os.path.basename(r.path.rstrip("/"))
        return [raster_row(f"{stem}#{bi}", arr, gt, 0, nodata,
                           band=bi, source=stem)
                for bi, (arr, gt, nodata) in enumerate(reader(r.path))]

    return read


def scan_nwt_grd(spark, path_glob, bands="all"):
    def reader(path):
        with open(path, "rb") as f:
            buf = f.read()
        z, (r, g, b), gt = parse_nwt_grd(buf)
        if bands == "z":
            return [(z, gt, GRD_NODATA)]
        return [(r, gt, None), (g, gt, None), (b, gt, None),
                (z, gt, GRD_NODATA)]

    return scan_files(spark, glob_paths(path_glob), _band_rows(reader),
                      _IMG_SCHEMA)


def scan_nwt_grc(spark, path_glob):
    def reader(path):
        with open(path, "rb") as f:
            buf = f.read()
        arr, gt = parse_nwt_grc(buf)
        return [(arr, gt, None)]

    return scan_files(spark, glob_paths(path_glob), _band_rows(reader),
                      _IMG_SCHEMA)


def scan_mff2(spark, path_glob):
    """Glob of MFF2 dataset DIRECTORIES."""
    def reader(path):
        bands, georef = parse_mff2(path)
        gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
        return [(b, gt, None) for b in bands]

    return scan_files(spark, glob_paths(path_glob), _band_rows(reader),
                      _IMG_SCHEMA)


def scan_gsc(spark, path_glob):
    def reader(path):
        with open(path, "rb") as f:
            arr, gt = parse_gsc(f.read())
        return [(arr, gt, GSC_NODATA)]

    return scan_files(spark, glob_paths(path_glob), _band_rows(reader),
                      _IMG_SCHEMA)


def scan_genbin(spark, path_glob):
    def reader(path):
        stem = path[:-4]
        with open(stem + ".hdr") as f:
            hdr = f.read()
        with open(stem + ".bil", "rb") as f:
            data = f.read()
        bands, gt = parse_genbin(hdr, data)
        return [(b, gt, None) for b in bands]

    return scan_files(spark, glob_paths(path_glob), _band_rows(reader),
                      _IMG_SCHEMA)


def scan_nsidcbin(spark, path_glob):
    def reader(path):
        with open(path, "rb") as f:
            arr, gt = parse_nsidcbin(f.read(),
                                     name=os.path.basename(path))
        return [(arr, gt, None)]

    return scan_files(spark, glob_paths(path_glob), _band_rows(reader),
                      _IMG_SCHEMA)


# ----------------------------------------------------------- NOAA_B
def parse_noaa_b(buf: bytes):
    """NOAA .b geoid grid (frmts/raw/noaabdataset.cpp analog):
    Fortran-record layout — a 4-byte record marker, a 44-byte
    header (SW lat/lon, delta lat/lon as f64; rows/cols/kind as
    i32, either endianness, auto-detected), a 4-byte trailer, then
    bottom-up rows each wrapped in 4-byte markers; kind 0 = int32,
    1 = float32, else int16; georef from the SW cell center."""
    import struct as _s

    for be in (False, True):
        e = ">" if be else "<"
        try:
            sw_lat, sw_lon, dlat, dlon = _s.unpack_from(
                e + "dddd", buf, 4)
            rows, cols, kind = _s.unpack_from(e + "iii", buf, 36)
        except _s.error:
            continue
        if not (abs(sw_lat) <= 90 and abs(sw_lon) <= 360 and
                0 < rows < 100000 and 0 < cols < 100000 and
                0 < dlat <= 90 and 0 < dlon <= 90 and
                sw_lat + (rows - 1) * dlat <= 90):
            continue
        dt = np.dtype({0: e + "i4", 1: e + "f4"}.get(kind, e + "i2"))
        line = 4 + cols * dt.itemsize + 4
        start = 4 + 44 + 4
        if start + rows * line > len(buf) + 8:
            continue
        # bottom-up rows, each between 4-byte record markers
        out = read_band(buf, dt, cols, rows,
                        start + (rows - 1) * line + 4, dt.itemsize, -line)
        lon0 = sw_lon - 360 if sw_lon > 180 else sw_lon
        gt = (lon0 - dlon / 2,
              dlon, 0.0,
              sw_lat + (rows - 1) * dlat + dlat / 2, 0.0, -dlat)
        return out, gt, {"kind": int(kind), "big_endian": be}
    raise ValueError("NOAA_B: not a .b geoid grid")


def scan_noaa_b(spark, path_glob):
    def reader(path):
        with open(path, "rb") as f:
            arr, gt, info = parse_noaa_b(f.read())
        return [(arr, gt, None)]

    return scan_files(spark, glob_paths(path_glob), _band_rows(reader),
                      _IMG_SCHEMA)
