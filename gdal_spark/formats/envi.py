"""ENVI raw-raster driver — the remote-sensing/hyperspectral workhorse
pair of a text ``.hdr`` and a raw binary cube.

Reference driver: frmts/raw/envidataset.cpp (semantics only; this is a
from-scratch implementation of the published ENVI header format).
Supported subset:

- header keys: samples/lines/bands, ``data type`` (1 u8, 2 i16, 3 i32,
  4 f32, 5 f64, 12 u16, 13 u32, 14 i64, 15 u64 — complex types 6/9
  error), ``interleave`` bsq/bil/bip, ``byte order`` 0/1, ``header
  offset``, ``data ignore value``, ``file compression = 1`` (the data
  file is one gzip stream, the reference's /vsigzip/ path);
- ``map info = {proj, refx, refy, x, y, dx, dy, [zone, North|South,]
  [datum,] [units=..,] [rotation=..]}``: the 1-based reference pixel
  anchors the geotransform; ``rotation`` applies the reference's
  rotation matrix (gt1 = dx cos r, gt2 = dx sin r, gt4 = dy sin r,
  gt5 = -dy cos r — pinned against autotest's rotation.img expected
  matrix); SRID from the projection name: Geographic Lat/Lon -> 4326,
  UTM zone+hemisphere -> 326xx/327xx (267xx for the North America 1927
  datum), anything else (e.g. a projection-info Albers) -> 0.

Conformance is pinned against reference autotest DATA bytes (see
tests/data/README.md): aea.dat (big-endian bsq, checksum 14823),
aea_compressed.dat (gzip, same checksum), envi_rgbsmall_{bsq,bil,bip}
(pixel-identical to the rgbsmall.tif fixture, band-2 checksum 21053),
uint16_envi_bigendian.dat (u16 BE, checksum 4672, UTM 11N NAD27),
rotation.img (the quoted rotated geotransform).

Spark shape: an ENVI dataset is a header + one raw cube, so the unit
of parallelism is the FILE — the driver reads only the tiny .hdr texts
(the COG-header discipline), then fans out one task per data file;
each task reads and deinterleaves its own cube into a standard
images-table row. The sink writes one .img+.hdr pair per row, by the
task holding it.
"""

from __future__ import annotations

import os
import re

import numpy as np

from ._raw import read_raw, write_raw
from ._util import glob_paths, raster_row, scan_files, write_files
from .. import codecs

OUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
    "gt5 double, srid int, nodata double"
)

_DTYPES = {
    1: "u1", 2: "i2", 3: "i4", 4: "f4", 5: "f8",
    12: "u2", 13: "u4", 14: "i8", 15: "u8",
}
_DTYPE_CODES = {v: k for k, v in _DTYPES.items()}


def parse_envi_header(text: str) -> dict:
    """ENVI .hdr text -> {key: str} (brace values joined, keys
    lower-cased). The first token must be ``ENVI``."""
    if not text.lstrip().startswith("ENVI"):
        raise ValueError("not an ENVI header (missing ENVI sentinel)")
    body = text.lstrip()[4:]
    hdr: dict[str, str] = {}
    pos = 0
    for m in re.finditer(r"^\s*([a-zA-Z][a-zA-Z0-9 _]*?)\s*=\s*", body,
                         re.MULTILINE):
        if m.start() < pos:
            continue  # a '=' inside a brace value
        key = m.group(1).strip().lower()
        at = m.end()
        if at < len(body) and body[at] == "{":
            end = body.index("}", at)
            val = body[at + 1:end]
            pos = end + 1
        else:
            nl = body.find("\n", at)
            nl = len(body) if nl < 0 else nl
            val = body[at:nl]
            pos = nl
        hdr[key] = " ".join(val.split())
    return hdr


def _georef_from_map_info(hdr: dict):
    """(geotransform, srid) from the ``map info`` field (reference
    semantics incl. the 1-based reference pixel and the ``rotation=``
    suffix)."""
    mi = hdr.get("map info")
    if not mi:
        return (0.0, 1.0, 0.0, 0.0, 0.0, 1.0), 0
    parts = [p.strip() for p in mi.split(",")]
    proj = parts[0]
    refx, refy = float(parts[1]), float(parts[2])
    x, y = float(parts[3]), float(parts[4])
    dx, dy = float(parts[5]), float(parts[6])
    rot = 0.0
    for p in parts[7:]:
        if p.lower().startswith("rotation"):
            rot = float(p.split("=")[1])
    # anchor: the reference pixel's top-left corner is (x, y)
    x0 = x - (refx - 1.0) * dx
    y0 = y + (refy - 1.0) * dy
    if rot:
        r = np.radians(rot)
        c, s = float(np.cos(r)), float(np.sin(r))
        gt = (x0, dx * c, dx * s, y0, dy * s, -dy * c)
    else:
        gt = (x0, dx, 0.0, y0, 0.0, -dy)

    srid = 0
    pl = proj.lower()
    if pl.startswith("geographic"):
        srid = 4326
    elif pl == "utm" and len(parts) >= 9:
        zone = int(float(parts[7]))
        south = parts[8].strip().lower().startswith("s")
        datum = (parts[9].strip().lower() if len(parts) > 9 else "")
        if "1927" in datum:
            srid = 26700 + zone if not south else 0
        else:
            srid = (32700 if south else 32600) + zone
    return gt, srid


def decode_envi(data: bytes, hdr: dict):
    """Raw cube bytes + parsed header -> (array (h, w[, bands]),
    geotransform, srid, nodata)."""
    w = int(hdr["samples"])
    h = int(hdr["lines"])
    nb = int(hdr.get("bands", "1"))
    code = int(hdr["data type"])
    if code not in _DTYPES:
        raise ValueError(f"ENVI data type {code} unsupported")
    bo = ">" if int(hdr.get("byte order", "0")) else "<"
    dt = np.dtype(bo + _DTYPES[code])
    off = int(hdr.get("header offset", "0"))
    if int(hdr.get("file compression", "0")):
        import gzip
        import io

        data = gzip.GzipFile(fileobj=io.BytesIO(data)).read()
    need = off + w * h * nb * dt.itemsize
    if len(data) < need:
        raise ValueError(f"ENVI cube {len(data)} bytes < expected {need}")
    arr = read_raw(data, dt, w, h, nb, hdr.get("interleave", "bsq"), off)
    gt, srid = _georef_from_map_info(hdr)
    nodata = None
    if "data ignore value" in hdr:
        nodata = float(hdr["data ignore value"])
    return arr, gt, srid, nodata


def header_path_for(data_path: str) -> str:
    """The .hdr that pairs a data file: replace-extension first, then
    append (the reference probes both)."""
    root, ext = os.path.splitext(data_path)
    for cand in ([root + ".hdr"] if ext else []) + [data_path + ".hdr"]:
        if os.path.exists(cand):
            return cand
    raise FileNotFoundError(f"no .hdr for {data_path}")


def parse_envi(data_path: str):
    """Convenience: open a data file + its paired header locally."""
    with open(header_path_for(data_path)) as f:
        hdr = parse_envi_header(f.read())
    with open(data_path, "rb") as f:
        return decode_envi(f.read(), hdr)


def format_envi(arr: np.ndarray, gt, srid: int = 0,
                nodata: float | None = None,
                interleave: str = "bsq") -> tuple[bytes, str]:
    """array (+ georef) -> (cube bytes, .hdr text), little-endian. A
    rotated geotransform must be a pure rotation+scale (the ``map
    info`` rotation model — the reference writes the same form)."""
    a = np.asarray(arr)
    h, w = a.shape[:2]
    nb = a.shape[2] if a.ndim == 3 else 1
    dt = a.dtype.newbyteorder("<")
    if dt.base.str[1:] not in _DTYPE_CODES:
        raise ValueError(f"dtype {arr.dtype} unsupported")
    code = _DTYPE_CODES[dt.base.str[1:]]
    il = interleave.lower()
    data = write_raw(a, dt, il)

    dx = float(np.hypot(gt[1], gt[2]))
    dy = float(np.hypot(gt[4], gt[5]))
    rot = float(np.degrees(np.arctan2(gt[2], gt[1])))
    # validate the rotation model reproduces the input matrix
    r = np.radians(rot)
    c, s = np.cos(r), np.sin(r)
    if not np.allclose([gt[1], gt[2], gt[4], gt[5]],
                       [dx * c, dx * s, dy * s, -dy * c],
                       rtol=1e-9, atol=1e-12):
        raise ValueError("geotransform is not rotation+scale; ENVI map "
                         "info cannot represent it")
    if int(srid) == 4326:
        proj = "Geographic Lat/Lon"
        tail = ", WGS-84"
    elif 32601 <= int(srid) <= 32660:
        proj, tail = "UTM", f", {int(srid) - 32600}, North, WGS-84"
    elif 32701 <= int(srid) <= 32760:
        proj, tail = "UTM", f", {int(srid) - 32700}, South, WGS-84"
    elif 26701 <= int(srid) <= 26760:
        proj, tail = "UTM", f", {int(srid) - 26700}, North, North America 1927"
    else:
        proj, tail = "Arbitrary", ""
    rot_s = f", rotation={rot:.10f}" if abs(rot) > 1e-12 else ""
    hdr = (
        "ENVI\n"
        f"samples = {w}\n"
        f"lines = {h}\n"
        f"bands = {nb}\n"
        "header offset = 0\n"
        "file type = ENVI Standard\n"
        f"data type = {code}\n"
        f"interleave = {il}\n"
        "byte order = 0\n"
        f"map info = {{{proj}, 1, 1, {gt[0]!r}, {gt[3]!r}, {dx!r}, "
        f"{dy!r}{tail}{rot_s}}}\n"
    )
    if nodata is not None:
        hdr += f"data ignore value = {float(nodata):.17g}\n"
    return data, hdr


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def scan_envi(spark, path_glob: str):
    """Glob of ENVI data files (.img/.dat/...; NOT the .hdr) ->
    images-table rows. The driver reads only the paired .hdr texts
    (tiny), then fans out exactly one task per data file; the task
    reads + deinterleaves its own cube."""
    tasks = []
    for p in glob_paths(path_glob, keep=lambda p: not p.endswith(".hdr")):
        with open(header_path_for(p)) as f:
            tasks.append((p, f.read()))

    def read(r):
        hdr = parse_envi_header(r.hdr)
        with open(r.path, "rb") as f:
            arr, gt, srid, nodata = decode_envi(f.read(), hdr)
        if np.dtype(arr.dtype) not in codecs._DTYPE_CODES:
            arr = arr.astype(np.float64)
        stem = os.path.basename(r.path)
        stem = os.path.splitext(stem)[0] if "." in stem else stem
        return [raster_row(stem, arr, gt, srid, nodata)]

    return scan_files(spark, None, read, OUT_SCHEMA,
                      tasks=("path string, hdr string", tasks))


def write_envi(df, out_dir: str, interleave: str = "bsq"):
    """One .img + .hdr pair per row, written by the task that holds the
    row (the distributed many-files layout shared by the other raster
    sinks)."""
    def dump_row(r, arr, gt, nd, out_dir):
        srid = getattr(r, "srid", None)
        srid = int(srid) if srid is not None else 0
        cube, hdr = format_envi(arr, gt, srid=srid, nodata=nd,
                                interleave=interleave)
        path = os.path.join(out_dir, f"{r.image_id}.img")
        with open(path, "wb") as f:
            f.write(cube)
        with open(path[:-4] + ".hdr", "w") as f:
            f.write(hdr)
        return path

    return write_files(df, out_dir, dump_row)
