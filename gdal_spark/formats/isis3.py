"""USGS ISIS3 cube (.cub) driver — the planetary-science processing
format ISIS writes.

Reference driver: frmts/pds/isis3dataset.cpp (implemented from the
published ISIS3 cube structure — no code taken); the PVL label parses
through the same from-scratch parser as the PDS3 driver
(formats.pds.parse_label — the reference shares
gcore/nasakeywordhandler.cpp the same way). Observable semantics,
pinned on four autotest fixtures:

- ``IsisCube.Core``: 1-based ``StartByte``, ``^Core`` detached file,
  ``Format`` BandSequential / Tile / GeoTIFF. Tile cubes store FULL
  ``TileSamples`` x ``TileLines`` tiles row-major within each band,
  band planes consecutive (ISISTiledBand offset math:
  x_off = bytes/tile, y_off = x_off * blocks_per_row, band base +=
  (band-1) * y_off * blocks_per_column); truncated cubes zero-fill.
- ``Pixels``: Type UnsignedByte/SignedWord/UnsignedWord/Real with
  ByteOrder Lsb/Msb; special NULL values 0 / -32768 / 0 /
  -3.4028226550889045e+38 as nodata; Base/Multiplier as band
  offset/scale.
- ``Mapping``: geotransform directly from UpperLeftCornerX/Y +
  PixelResolution (gt5 negative); for Equirectangular the sphere is
  the ISIS3 "simple elliptical method" local radius
  a*b / sqrt((b cos phi)^2 + (a sin phi)^2) — pinned at the autotest's
  quoted 3394813.857978216 / 3388271.702979241 m values.
- Format=GeoTIFF cubes read their pixels through the engine's own
  from-spec GeoTIFF codec (formats.gtiff) — isis3_geotiff.lbl decodes
  to the same checksum 9978 as the raw detached twin.

Spark shape: one task per label/cube; the sink is task-per-row,
writing BandSequential Lsb cubes with an attached 64 KiB-aligned
label like ISIS itself.
"""

from __future__ import annotations

import os

import numpy as np

from ._raw import read_raw, write_raw
from ._util import glob_paths, raster_row, scan_files, write_files
from .pds import _atof, _clean, _find_ci, _kw, parse_label

OUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
    "gt5 double, srid int, nodata double, scale double, offset double, "
    "proj string"
)

NULL4 = -3.4028226550889045e+38

_TYPES = {
    "UNSIGNEDBYTE": ("u1", 0.0),
    "SIGNEDWORD": ("i2", -32768.0),
    "UNSIGNEDWORD": ("u2", 0.0),
    "REAL": ("f4", NULL4),
}


def local_radius(a: float, b: float, center_lat_deg: float) -> float:
    """ISIS3 'simple elliptical method' (isis3dataset.cpp:2010-2018)."""
    rad = np.deg2rad(center_lat_deg)
    mean = np.sqrt((b * np.cos(rad)) ** 2 + (a * np.sin(rad)) ** 2)
    return 0.0 if mean == 0.0 else a * b / mean


def parse_isis3(label_bytes: bytes, label_path: str = "",
                file_bytes: bytes | None = None):
    """-> (array float64 (h, w[, bands]), gt, nodata, scale, offset,
    mapping metadata dict)."""
    kv = parse_label(label_bytes.decode("latin-1", "replace"))
    if "IsisCube.Core.Dimensions.Samples" not in kv:
        raise ValueError("not an ISIS3 cube label")
    w = int(_atof(kv["IsisCube.Core.Dimensions.Samples"]))
    h = int(_atof(kv["IsisCube.Core.Dimensions.Lines"]))
    bands = int(_atof(_kw(kv, "IsisCube.Core.Dimensions.Bands", "1")))
    start = int(_atof(_kw(kv, "IsisCube.Core.StartByte", "1"))) - 1
    fmt = _clean(_kw(kv, "IsisCube.Core.Format", "BandSequential"))
    core = _clean(_kw(kv, "IsisCube.Core.^Core", ""))
    ptype = _clean(_kw(kv, "IsisCube.Core.Pixels.Type",
                       "Real")).upper()
    if ptype not in _TYPES:
        raise ValueError(f"ISIS3: pixel type {ptype} not supported")
    base_t, nodata = _TYPES[ptype]
    order = _clean(_kw(kv, "IsisCube.Core.Pixels.ByteOrder", "Lsb"))
    bo = ">" if order.upper() == "MSB" else "<"
    dtype = np.dtype(bo + base_t)
    offset = _atof(_kw(kv, "IsisCube.Core.Pixels.Base", "0.0"))
    scale = _atof(_kw(kv, "IsisCube.Core.Pixels.Multiplier", "1.0"))

    if core:
        data_path = _find_ci(os.path.dirname(label_path), core)
    else:
        data_path = label_path

    if fmt.upper() == "GEOTIFF":
        from .gtiff import parse_gtiff

        if file_bytes is None:
            with open(data_path, "rb") as f:
                file_bytes = f.read()
        arr, _gt, _srid, _nd = parse_gtiff(file_bytes)
        arr = np.asarray(arr, dtype=np.float64)
        if arr.ndim == 3 and arr.shape[2] == 1:
            arr = arr[:, :, 0]
    else:
        if file_bytes is None:
            if data_path == label_path and not os.path.exists(data_path):
                file_bytes = label_bytes
            else:
                with open(data_path, "rb") as f:
                    file_bytes = f.read()
        if fmt.upper() == "TILE":
            item = dtype.itemsize
            tw = int(_atof(_kw(kv, "IsisCube.Core.TileSamples",
                               str(w))))
            th = int(_atof(_kw(kv, "IsisCube.Core.TileLines", str(h))))
            bpr = -(-w // tw)
            bpc = -(-h // th)
            x_off = item * tw * th
            y_off = x_off * bpr
            need = start + y_off * bpc * bands
            data = file_bytes
            if len(data) < need:
                data = data + b"\x00" * (need - len(data))
            planes = []
            for b in range(bands):
                plane = np.zeros((bpc * th, bpr * tw), dtype=np.float64)
                base = start + (b * bpc) * y_off
                for ty in range(bpc):
                    for tx in range(bpr):
                        off = base + ty * y_off + tx * x_off
                        tile = np.frombuffer(
                            data, dtype=dtype, count=tw * th, offset=off
                        ).reshape(th, tw)
                        plane[ty * th:(ty + 1) * th,
                              tx * tw:(tx + 1) * tw] = tile
                planes.append(plane[:h, :w])
            arr = planes[0] if bands == 1 else np.stack(planes, axis=-1)
        else:  # BandSequential
            arr = read_raw(file_bytes, dtype, w, h, bands, "bsq",
                           start).astype(np.float64)

    gt = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    ulx = _kw(kv, "IsisCube.Mapping.UpperLeftCornerX")
    uly = _kw(kv, "IsisCube.Mapping.UpperLeftCornerY")
    res = _kw(kv, "IsisCube.Mapping.PixelResolution")
    if ulx and uly and res:
        r = _atof(res)
        gt = (_atof(ulx), r, 0.0, _atof(uly), 0.0, -r)
    a = _atof(_kw(kv, "IsisCube.Mapping.EquatorialRadius", "0"))
    b = _atof(_kw(kv, "IsisCube.Mapping.PolarRadius", "0"))
    clat = _atof(_kw(kv, "IsisCube.Mapping.CenterLatitude", "0"))
    mapping = {
        "projection": _clean(_kw(kv, "IsisCube.Mapping.ProjectionName")),
        "target": _clean(_kw(kv, "IsisCube.Mapping.TargetName")),
        "equatorial_radius": a,
        "polar_radius": b,
        "center_latitude": clat,
        "center_longitude":
            _atof(_kw(kv, "IsisCube.Mapping.CenterLongitude", "0")),
        "local_radius": local_radius(a, b, clat) if a and b else 0.0,
        "longitude_direction": _clean(
            _kw(kv, "IsisCube.Mapping.LongitudeDirection", "")
        ),
    }
    return arr, gt, float(nodata), scale, offset, mapping, kv


def format_isis3(arr: np.ndarray, gt, target: str = "Mars",
                 equatorial_radius: float = 3396190.0,
                 polar_radius: float = 3376200.0,
                 ptype: str = "Real") -> bytes:
    """Attached BandSequential Lsb writer: label in a 65536-byte region
    (StartByte 65537), the ISIS layout the unit-test fixture uses."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, bands = a.shape
    if gt[2] != 0 or gt[4] != 0 or gt[5] >= 0:
        raise ValueError("ISIS3 writer requires a north-up grid")
    np_t = {"UnsignedByte": "u1", "SignedWord": "<i2",
            "UnsignedWord": "<u2", "Real": "<f4"}[ptype]
    body = write_raw(a, np_t, "bsq")
    label = "\n".join([
        "Object = IsisCube",
        "  Object = Core",
        "    StartByte = 65537",
        "    Format    = BandSequential",
        "    Group = Dimensions",
        f"      Samples = {w}",
        f"      Lines   = {h}",
        f"      Bands   = {bands}",
        "    End_Group",
        "    Group = Pixels",
        f"      Type       = {ptype}",
        "      ByteOrder  = Lsb",
        "      Base       = 0.0",
        "      Multiplier = 1.0",
        "    End_Group",
        "  End_Object",
        "  Group = Mapping",
        "    ProjectionName       = Equirectangular",
        f"    TargetName           = {target}",
        f"    EquatorialRadius     = {equatorial_radius!r} <meters>",
        f"    PolarRadius          = {polar_radius!r} <meters>",
        "    LongitudeDirection   = PositiveEast",
        "    CenterLatitude       = 0.0",
        "    CenterLongitude      = 0.0",
        f"    UpperLeftCornerX     = {float(gt[0])!r}",
        f"    UpperLeftCornerY     = {float(gt[3])!r}",
        f"    PixelResolution      = {float(gt[1])!r} <meters/pixel>",
        "  End_Group",
        "End_Object",
        "End",
        "",
    ]).encode("ascii")
    if len(label) > 65536:
        raise ValueError("ISIS3 label too large")
    return label + b" " * (65536 - len(label)) + body


def scan_isis3(spark, path_glob: str):
    """Glob of .cub/.lbl ISIS3 labels -> images-table rows (one task
    per label, detached/GeoTIFF companions read by the task)."""
    def read(r):
        with open(r.path, "rb") as f:
            label = f.read()
        arr, gt, nodata, scale, offset, mapping, _ = \
            parse_isis3(label, label_path=r.path)
        return [raster_row(
            os.path.splitext(os.path.basename(r.path))[0], arr, gt, 0,
            nodata, scale=scale, offset=offset,
            proj=mapping["projection"] + "|" + mapping["target"])]

    return scan_files(spark, glob_paths(path_glob), read, OUT_SCHEMA)


def write_isis3(df, out_dir: str, ptype: str = "Real",
                target: str = "Mars"):
    """One attached .cub per row, task-written."""
    def dump_row(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.cub")
        with open(path, "wb") as f:
            f.write(format_isis3(np.squeeze(arr), gt,
                                 target=target, ptype=ptype))
        return path

    return write_files(df, out_dir, dump_row)
