"""SRTM HGT driver — the NASA Shuttle Radar Topography Mission raw
elevation tiles (``N43W080.hgt``-style 1-degree cells).

Reference driver: frmts/srtmhgt/srtmhgtdataset.cpp (semantics only).
A tile is a bare big-endian int16 grid with NO header: the south-west
corner comes from the FILE NAME (``[NS]dd[EW]ddd``), the grid size
from the byte count (1201x1201 for SRTM3, 3601x3601 for SRTM1 — the
sizes the reference's switch accepts; smaller square grids are
accepted here for scale-invariant tests, flagged by ``strict_size``).
The cells are pixel-is-point, so the geotransform is the reference's
half-post shift: ``gt0 = lon - 0.5/(n-1)``, ``gt3 = lat + 1 +
0.5/(n-1)``, step ``1/(n-1)`` (srtmhgtdataset.cpp GetGeoTransform).
Nodata is -32768, CRS WGS84.

Spark shape: a continental SRTM archive is tens of thousands of
1-degree tiles — the canonical many-small-files fan-out. One task per
file; rows land in the standard images table so hillshade / contour /
viewshed / warp apply unchanged. The sink derives each file's name
from its georef (the name IS the georef, as the reference requires on
CreateCopy).
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd

from ._util import raster_row, schema_columns, write_files

OUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
    "gt5 double, srid int, nodata double"
)

NODATA = -32768.0
_NAME = re.compile(r"([NS])(\d{1,2})([EW])(\d{1,3})", re.IGNORECASE)


def corner_from_name(filename: str) -> tuple[int, int]:
    """South-west (lat, lon) integer corner from an HGT file name."""
    m = _NAME.search(os.path.basename(filename))
    if not m:
        raise ValueError(f"{filename!r} is not an SRTM HGT tile name")
    lat = int(m.group(2)) * (1 if m.group(1).upper() == "N" else -1)
    lon = int(m.group(4)) * (1 if m.group(3).upper() == "E" else -1)
    return lat, lon


def parse_srtmhgt(buf: bytes, filename: str, strict_size: bool = True):
    """HGT bytes + name -> (int16 (n, n) north-up, geotransform, srid,
    nodata)."""
    n2 = len(buf) // 2
    n = int(round(n2 ** 0.5))
    if n * n * 2 != len(buf) or n < 2:
        raise ValueError(f"{len(buf)} bytes is not a square int16 grid")
    if strict_size and n not in (1201, 3601):
        raise ValueError(
            f"{n}x{n} is not an SRTM tile size (1201/3601); pass "
            "strict_size=False for test grids"
        )
    lat, lon = corner_from_name(filename)
    arr = np.frombuffer(buf, dtype=">i2").reshape(n, n).astype(np.int16)
    step = 1.0 / (n - 1)
    gt = (lon - 0.5 / (n - 1), step, 0.0,
          lat + 1 + 0.5 / (n - 1), 0.0, -step)
    return arr, gt, 4326, NODATA


def format_srtmhgt(arr: np.ndarray, gt) -> tuple[bytes, str]:
    """north-up int16 square grid + georef -> (bytes, canonical file
    name). The geotransform must match the half-post rule for an
    integer south-west corner."""
    a = np.asarray(arr)
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[:, :, 0]
    if a.ndim != 2 or a.shape[0] != a.shape[1]:
        raise ValueError("SRTM HGT holds a single square band")
    n = a.shape[0]
    step = 1.0 / (n - 1)
    lon = gt[0] + 0.5 / (n - 1)
    lat = gt[3] - 0.5 / (n - 1) - 1
    ilat, ilon = round(lat), round(lon)
    if (abs(lat - ilat) > 1e-9 or abs(lon - ilon) > 1e-9
            or abs(gt[1] - step) > 1e-12 or abs(gt[5] + step) > 1e-12
            or gt[2] or gt[4]):
        raise ValueError("geotransform is not an SRTM 1-degree tile grid")
    ai = np.rint(np.asarray(a, dtype=np.float64))
    ai = np.where(np.isnan(ai), NODATA, ai)
    if ai.min() < -32768 or ai.max() > 32767:
        raise ValueError("elevation outside int16")
    name = "%s%02d%s%03d.hgt" % (
        "N" if ilat >= 0 else "S", abs(ilat),
        "E" if ilon >= 0 else "W", abs(ilon),
    )
    return ai.astype(">i2").tobytes(), name


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def scan_srtmhgt(spark, path_glob: str, strict_size: bool = True):
    """Glob of .hgt tiles -> images-table rows (one task per file)."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr, gt, srid, nodata = parse_srtmhgt(
                    bytes(r.content), r.path, strict_size=strict_size
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


def write_srtmhgt(df, out_dir: str):
    """One tile per row, named from its OWN georef (N43W080.hgt), by
    the task that holds the row."""
    def dump_row(r, arr, gt, nd, out_dir):
        raw, name = format_srtmhgt(arr, gt)
        path = os.path.join(out_dir, name)
        with open(path, "wb") as f:
            f.write(raw)
        return path

    return write_files(df, out_dir, dump_row)
