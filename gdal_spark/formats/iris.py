"""Vaisala Sigmet IRIS weather-radar product driver.

Reference semantics: frmts/iris/irisdataset.cpp — re-derived from
the published IRIS Programmer's Manual (product file structures,
section 3):

- 640-byte product header (12-byte structure header + product
  configuration + product end): product code u16@24, X/Y scales
  (1/100 m) s32@100/104, raster dims s32@112/116, radar offset
  (1/1000 cells) s32@124/128, data type code u16@142, projection
  code u8@158; the ingest-end block at +332 carries the earth model
  (equatorial radius in cm u32@552, inverse flattening ·1e-6
  u32@556 — zero means the 6371000 m sphere), the center and
  projection-reference coordinates as binary angles
  (u32·360/2³²-1 @440/444 and @572/576);
- data records follow at offset 640, stored BOTTOM-UP (the
  reference reads row ysize-1-y), one or two bytes per bin by data
  type, converted to float32 per the manual: dBZ/dBT
  ``(v-64)/2`` (95.5 -> nodata -9999), the 2-byte variants
  ``(v-32768)/100``, 1/100-mm rain accumulation with the 4-bit
  exponent + 12-bit mantissa encoding, height and VIL codings;
- georeferencing: for Mercator products the reference walks one
  cell east and one north from the center with VINCENTY's direct
  geodesic on the product's ellipsoid, projects both points with
  Mercator (lon0/lat0 = the projection reference), and anchors the
  grid at the radar offset — replicated here and conformance-pinned
  against the quoted iristest.dat geotransform at 1e-5 relative;
  azimuthal-equidistant and other products use the plain
  radar-offset metre grid.

Spark shape: one task per product file (a radar network emits one
file per product per scan — thousands per day), standard
images-table rows.
"""

from __future__ import annotations

import math
import os

import numpy as np

from ._util import glob_paths, raster_row, scan_files

NODATA = -9999.0

DEG = math.pi / 180.0

PRODUCT_NAMES = {
    1: "PPI", 2: "RHI", 3: "CAPPI", 4: "CROSS", 5: "TOPS",
    6: "TRACK", 7: "RAIN1", 8: "RAINN", 9: "VVP", 10: "VIL",
    11: "SHEAR", 12: "WARN", 13: "CATCH", 14: "RTI", 15: "RAW",
    16: "MAX", 17: "USER", 18: "USERV", 19: "OTHER", 20: "STATUS",
    21: "SLINE", 22: "WIND", 23: "BEAM", 24: "TEXT", 25: "FCAST",
    26: "NDOP", 27: "IMAGE", 28: "COMP", 29: "TDWR", 30: "GAGE",
    31: "DWELL", 32: "SRI", 33: "BASE", 34: "HMAX",
}

DATA_TYPE_UNITS = {1: "dBZ", 2: "dBZ", 8: "dBZ", 9: "dBZ",
                   37: "mm", 33: "km", 32: "mm"}


def _u16(b, o):
    return int.from_bytes(b[o:o + 2], "little")


def _s32(b, o):
    return int.from_bytes(b[o:o + 4], "little", signed=True)


def _u32(b, o):
    return int.from_bytes(b[o:o + 4], "little")


def _bin_angle(b, o):
    return _u32(b, o) * 360.0 / 0xFFFFFFFF


def vincenty_direct(lat, lon, azimuth, dist, a, b, f):
    """Vincenty's direct geodesic (published formula; reduces to
    the great circle when f == 0)."""
    alpha1 = azimuth * DEG
    sa1, ca1 = math.sin(alpha1), math.cos(alpha1)
    tanU1 = (1 - f) * math.tan(lat * DEG)
    cosU1 = 1.0 / math.sqrt(1 + tanU1 * tanU1)
    sinU1 = tanU1 * cosU1
    sigma1 = math.atan2(tanU1, ca1)
    sinAlpha = cosU1 * sa1
    cos2Alpha = 1 - sinAlpha * sinAlpha
    u2 = cos2Alpha * (a * a - b * b) / (b * b)
    A = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
    B = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
    sigma = dist / (b * A)
    for _ in range(100):
        cos2SigmaM = math.cos(2 * sigma1 + sigma)
        sinSigma = math.sin(sigma)
        cosSigma = math.cos(sigma)
        dSigma = (B * sinSigma *
                  (cos2SigmaM + B / 4 *
                   (cosSigma * (-1 + 2 * cos2SigmaM ** 2) -
                    B / 6 * cos2SigmaM *
                    (-3 + 4 * sinSigma ** 2) *
                    (-3 + 4 * cos2SigmaM ** 2))))
        prev = sigma
        sigma = dist / (b * A) + dSigma
        if abs(sigma - prev) < 1e-12:
            break
    cos2SigmaM = math.cos(2 * sigma1 + sigma)
    sinSigma = math.sin(sigma)
    cosSigma = math.cos(sigma)
    tmp = sinU1 * sinSigma - cosU1 * cosSigma * ca1
    lat2 = math.atan2(
        sinU1 * cosSigma + cosU1 * sinSigma * ca1,
        (1 - f) * math.sqrt(sinAlpha ** 2 + tmp * tmp))
    lam = math.atan2(sinSigma * sa1,
                     cosU1 * cosSigma - sinU1 * sinSigma * ca1)
    C = f / 16 * cos2Alpha * (4 + f * (4 - 3 * cos2Alpha))
    L = lam - (1 - C) * f * sinAlpha * \
        (sigma + C * sinSigma *
         (cos2SigmaM + C * cosSigma * (-1 + 2 * cos2SigmaM ** 2)))
    return lat2 / DEG, (lon + L / DEG)


def _mercator(lon, lat, a, e, lon0):
    x = a * (lon - lon0) * DEG
    s = math.sin(lat * DEG)
    if e == 0.0:
        y = a * math.log(math.tan(math.pi / 4 + lat * DEG / 2))
    else:
        y = a * (math.atanh(s) - e * math.atanh(e * s))
    return x, y


def parse_iris(buf: bytes):
    """Product bytes -> (float32 (h, w) north-up, gt, info dict)."""
    if _u16(buf, 0) != 27 or _u16(buf, 12) != 26:
        # structure header ids: product header 27, config 26 (the
        # reference's identify); be permissive if dims look sane
        pass
    product = _u16(buf, 24)
    scale_x = _s32(buf, 100) / 100.0
    scale_y = _s32(buf, 104) / 100.0
    nx = _s32(buf, 112)
    ny = _s32(buf, 116)
    radar_x = _s32(buf, 124) / 1000.0
    radar_y = _s32(buf, 128) / 1000.0
    dtype_code = _u16(buf, 142)
    proj_code = buf[158]
    if nx <= 0 or ny <= 0 or nx > 100000 or ny > 100000:
        raise ValueError("IRIS: implausible raster size")

    eq_radius = _u32(buf, 552) / 100.0
    inv_flat = _u32(buf, 556) / 1e6
    if eq_radius == 0.0:
        a, b, f = 6371000.0, 6371000.0, 0.0
    elif inv_flat == 0.0:
        a, b, f = eq_radius, eq_radius, 0.0
    else:
        f = 1.0 / inv_flat
        a, b = eq_radius, eq_radius * (1.0 - f)
    center_lat = _bin_angle(buf, 440)
    center_lon = _bin_angle(buf, 444)
    ref_lat = _bin_angle(buf, 572)
    ref_lon = _bin_angle(buf, 576)

    nbytes = 2 if dtype_code in (8, 9, 37, 33) else 1
    raw = np.frombuffer(buf, np.uint8 if nbytes == 1 else "<u2",
                        count=nx * ny, offset=640).reshape(ny, nx)
    raw = raw[::-1, :]  # stored bottom-up
    rawf = raw.astype(np.float64)
    if dtype_code in (1, 2):
        vals = (rawf - 64.0) / 2.0
        vals = np.where(np.isclose(vals, 95.5), NODATA, vals)
    elif dtype_code in (8, 9):
        vals = (rawf - 32768.0) / 100.0
        vals = np.where(np.isclose(vals, 327.67), NODATA, vals)
    elif dtype_code == 37:
        exp = raw >> 12
        mant = (raw & 0x0FFF).astype(np.int64)
        vals = np.where(
            raw == 65535, NODATA,
            np.where(exp == 0, mant / 1000.0,
                     ((mant + 4096) <<
                      np.maximum(exp.astype(np.int64) - 1, 0))
                     / 1000.0))
    elif dtype_code == 33:
        vals = np.where(rawf == 65535.0, NODATA,
                        np.where(rawf == 0.0, -1.0,
                                 (rawf - 1.0) / 1000.0))
    elif dtype_code == 32:
        vals = np.where(rawf == 255.0, NODATA,
                        np.where(rawf == 0.0, -1.0,
                                 (rawf - 1.0) / 10.0))
    else:
        vals = rawf
    arr = vals.astype(np.float32)

    if proj_code == 1:  # Mercator
        e = math.sqrt(1 - (b * b) / (a * a)) if a != b else 0.0
        lat2, lon2e = vincenty_direct(center_lat, center_lon, 90.0,
                                      scale_x, a, b, f)
        lat2n, _ = vincenty_direct(center_lat, center_lon, 0.0,
                                   scale_y, a, b, f)
        x0, y0 = _mercator(center_lon, center_lat, a, e, ref_lon)
        x2, _ = _mercator(lon2e, center_lat, a, e, ref_lon)
        _, y2 = _mercator(center_lon, lat2n, a, e, ref_lon)
        gt = (x0 - radar_x * (x2 - x0), x2 - x0, 0.0,
              y0 + radar_y * (y2 - y0), 0.0, -(y2 - y0))
    else:  # azimuthal equidistant and others: metre grid
        gt = (-radar_x * scale_x, scale_x, 0.0,
              radar_y * scale_y, 0.0, -scale_y)

    info = {
        "product": product,
        "product_name": PRODUCT_NAMES.get(product, str(product)),
        "data_type": dtype_code,
        "units": DATA_TYPE_UNITS.get(dtype_code, ""),
        "projection": int(proj_code),
        "center_lat": center_lat, "center_lon": center_lon,
        "equatorial_radius": a, "inv_flattening": inv_flat,
    }
    return arr, gt, info


def scan_iris(spark, path_glob: str):
    """Glob of IRIS product files -> images-table rows, one task
    per product."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "nodata double, product string, units string, "
              "source string")

    def read(r):
        with open(r.path, "rb") as f:
            buf = f.read()
        stem = os.path.basename(r.path)
        arr, gt, info = parse_iris(buf)
        return [raster_row(stem, arr, gt, 0, NODATA,
                           product=info["product_name"],
                           units=info["units"], source=stem)]

    return scan_files(spark, glob_paths(path_glob), read, schema)
