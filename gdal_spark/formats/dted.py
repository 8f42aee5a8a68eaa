"""DTED (Digital Terrain Elevation Data) driver — the military/NGA
elevation interchange format (MIL-PRF-89020B), levels 0/1/2.

Reference driver: frmts/dted/dted_api.c + dteddataset.cpp (semantics
only; implemented from the published MIL-PRF spec). Layout:

- UHL (User Header Label, 80 bytes, ``UHL1``): longitude then latitude
  of origin as DDDMMSSH text (some producers swap the two fields — the
  reference detects the N/S hemisphere letter on the first field and
  inverts, dted_api.c coordinate-inversion handling; so do we), data
  intervals in tenths of arcseconds (fields at 1-based 21/25), line /
  point counts (fields at 48/52).
- DSI (Data Set Identification, 648 bytes): product level at 1-based
  60, horizontal datum at 1-based 145 (``WGS84`` -> EPSG:4326,
  ``WGS72`` -> 4322; anything else is assumed WGS84 like the
  reference's warning path).
- ACC (Accuracy, 2700 bytes).
- One data record per longitude column: 0xAA sentinel, 3-byte block
  count, 2-byte longitude (column) index, 2-byte latitude start, then
  ``nlat`` big-endian SIGNED-MAGNITUDE 16-bit elevations south-to-
  north, then a 4-byte checksum = plain byte sum of the record. A
  file may carry fewer records than columns (partial / sparse files);
  missing columns read as the -32767 nodata, matching the reference's
  checksums for autotest's n43_partial_cols / n43_sparse_cols.

Conformance is pinned against reference autotest DATA bytes (see
tests/data/README.md): n43.dt0 (band checksum 49187, the geotransform
quoted in autotest/gdrivers/dted.py), the partial/sparse variants
(56006 / 56369), the coordinate-inverted and WGS72 variants, and the
bad-CRC file (must error, like the reference).

Spark shape: a DTED cell is one self-contained file (max ~25 MB for a
level-2 cell), so the unit of parallelism is the FILE — a glob (a
continental DTED archive is tens of thousands of 1-degree cells) fans
out one task per file into standard images-table rows, after which
every raster operator (hillshade, contour, viewshed, warp...) applies
unchanged. The sink writes one cell per row, by the task holding it.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd

from ._util import raster_row, schema_columns, write_files

OUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
    "gt5 double, srid int, nodata double"
)

NODATA = -32767.0
_DATA_START = 80 + 648 + 2700  # UHL + DSI + ACC


def _angle(field: bytes) -> float:
    """DDDMMSSH text -> signed decimal degrees."""
    s = field.decode("ascii")
    deg, mnt, sec, hemi = int(s[0:3]), int(s[3:5]), int(s[5:7]), s[7]
    v = deg + mnt / 60.0 + sec / 3600.0
    return -v if hemi in "WS" else v


def parse_dted(buf: bytes):
    """DTED bytes -> (int16 array (h, w) north-up, geotransform, srid,
    nodata). Verifies each record's checksum like the reference (a
    corrupt record raises)."""
    if buf[:4] != b"UHL1":
        raise ValueError("not DTED (no UHL1 sentinel)")
    f1, f2 = buf[4:12], buf[12:20]
    # some producers swap lon/lat; the hemisphere letter disambiguates
    if chr(f1[7]) in "NS":
        lat0, lon0 = _angle(f1), _angle(f2)
    else:
        lon0, lat0 = _angle(f1), _angle(f2)
    dx = int(buf[20:24]) / 36000.0
    dy = int(buf[24:28]) / 36000.0
    nlon = int(buf[47:51])
    nlat = int(buf[51:55])

    datum = buf[80 + 144:80 + 149].decode("ascii", "replace").strip()
    srid = {"WGS84": 4326, "WGS72": 4322}.get(datum, 4326)

    arr = np.full((nlat, nlon), int(NODATA), dtype=np.int16)
    reclen = 8 + 2 * nlat + 4
    data = buf[_DATA_START:]
    nrec = len(data) // reclen
    for k in range(nrec):
        rec = data[k * reclen:(k + 1) * reclen]
        if rec[0] != 0xAA:
            raise ValueError(f"record {k}: bad sentinel {rec[0]:#x}")
        (lonc,) = struct.unpack(">H", rec[4:6])
        (want,) = struct.unpack(">I", rec[8 + 2 * nlat:])
        got = sum(rec[:8 + 2 * nlat])
        if got != want:
            raise ValueError(
                f"record {k} (column {lonc}): checksum {got} != {want}"
            )
        if lonc >= nlon:
            raise ValueError(f"record {k}: column {lonc} >= {nlon}")
        raw = np.frombuffer(rec, dtype=">u2", count=nlat, offset=8)
        mag = (raw & 0x7FFF).astype(np.int32)
        val = np.where(raw & 0x8000, -mag, mag).astype(np.int16)
        arr[:, lonc] = val[::-1]  # stored south->north; raster is north-up

    gt = (lon0 - dx / 2.0, dx, 0.0,
          lat0 + (nlat - 1) * dy + dy / 2.0, 0.0, -dy)
    return arr, gt, srid, NODATA


def format_dted(arr: np.ndarray, gt, srid: int = 4326) -> bytes:
    """int16-valued north-up array (+ georef) -> DTED cell bytes. The
    geotransform must be axis-aligned with intervals that are whole
    tenths of arcseconds <= 9999 (the UHL field width — every real
    DTED level satisfies this). Fills the UHL completely and the DSI
    fields the readers consult (product level, datum, origin,
    intervals, counts); elevations are written south-to-north with
    per-record checksums."""
    a = np.asarray(arr)
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[:, :, 0]
    if a.ndim != 2:
        raise ValueError("DTED holds a single band")
    ai = np.rint(np.asarray(a, dtype=np.float64))
    ai = np.where(np.isnan(ai), NODATA, ai)
    if ai.min() < -32767 or ai.max() > 32767:
        raise ValueError("elevation outside signed-magnitude 15-bit range")
    ai = ai.astype(np.int32)
    h, w = ai.shape
    if gt[2] or gt[4]:
        raise ValueError("DTED requires an axis-aligned geotransform")
    dx, dy = float(gt[1]), -float(gt[5])
    ix, iy = round(dx * 36000), round(dy * 36000)
    if not (0 < ix <= 9999 and 0 < iy <= 9999):
        raise ValueError(f"interval {dx}/{dy} deg not a UHL field value")
    if abs(ix - dx * 36000) > 1e-6 or abs(iy - dy * 36000) > 1e-6:
        raise ValueError("interval not whole tenths of arcseconds")
    lon0 = gt[0] + dx / 2.0
    lat0 = gt[3] + gt[5] * (h - 0.5)  # southernmost point center

    def ang(v: float, lon: bool) -> bytes:
        hemi = ("E" if v >= 0 else "W") if lon else ("N" if v >= 0 else "S")
        total = int(round(abs(v) * 3600))  # whole arcseconds
        deg, rem = divmod(total, 3600)
        mnt, sec = divmod(rem, 60)
        return f"{deg:03d}{mnt:02d}{sec:02d}{hemi}".encode("ascii")

    datum = {4326: b"WGS84", 4322: b"WGS72"}.get(int(srid), b"WGS84")
    # product level from post spacing (30" -> 0, 3" -> 1, 1" -> 2)
    lvl = 0 if ix >= 300 else (1 if ix >= 30 else 2)

    uhl = bytearray(b" " * 80)
    uhl[0:4] = b"UHL1"
    uhl[4:12] = ang(lon0, True)
    uhl[12:20] = ang(lat0, False)
    uhl[20:24] = b"%04d" % ix
    uhl[24:28] = b"%04d" % iy
    uhl[28:32] = b"0000"   # absolute vertical accuracy
    uhl[32:35] = b"U  "    # security
    uhl[47:51] = b"%04d" % w
    uhl[51:55] = b"%04d" % h
    uhl[55:56] = b"0"      # multiple accuracy

    dsi = bytearray(b" " * 648)
    dsi[0:3] = b"DSI"
    dsi[3:4] = b"U"
    dsi[59:64] = b"DTED%d" % lvl
    dsi[87:89] = b"02"           # edition
    dsi[126:130] = b"MSL "       # vertical datum
    dsi[144:149] = datum
    # DSI origin (fields at 1-based 186/195: DDMMSS.SH / DDDMMSS.SH)
    la, lo = ang(lat0, False), ang(lon0, True)
    dsi[185:194] = la[1:7] + b".0" + la[7:8]
    dsi[194:204] = lo[0:7] + b".0" + lo[7:8]
    acc = bytearray(b" " * 2700)
    acc[0:3] = b"ACC"

    out = bytearray()
    out += uhl
    out += dsi
    out += acc
    south_up = ai[::-1, :]  # record order wants south->north
    for c in range(w):
        col = south_up[:, c]
        mag = np.abs(col).astype(np.uint16)
        raw = np.where(col < 0, mag | 0x8000, mag).astype(">u2")
        rec = bytearray()
        rec += b"\xaa"
        rec += int(c).to_bytes(3, "big")  # data block count
        rec += struct.pack(">HH", c, 0)
        rec += raw.tobytes()
        rec += struct.pack(">I", sum(rec))
        out += rec
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def scan_dted(spark, path_glob: str):
    """Glob of .dt0/.dt1/.dt2 cells -> images-table rows (one task per
    file, like the GeoTIFF scan)."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr, gt, srid, nodata = parse_dted(bytes(r.content))
                rows.append(raster_row(
                    os.path.splitext(os.path.basename(r.path))[0],
                    arr, gt, srid, nodata))
            yield pd.DataFrame(rows, columns=schema_columns(OUT_SCHEMA))

    return (
        spark.read.format("binaryFile").load(path_glob)
        .select("path", "content")
        .mapInPandas(parse, schema=OUT_SCHEMA)
    )


def write_dted(df, out_dir: str, suffix: str = "dt0"):
    """One DTED cell per row, written by the task that holds the row
    (the distributed many-files layout shared by the .tif/.asc sinks)."""
    has_srid = "srid" in df.columns

    def dump_row(r, arr, gt, nd, out_dir):
        srid = int(r.srid) if has_srid and r.srid is not None else 4326
        path = os.path.join(out_dir, f"{r.image_id}.{suffix}")
        with open(path, "wb") as f:
            f.write(format_dted(arr, gt, srid=srid))
        return path

    return write_files(df, out_dir, dump_row)
