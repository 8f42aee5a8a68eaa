"""Arc/Info ASCII Grid (AAIGrid) driver — the text DEM interchange format.

Reference driver: frmts/aaigrid/aaigriddataset.cpp. Implemented from the
published format description: a header of ``ncols nrows
xllcorner|xllcenter yllcorner|yllcenter cellsize [nodata_value]``
key/value lines (case-insensitive, any order after ncols/nrows) followed
by ``nrows`` rows of whitespace-separated cell values, top row first.
``*llcenter`` shifts the origin by half a cell (the reference's
handling); the affine geotransform is north-up ``(xll, cs, 0, ytop, 0,
-cs)``.

Spark shape: AAIGrid files are whole-document (the header governs the
body), so the unit of parallelism is the FILE — a glob of N files fans
out N tasks via the binaryFile source, exactly like the GeoJSON
FeatureCollection path. Each file becomes one row of the engine's
images table (``bytes`` holds the raw float64 grid in the engine's GSRW
container, georef in ``gt0..gt5``), after which every raster operator
(warp, contour, DEM, zonal...) applies unchanged. The sink streams one
file per row back out.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

from ._util import raster_row, schema_columns, write_files

OUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
    "gt5 double, srid int, nodata double"
)


def parse_aaigrid(text: str):
    """-> (array float64 (h, w) with nodata as NaN, geotransform, nodata)."""
    toks = text.split()
    hdr = {}
    pos = 0
    while pos + 1 < len(toks):
        key = toks[pos].lower()
        if key in ("ncols", "nrows", "xllcorner", "yllcorner", "xllcenter",
                   "yllcenter", "cellsize", "nodata_value", "dx", "dy"):
            hdr[key] = float(toks[pos + 1])
            pos += 2
        else:
            break
    w, h = int(hdr["ncols"]), int(hdr["nrows"])
    cx = hdr.get("dx", hdr.get("cellsize"))
    cy = hdr.get("dy", hdr.get("cellsize"))
    if cx is None or cy is None:
        raise ValueError("AAIGrid header missing cellsize")
    xll = hdr.get("xllcorner", hdr.get("xllcenter"))
    yll = hdr.get("yllcorner", hdr.get("yllcenter"))
    if xll is None or yll is None:
        raise ValueError("AAIGrid header missing ll origin")
    if "xllcenter" in hdr:
        xll -= cx / 2
    if "yllcenter" in hdr:
        yll -= cy / 2
    vals = np.asarray(toks[pos:pos + w * h], dtype=np.float64)
    if vals.size != w * h:
        raise ValueError(
            f"AAIGrid body has {vals.size} values, expected {w * h}"
        )
    arr = vals.reshape(h, w)
    nodata = hdr.get("nodata_value")
    if nodata is not None:
        arr = np.where(arr == nodata, np.nan, arr)
    gt = (xll, cx, 0.0, yll + h * cy, 0.0, -cy)
    return arr, gt, nodata


def format_aaigrid(arr: np.ndarray, gt, nodata: float | None = -9999.0) -> str:
    """Inverse of :func:`parse_aaigrid` (north-up grids only, like the
    reference's CreateCopy)."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a[:, :, 0]
    h, w = a.shape
    if gt[2] != 0 or gt[4] != 0 or gt[5] >= 0:
        raise ValueError("AAIGrid requires a north-up, unrotated grid")
    if abs(abs(gt[1]) - abs(gt[5])) > 1e-12:
        raise ValueError("AAIGrid requires square cells (use dx/dy readers)")
    # float() unwrap everywhere: repr(np.float64(v)) is 'np.float64(v)'
    # under numpy>=2, which would corrupt the file silently.
    lines = [
        f"ncols {w}",
        f"nrows {h}",
        f"xllcorner {float(gt[0])!r}",
        f"yllcorner {float(gt[3] + h * gt[5])!r}",
        f"cellsize {float(gt[1])!r}",
    ]
    if nodata is not None:
        lines.append(f"NODATA_value {float(nodata)!r}")
        a = np.where(np.isnan(a), nodata, a)
    body = "\n".join(" ".join(repr(float(v)) for v in row) for row in a)
    return "\n".join(lines) + "\n" + body + "\n"


def scan_aaigrid(spark, path_glob: str, srid: int = 0):
    """Glob of .asc files -> images-table rows (one task per file)."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr, gt, nodata = parse_aaigrid(
                    bytes(r.content).decode("ascii")
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


def write_aaigrid(df, out_dir: str, nodata: float | None = -9999.0):
    """One .asc file per row, written BY THE TASK that holds the row (a
    distributed many-files sink — AAIGrid has no multi-dataset container,
    so file-per-row is the natural layout and there is no driver funnel).
    A per-row ``nodata`` column (the one :func:`scan_aaigrid` emits)
    takes precedence over the function-level default, so a grid whose
    nodata marker collides with legitimate default-marker values
    round-trips faithfully."""
    def dump_row(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.asc")
        with open(path, "w") as f:
            f.write(format_aaigrid(arr, gt, nd))
        return path

    return write_files(df, out_dir, dump_row, nodata=nodata)


# ---------------------------------------------------------------------------
# GRASS ASCII grid + ISG geoid grid — the reference implements both as
# siblings of AAIGrid inside frmts/aaigrid/aaigriddataset.cpp
# (GRASSASCIIDataset::ParseHeader at :626, ISGDataset::ParseHeader at
# :732); same discipline here.
# ---------------------------------------------------------------------------


def parse_grassascii(text: str):
    """GRASS ASCII grid (north:/south:/east:/west:/rows:/cols: header,
    optional null:/type:) -> (array float64 with nodata as NaN,
    geotransform, nodata). The header tokenizes on whitespace AND ':'
    exactly like the reference, and the geotransform derives the cell
    size from the extent (cells need not be square)."""
    toks = text.replace(":", " ").split()
    hdr = {}
    for key in ("north", "south", "east", "west", "rows", "cols",
                "null", "type"):
        try:
            i = toks.index(key)
        except ValueError:
            continue
        if i + 1 < len(toks):
            hdr[key] = toks[i + 1]
    for req in ("north", "south", "east", "west", "rows", "cols"):
        if req not in hdr:
            raise ValueError(f"GRASS ASCII grid header missing {req}")
    w, h = int(hdr["cols"]), int(hdr["rows"])
    north, south = float(hdr["north"]), float(hdr["south"])
    east, west = float(hdr["east"]), float(hdr["west"])
    cx = (east - west) / w
    cy = (north - south) / h
    # body starts after the last header value token
    used = max(
        toks.index(k) + 1
        for k in ("north", "south", "east", "west", "rows", "cols",
                  "null", "type")
        if k in toks
    )
    vals = np.asarray(toks[used + 1:used + 1 + w * h], dtype=np.float64)
    if vals.size != w * h:
        raise ValueError(
            f"GRASS grid body has {vals.size} values, expected {w * h}"
        )
    arr = vals.reshape(h, w)
    nodata = float(hdr["null"]) if "null" in hdr else None
    if nodata is not None:
        arr = np.where(arr == nodata, np.nan, arr)
    gt = (west, cx, 0.0, north, 0.0, -cy)
    return arr, gt, nodata


def format_grassascii(arr: np.ndarray, gt,
                      nodata: float | None = -9999.0) -> str:
    """Inverse of :func:`parse_grassascii` (the reference driver is
    read-only; this writer exists for the engine's own sinks)."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a[:, :, 0]
    h, w = a.shape
    if gt[2] != 0 or gt[4] != 0 or gt[5] >= 0:
        raise ValueError("GRASS grid requires a north-up, unrotated grid")
    lines = [
        f"north: {float(gt[3])!r}",
        f"south: {float(gt[3] + h * gt[5])!r}",
        f"east: {float(gt[0] + w * gt[1])!r}",
        f"west: {float(gt[0])!r}",
        f"rows: {h}",
        f"cols: {w}",
    ]
    if nodata is not None:
        lines.append(f"null: {float(nodata)!r}")
        a = np.where(np.isnan(a), nodata, a)
    body = "\n".join(" ".join(repr(float(v)) for v in row) for row in a)
    return "\n".join(lines) + "\n" + body + "\n"


def scan_grassascii(spark, path_glob: str, srid: int = 0):
    """Glob of GRASS ASCII grids -> images-table rows (one task per
    file, the AAIGrid fan-out)."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr, gt, nodata = parse_grassascii(
                    bytes(r.content).decode("ascii")
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


def write_grassascii(df, out_dir: str, nodata: float | None = -9999.0):
    """One GRASS .txt grid per row, task-written (the AAIGrid sink)."""
    def dump_row(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.txt")
        with open(path, "w") as f:
            f.write(format_grassascii(arr, gt, nd))
        return path

    return write_files(df, out_dir, dump_row, nodata=nodata)


# --- ISG (International Service for the Geoid) geoid grids ---------------

_DMS_MULT = {"D": 1.0, "'": 0.0166666666667, '"': 0.00027777778}


def _dms_to_dec(s: str) -> float:
    """CPLDMSToDec subset with the reference's approximate minute/second
    multipliers (cpl_conv.cpp:2578 — the ISG path substitutes the UTF-8
    degree sign with 'D' first)."""
    s = s.replace("°", "D").strip()
    sign = 1.0
    if s[:1] in "+-":
        if s[0] == "-":
            sign = -1.0
        s = s[1:]
    import re as _re

    v = 0.0
    pos = 0
    for m in _re.finditer(r"(\d+(?:\.\d*)?)([Dd'\"])", s):
        if m.start() != pos:
            break
        unit = m.group(2).upper() if m.group(2) in "Dd" else m.group(2)
        v += float(m.group(1)) * _DMS_MULT[unit]
        pos = m.end()
    rest = s[pos:].strip()
    if rest[:1] and rest[0] in "SsWw":
        sign = -sign
    return sign * v


def _try_round_to(delta: float, rounded: float, vmin: float, vmax: float,
                  n: int, rel_tol: float):
    """The reference's TryRoundTo lambda (aaigriddataset.cpp:884-934):
    snap min/max to half-integer (cell-center) or integer (node)
    multiples of the rounded delta, commit only when the extent closes."""
    min_try, max_try, delta_try = vmin, vmax, delta
    if rounded != delta and \
            abs(abs(vmin / rounded) - (math.floor(abs(vmin / rounded)) + 0.5)) < rel_tol and \
            abs(abs(vmax / rounded) - (math.floor(abs(vmax / rounded)) + 0.5)) < rel_tol:
        val = (math.floor(abs(vmin / rounded)) + 0.5) * rounded
        min_try = -val if vmin < 0 else val
        val = (math.floor(abs(vmax / rounded)) + 0.5) * rounded
        max_try = -val if vmax < 0 else val
        delta_try = rounded
    elif rounded != delta and \
            abs(abs(vmin / rounded) - math.floor(abs(vmin / rounded) + 0.5)) < rel_tol and \
            abs(abs(vmax / rounded) - math.floor(abs(vmax / rounded) + 0.5)) < rel_tol:
        val = math.floor(abs(vmin / rounded) + 0.5) * rounded
        min_try = -val if vmin < 0 else val
        val = math.floor(abs(vmax / rounded) + 0.5) * rounded
        max_try = -val if vmax < 0 else val
        delta_try = rounded
    if abs(min_try + delta_try * n - max_try) < rel_tol * delta_try:
        return True, delta_try, min_try, max_try
    return False, delta, vmin, vmax


def parse_isg_header(text: str, skip_consistency_check: bool = False):
    """ISG 1.x/2.0 header -> dict(w, h, gt, nodata, srid, approx,
    metadata). Reproduces the reference's full georef ladder:
    key ':'/'=' split, dms coord units via the approximate multipliers,
    version>=2 half-cell cell-center expansion, the 0.0167 literal and
    1/delta-near-integer rounding candidates, both TryRoundTo
    registrations, the GEOIDEAR16 0.016667 retry, and the
    approximate-georef fallback (warning) vs rejection."""
    header = text.split("end_of_head")[0]
    kv = {}
    for line in header.splitlines():
        for sep in (":", "="):
            if sep in line:
                left, right = line.split(sep, 1)
                left = left.strip()
                right = right.strip()
                if left and right:
                    kv.setdefault(left, right)
                break
    fmt = kv.get("data format", "")
    if fmt and fmt != "grid":
        raise ValueError(f"ISG: data format = {fmt} not supported")
    ordering = kv.get("data ordering", "")
    if ordering and ordering != "N-to-S, W-to-E":
        raise ValueError(f"ISG: data ordering = {ordering} not supported")
    ctype = kv.get("coord type", "")
    if ctype and ctype != "geodetic":
        raise ValueError(f"ISG: coord type = {ctype} not supported")
    cunits = kv.get("coord units", "")
    if cunits and cunits not in ("deg", "dms"):
        raise ValueError(f"ISG: coord units = {cunits} not supported")
    use_dms = cunits == "dms"
    conv = _dms_to_dec if use_dms else float
    try:
        lat_min = conv(kv["lat min"])
        lat_max = conv(kv["lat max"])
        lon_min = conv(kv["lon min"])
        lon_max = conv(kv["lon max"])
        delta_lat = conv(kv["delta lat"])
        delta_lon = conv(kv["delta lon"])
        nrows = int(kv["nrows"])
        ncols = int(kv["ncols"])
    except KeyError as ex:
        raise ValueError(f"ISG header missing {ex}") from None
    version = float(kv.get("ISG format", "0") or "0")
    if version >= 2.0:
        lat_min -= delta_lat / 2.0
        lat_max += delta_lat / 2.0
        lon_min -= delta_lon / 2.0
        lon_max += delta_lon / 2.0
    if nrows <= 0 or ncols <= 0 or not (
            0 < delta_lat < 180 and 0 < delta_lon < 360):
        raise ValueError("ISG: invalid grid dimensions")

    def rounded_candidate(raw: str, delta: float) -> float:
        if raw == "0.0167" or (
                delta < 1 and
                abs(1.0 / delta - math.floor(1.0 / delta + 0.5)) < 0.06):
            return 1.0 / math.floor(1.0 / delta + 0.5)
        return delta

    r_lon = rounded_candidate(kv["delta lon"] if not use_dms else "",
                              delta_lon)
    r_lat = rounded_candidate(kv["delta lat"] if not use_dms else "",
                              delta_lat)
    ok1, delta_lon2, lon_min2, lon_max2 = _try_round_to(
        delta_lon, r_lon, lon_min, lon_max, ncols, 1e-2)
    ok2, delta_lat2, lat_min2, lat_max2 = _try_round_to(
        delta_lat, r_lat, lat_min, lat_max, nrows, 1e-2)
    ok = ok1 and ok2
    if ok:
        delta_lon, lon_min, lon_max = delta_lon2, lon_min2, lon_max2
        delta_lat, lat_min, lat_max = delta_lat2, lat_min2, lat_max2
    elif kv.get("delta lon") == "0.0167" and kv.get("delta lat") == "0.0167":
        # the reference's GEOIDEAR16_20160419.isg fine tuning
        ok1, delta_lon2, lon_min2, lon_max2 = _try_round_to(
            delta_lon, 0.016667, lon_min, lon_max, ncols, 1e-1)
        ok2, delta_lat2, lat_min2, lat_max2 = _try_round_to(
            delta_lat, 0.016667, lat_min, lat_max, nrows, 1e-1)
        ok = ok1 and ok2
        if ok:
            delta_lon, lon_min, lon_max = delta_lon2, lon_min2, lon_max2
            delta_lat, lat_min, lat_max = delta_lat2, lat_min2, lat_max2
    approx = False
    if not ok:
        if (abs((lon_max - lon_min) / ncols - delta_lon)
                < 0.005 * delta_lon and
                abs((lat_max - lat_min) / nrows - delta_lat)
                < 0.005 * delta_lat) or skip_consistency_check:
            approx = True
            delta_lon = (lon_max - lon_min) / ncols
            delta_lat = (lat_max - lat_min) / nrows
        else:
            raise ValueError(
                "ISG: inconsistent extent/resolution/raster dimension; "
                "set skip_consistency_check=True (the reference's "
                "ISG_SKIP_GEOREF_CONSISTENCY_CHECK) to accept it"
            )
    nodata = None
    if "nodata" in kv:
        # MapNoDataToFloat: the nodata marker is expressed as a float32
        nodata = float(np.float32(float(kv["nodata"])))
    srid = 4326
    epsg = kv.get("EPSG code", "")
    if epsg.isdigit():
        srid = int(epsg)
    return {
        "w": ncols, "h": nrows,
        "gt": (lon_min, delta_lon, 0.0, lat_max, 0.0, -delta_lat),
        "nodata": nodata, "srid": srid, "approx": approx,
        "model_name": kv.get("model name"),
        "model_type": kv.get("model type"),
        "units": kv.get("units") or kv.get("data units"),
    }


def parse_isg(text: str, skip_consistency_check: bool = False):
    """Full ISG file -> (array float64 with nodata as NaN, geotransform,
    nodata, srid). Body values are float32 in the reference (ISG is a
    Float32 dataset) — parsed at that precision here too."""
    hdr = parse_isg_header(text, skip_consistency_check)
    body = text.split("end_of_head", 1)[1]
    body = body.split("\n", 1)[1] if "\n" in body else ""
    vals = np.asarray(body.split(), dtype=np.float32)[
        :hdr["w"] * hdr["h"]].astype(np.float64)
    if vals.size != hdr["w"] * hdr["h"]:
        raise ValueError(
            f"ISG body has {vals.size} values, expected "
            f"{hdr['w'] * hdr['h']}"
        )
    arr = vals.reshape(hdr["h"], hdr["w"])
    if hdr["nodata"] is not None:
        arr = np.where(arr == hdr["nodata"], np.nan, arr)
    return arr, hdr["gt"], hdr["nodata"], hdr["srid"]


def format_isg(arr: np.ndarray, gt, nodata: float | None = -9999.0,
               model_name: str = "gdal_spark") -> str:
    """ISG 2.0 writer (the reference driver is read-only; this exists
    for the engine's own sinks). Version 2.0 headers carry CELL-CENTER
    lat/lon bounds, so the half-cell shift is re-applied inversely."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a[:, :, 0]
    h, w = a.shape
    if gt[2] != 0 or gt[4] != 0 or gt[5] >= 0:
        raise ValueError("ISG requires a north-up, unrotated grid")
    dlon, dlat = float(gt[1]), -float(gt[5])
    lon_min = float(gt[0]) + dlon / 2
    lon_max = float(gt[0]) + w * dlon - dlon / 2
    lat_max = float(gt[3]) - dlat / 2
    lat_min = float(gt[3]) - h * dlat + dlat / 2
    if nodata is not None:
        a = np.where(np.isnan(a), nodata, a)
    lines = [
        "begin_of_head ================================================",
        f"model name : {model_name}",
        "model type : gravimetric",
        "data units : meters",
        "data format : grid",
        "data ordering : N-to-S, W-to-E",
        "coord type : geodetic",
        "coord units : deg",
        f"lat min = {lat_min!r}",
        f"lat max = {lat_max!r}",
        f"lon min = {lon_min!r}",
        f"lon max = {lon_max!r}",
        f"delta lat = {dlat!r}",
        f"delta lon = {dlon!r}",
        f"nrows = {h}",
        f"ncols = {w}",
    ]
    if nodata is not None:
        lines.append(f"nodata = {float(nodata)!r}")
    lines.append("ISG format = 2.0")
    lines.append(
        "end_of_head =================================================="
    )
    body = "\n".join(
        " ".join(repr(float(np.float32(v))) for v in row) for row in a
    )
    return "\n".join(lines) + "\n" + body + "\n"


def scan_isg(spark, path_glob: str, skip_consistency_check: bool = False):
    """Glob of .isg geoid grids -> images-table rows (one task per
    file)."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr, gt, nodata, srid = parse_isg(
                    bytes(r.content).decode("utf-8", "replace"),
                    skip_consistency_check,
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


def write_isg(df, out_dir: str, nodata: float | None = -9999.0):
    """One .isg file per row, task-written (the AAIGrid sink shape)."""
    def dump_row(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.isg")
        with open(path, "w") as f:
            f.write(format_isg(arr, gt, nd,
                               model_name=str(r.image_id)))
        return path

    return write_files(df, out_dir, dump_row, nodata=nodata)
