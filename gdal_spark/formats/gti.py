"""GDAL Raster Tile Index (GTI) read driver.

Reference semantics: frmts/gti/ — re-derived from the published GTI
specification: the index is a VECTOR layer (GeoPackage /
FlatGeobuf / GeoJSON …) whose features carry a ``location``
attribute naming a raster and a footprint geometry; the dataset is
the mosaic of the referenced rasters on the union grid (each tile
placed by its OWN georeferencing — the reference's contract is
equality with a VRT of the sources, asserted per-band-checksum in
its autotest).

Spark shape: ``scan_gti`` reads the index driver-side (it is tiny —
one row per raster) and fans out ONE TASK PER REFERENCED RASTER,
emitting standard images-table rows that compose with the engine's
distributed mosaic operator; ``read_gti`` is the in-task/test-side
local compositor.
"""

from __future__ import annotations

import os
import sqlite3

import numpy as np

from ._util import local_path, raster_row, scan_files


def gti_locations(index_path: str):
    """Index path -> list of absolute raster paths (GeoPackage and
    GeoJSON index flavors)."""
    index_path = local_path(index_path)
    base = os.path.dirname(index_path)
    out = []
    if index_path.lower().endswith((".gpkg", ".gti.gpkg")):
        con = sqlite3.connect(index_path)
        try:
            tn = [r[0] for r in con.execute(
                "SELECT table_name FROM gpkg_contents "
                "WHERE data_type='features'")][0]
            for (loc,) in con.execute(
                    f'SELECT location FROM "{tn}" ORDER BY fid'):
                out.append(loc)
        finally:
            con.close()
    else:
        import json

        with open(index_path) as f:
            doc = json.load(f)
        for ft in doc.get("features", []):
            loc = ft.get("properties", {}).get("location")
            if loc:
                out.append(loc)
    resolved = []
    for loc in out:
        p = loc if os.path.isabs(loc) else os.path.join(base, loc)
        resolved.append(p)
    return resolved


def read_gti(index_path: str):
    """Index -> (mosaic array (h, w[, c]), gt, tile paths)."""
    from .gtiff import parse_gtiff

    paths = gti_locations(index_path)
    if not paths:
        raise ValueError("GTI: empty index")
    tiles = []
    for p in paths:
        with open(p, "rb") as f:
            arr, gt, srid, nodata = parse_gtiff(f.read())
        tiles.append((arr, gt, nodata))
    # union grid at the first tile's resolution
    dx = tiles[0][1][1]
    dy = -tiles[0][1][5]
    minx = min(t[1][0] for t in tiles)
    maxy = max(t[1][3] for t in tiles)
    maxx = max(t[1][0] + t[0].shape[1] * t[1][1] for t in tiles)
    miny = min(t[1][3] + t[0].shape[0] * t[1][5] for t in tiles)
    W = int(round((maxx - minx) / dx))
    H = int(round((maxy - miny) / dy))
    a0 = tiles[0][0]
    shape = (H, W) if a0.ndim == 2 else (H, W, a0.shape[2])
    nodata = next((t[2] for t in tiles if t[2] is not None), None)
    out = np.full(shape, nodata if nodata is not None else 0,
                  dtype=a0.dtype)
    for arr, gt, _ in tiles:
        x0 = int(round((gt[0] - minx) / dx))
        y0 = int(round((maxy - gt[3]) / dy))
        out[y0:y0 + arr.shape[0], x0:x0 + arr.shape[1], ...] = arr
    return out, (minx, dx, 0.0, maxy, 0.0, -dy), paths


def scan_gti(spark, index_path: str):
    """Index -> images-table rows, ONE TASK PER REFERENCED RASTER
    (compose with operators.mosaic for the distributed path)."""
    from .gtiff import parse_gtiff

    paths = gti_locations(index_path)
    if not paths:
        raise ValueError("GTI: empty index")
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "nodata double, source string")

    def read(r):
        with open(r.path, "rb") as f:
            arr, gt, srid, nodata = parse_gtiff(f.read())
        stem = os.path.basename(r.path)
        return [raster_row(stem, arr, gt, srid, nodata, source=stem)]

    return scan_files(spark, paths, read, schema)
