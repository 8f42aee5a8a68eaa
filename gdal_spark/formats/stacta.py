"""STACTA (STAC Tiled Assets) read driver.

Reference semantics: frmts/stacta/ — re-derived from the published
STAC "tiled-assets" extension specification:

- a dataset is a STAC Item JSON whose
  ``properties."tiles:tile_matrix_links"`` names a tile matrix set
  and per-level tile limits, ``properties."tiles:tile_matrix_sets"``
  embeds the OGC TileMatrixSet definition (per-level
  scaleDenominator / topLeftCorner / tileWidth / tileHeight /
  matrixWidth), and an asset template carries an href like
  ``./{TileMatrixSet}/{TileMatrix}/{TileRow}/{TileCol}.tif``;
- the raster at a level is the mosaic of that level's tiles within
  the declared limits (the reference's contract, asserted in its
  own test as byte-equality with a VRT of the source tiles), cell
  size = scaleDenominator · 0.28e-3 (the OGC standardized rendering
  pixel size) in CRS units — for geographic CRS the definition's
  cellSize is carried directly when present;
- tiles decode through the engine's own gtiff/PNG/JPEG codecs;
  ``eo:bands``/``raster:bands`` nodata is honoured.

Spark shape: one task per tile; ``read_stacta`` is the in-task /
test-side compositor.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np

from ._util import local_path, raster_row, scan_files

OGC_PIXEL_M = 0.00028
# degrees per metre on the WGS84 equator (the OGC TMS constant)
DEG_PER_M = 1.0 / 111319.49079327358


def parse_stacta(doc: dict):
    """STAC item dict -> (template, tms_id, levels dict)."""
    props = doc.get("properties", {})
    links = props.get("tiles:tile_matrix_links", {})
    if not links:
        raise ValueError("STACTA: no tiles:tile_matrix_links")
    tms_id, link = next(iter(links.items()))
    limits = link.get("limits", {})
    sets = props.get("tiles:tile_matrix_sets", {})
    tms = sets.get(tms_id, {})
    matrices = {}
    for m in tms.get("tileMatrix", tms.get("tileMatrices", [])):
        ident = str(m.get("identifier", m.get("id")))
        tl = m.get("topLeftCorner", m.get("pointOfOrigin",
                                          [-180.0, 90.0]))
        sd = float(m.get("scaleDenominator", 0))
        geographic = "crs84" in tms_id.lower() or \
            "4326" in str(tms.get("supportedCRS", ""))
        cell = sd * OGC_PIXEL_M
        if geographic:
            cell *= DEG_PER_M
        matrices[ident] = {
            "tl": (float(tl[0]), float(tl[1])),
            "cell": cell,
            "tw": int(m.get("tileWidth", 256)),
            "th": int(m.get("tileHeight", 256)),
            "mw": int(m.get("matrixWidth", 1)),
            "mh": int(m.get("matrixHeight", 1)),
            "geographic": geographic,
        }
    template = None
    for asset in doc.get("asset_templates", {}).values():
        template = asset.get("href")
        if template:
            break
    if template is None:
        raise ValueError("STACTA: no asset template href")
    nodata = None
    for asset in doc.get("asset_templates", {}).values():
        for b in asset.get("eo:bands", []) + \
                asset.get("raster:bands", []):
            if "nodata" in b:
                nodata = float(b["nodata"])
                break
    return template, tms_id, matrices, limits, nodata


def _tile_path(base, template, tms_id, level, row, col):
    rel = (template.replace("{TileMatrixSet}", tms_id)
           .replace("{TileMatrix}", str(level))
           .replace("{TileRow}", str(row))
           .replace("{TileCol}", str(col)))
    rel = re.sub(r"^\./", "", rel)
    return os.path.join(base, rel)


def _decode(path: str):
    """Tile path -> (array, nodata-from-tile-metadata | None)."""
    with open(path, "rb") as f:
        buf = f.read()
    if buf[:2] in (b"II", b"MM"):
        from .gtiff import parse_gtiff

        arr, _, _, nodata = parse_gtiff(buf)
        return arr, nodata
    if buf[:8] == b"\x89PNG\r\n\x1a\n":
        from .. import codecs

        return codecs.decode_png(buf), None
    from ..jpeg import decode_jpeg

    return decode_jpeg(buf), None


def read_stacta(json_path: str, level: str | None = None):
    """Item path (+ optional level id; default the finest) ->
    ((h, w[, c]) array, gt, info)."""
    json_path = local_path(json_path)
    with open(json_path) as f:
        doc = json.load(f)
    template, tms_id, matrices, limits, nodata = parse_stacta(doc)
    base = os.path.dirname(json_path)
    if level is None:
        level = max(limits, key=lambda k: int(k))
    lim = limits[level]
    m = matrices[level]
    c0, c1 = lim["min_tile_col"], lim["max_tile_col"]
    r0, r1 = lim["min_tile_row"], lim["max_tile_row"]
    ncols = c1 - c0 + 1
    nrows = r1 - r0 + 1
    W, H = ncols * m["tw"], nrows * m["th"]
    out = None
    for r in range(r0, r1 + 1):
        for c in range(c0, c1 + 1):
            p = _tile_path(base, template, tms_id, level, r, c)
            if not os.path.exists(p):
                continue
            tile, tile_nodata = _decode(p)
            if nodata is None:
                nodata = tile_nodata
            if tile.ndim == 2:
                tile = tile[:, :, None]
            if out is None:
                out = np.zeros((H, W, tile.shape[2]), tile.dtype)
            y0 = (r - r0) * m["th"]
            x0 = (c - c0) * m["tw"]
            out[y0:y0 + tile.shape[0],
                x0:x0 + tile.shape[1], :] = tile
    if out is None:
        raise FileNotFoundError("STACTA: no tiles found at level "
                                f"{level}")
    gt = (m["tl"][0] + c0 * m["tw"] * m["cell"], m["cell"], 0.0,
          m["tl"][1] - r0 * m["th"] * m["cell"], 0.0, -m["cell"])
    info = {"level": level, "tms": tms_id, "nodata": nodata,
            "levels": sorted(limits, key=int)}
    return out.squeeze(), gt, info


def scan_stacta(spark, json_path: str, level: str | None = None):
    """Item -> images-table rows, ONE TASK PER TILE."""
    json_path = local_path(json_path)
    with open(json_path) as f:
        doc = json.load(f)
    template, tms_id, matrices, limits, nodata = parse_stacta(doc)
    if level is None:
        level = max(limits, key=lambda k: int(k))
    lim = limits[level]
    tasks = [(json_path, level, r, c)
             for r in range(lim["min_tile_row"],
                            lim["max_tile_row"] + 1)
             for c in range(lim["min_tile_col"],
                            lim["max_tile_col"] + 1)]
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "nodata double, source string")

    def read(t):
        with open(t.path) as f:
            tpl, tid, mats, lims, nod = parse_stacta(json.load(f))
        m = mats[t.level]
        p = _tile_path(os.path.dirname(t.path), tpl, tid, t.level, t.row,
                       t.col)
        if not os.path.exists(p):
            return []
        arr, tile_nodata = _decode(p)
        if nod is None:
            nod = tile_nodata
        if arr.ndim == 2:
            arr = arr[:, :, None]
        gt = (m["tl"][0] + t.col * m["tw"] * m["cell"], m["cell"], 0.0,
              m["tl"][1] - t.row * m["th"] * m["cell"], 0.0, -m["cell"])
        return [raster_row(f"{t.level}/{t.row}/{t.col}", arr, gt,
                           4326 if m["geographic"] else 0, nod,
                           source=os.path.basename(t.path))]

    return scan_files(
        spark, None, read, schema,
        tasks=("path string, level string, row int, col int", tasks))
