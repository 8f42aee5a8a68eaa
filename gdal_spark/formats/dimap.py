"""SPOT/Pleiades DIMAP (v1 + v2) and EarthWatch .TIL composite
product drivers.

Reference semantics: frmts/dimap/dimapdataset.cpp and
frmts/til/tildataset.cpp — re-derived from the published DIMAP
dictionary (CNES/Airbus) and the EarthWatch tiled-product
description. Both are METADATA WRAPPERS whose pixels live in TIFF
components, read here through the engine's own from-spec gtiff
driver:

- DIMAP v1 (``METADATA.DIM``): ``Data_Access/DATA_FILE_PATH@href``
  names the single TIFF; scene metadata is flattened the
  reference's way (``Production``, ``Processing_Information``
  scene-processing and ``Spectral_Band_Info`` children prefixed
  ``SPECTRAL_``); the four corner tie points are exposed as GCPs
  (SPOT level-1A scenes are not affine);
- DIMAP v2 (``DIM_*.XML``): ``Raster_Data/Data_Access/Data_Files``
  lists component TIFFs with ``tile_R``/``tile_C`` positions
  assembled row-major into the declared NROWS x NCOLS mosaic with
  NBANDS bands;
- TIL (``.til``): ``numTiles`` + per-tile ``TILE_n.filename`` and
  UL/LR col/row offsets assemble TIFF tiles into one mosaic; the
  sibling ``.IMD`` file supplies IMAGERY-domain metadata
  (satId/cloudCover/firstLineTime as in the reference).

Spark shape: one task per product; component TIFFs are decoded
inside the task with the vectorized gtiff parser.
"""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET

import numpy as np

from ._util import glob_paths, local_path, raster_row, scan_files
from .gtiff import parse_gtiff


# ------------------------------------------------------------- DIMAP
def parse_dimap_meta(xml_text: str):
    """DIMAP XML -> (version, info dict)."""
    root = ET.fromstring(xml_text)
    fmt = root.find(".//METADATA_FORMAT")
    version = (fmt.get("version", "1") if fmt is not None else "1")
    info = {"version": version}
    prof = root.find(".//METADATA_PROFILE")
    if prof is not None and prof.text:
        info["METADATA_PROFILE"] = prof.text.strip()
    for tag in ("PROCESSING_LEVEL", "SCENE_PROCESSING_LEVEL",
                "GEOMETRIC_PROCESSING", "RADIOMETRIC_PROCESSING",
                "DATASET_NAME", "MISSION", "MISSION_INDEX"):
        el = root.find(f".//{tag}")
        if el is not None and el.text:
            info.setdefault(
                "PROCESSING_LEVEL" if tag ==
                "SCENE_PROCESSING_LEVEL" else tag,
                el.text.strip())
    # spectral band info children prefixed SPECTRAL_ (v1 flattening)
    sbi = root.find(".//Spectral_Band_Info")
    if sbi is not None:
        for child in sbi:
            if child.text and child.text.strip():
                key = child.tag
                if not key.startswith("SPECTRAL_"):
                    key = "SPECTRAL_" + key
                info[key] = child.text.strip()
    for tag in ("NROWS", "NCOLS", "NBANDS"):
        el = root.find(f".//{tag}")
        if el is not None:
            info[tag] = int(el.text)
    crs = root.find(".//HORIZONTAL_CS_CODE")
    if crs is None:
        crs = root.find(".//GEODETIC_CRS_CODE")
    if crs is not None and crs.text:
        m = re.search(r"(\d+)$", crs.text.strip())
        if m:
            info["srid"] = int(m.group(1))
    # data files
    files = []
    for df in root.findall(".//Data_File"):
        path_el = df.find("DATA_FILE_PATH")
        if path_el is None:
            continue
        files.append({
            "href": path_el.get("href"),
            "r": int(df.get("tile_R", 1)),
            "c": int(df.get("tile_C", 1)),
        })
    if not files:
        for el in root.findall(".//DATA_FILE_PATH"):
            files.append({"href": el.get("href"), "r": 1, "c": 1})
    info["files"] = files
    # v1 tie points as GCPs
    gcps = []
    for tp in root.findall(".//Tie_Point"):
        def g(t):
            e = tp.find(t)
            return float(e.text) if e is not None else 0.0
        gcps.append((g("TIE_POINT_DATA_X"), g("TIE_POINT_DATA_Y"),
                     g("TIE_POINT_CRS_X"), g("TIE_POINT_CRS_Y")))
    info["gcps"] = gcps
    return version, info


def read_dimap(xml_path: str):
    """DIMAP product path (a .DIM/.XML file, or a directory
    containing one) -> ((h, w, nb) array, info)."""
    xml_path = local_path(xml_path)
    if os.path.isdir(xml_path):
        cands = [f for f in sorted(os.listdir(xml_path))
                 if f.upper().endswith((".DIM", ".XML"))
                 and (f.upper().startswith("DIM")
                      or f.upper() == "METADATA.DIM")]
        if not cands:
            raise FileNotFoundError(
                f"no DIMAP metadata under {xml_path}")
        xml_path = os.path.join(xml_path, cands[0])
    base = os.path.dirname(xml_path)
    with open(xml_path, "r", encoding="utf-8", errors="replace") \
            as f:
        version, info = parse_dimap_meta(f.read())
    tiles = {}
    max_r = max_c = 1
    for df in info["files"]:
        p = os.path.join(base, df["href"])
        if not os.path.exists(p):
            for cand in os.listdir(base):
                if cand.lower() == df["href"].lower():
                    p = os.path.join(base, cand)
                    break
        with open(p, "rb") as f:
            raw = f.read()
        if raw.lstrip()[:4] == b"<VRT":
            # some products ship a .TIF-named VRT (the reference
            # resolves it through its VRT driver; so do we)
            from .vrt import materialize_vrt, parse_vrt

            desc = parse_vrt(raw.decode("utf-8", "replace"),
                             os.path.dirname(p))
            arr = materialize_vrt(desc)[0]
        else:
            arr = parse_gtiff(raw)[0]
        if arr.ndim == 2:
            arr = arr[:, :, None]
        tiles[(df["r"], df["c"])] = arr
        max_r = max(max_r, df["r"])
        max_c = max(max_c, df["c"])
    # assemble row-major; rows may have unequal heights
    row_h = {r: max(a.shape[0] for (rr, cc), a in tiles.items()
                    if rr == r) for r in range(1, max_r + 1)}
    col_w = {c: max(a.shape[1] for (rr, cc), a in tiles.items()
                    if cc == c) for c in range(1, max_c + 1)}
    H = sum(row_h.values())
    W = sum(col_w.values())
    nb = next(iter(tiles.values())).shape[2]
    out = np.zeros((H, W, nb),
                   dtype=next(iter(tiles.values())).dtype)
    y = 0
    for r in range(1, max_r + 1):
        x = 0
        for c in range(1, max_c + 1):
            a = tiles.get((r, c))
            if a is not None:
                out[y:y + a.shape[0], x:x + a.shape[1], :] = a
            x += col_w[c]
        y += row_h[r]
    if "NROWS" in info and "NCOLS" in info:
        out = out[:info["NROWS"], :info["NCOLS"], :]
    return out, info


# --------------------------------------------------------------- TIL
def parse_til(text: str):
    """.til text -> list of tile dicts."""
    kv = {}
    for line in text.splitlines():
        line = line.strip().rstrip(";")
        if "=" in line:
            k, v = line.split("=", 1)
            kv[k.strip()] = v.strip().strip('"')
    n = int(kv.get("numTiles", 0))
    tiles = []
    for i in range(1, n + 1):
        tiles.append({
            "filename": kv[f"TILE_{i}.filename"],
            "ulx": int(kv.get(f"TILE_{i}.ULColOffset", 0)),
            "uly": int(kv.get(f"TILE_{i}.ULRowOffset", 0)),
            "lrx": int(kv.get(f"TILE_{i}.LRColOffset", 0)),
            "lry": int(kv.get(f"TILE_{i}.LRRowOffset", 0)),
        })
    return tiles


def parse_imd(text: str):
    """.IMD text -> flat metadata dict (the IMAGERY domain)."""
    out = {}
    for line in text.splitlines():
        line = line.strip().rstrip(";")
        if "=" in line and not line.startswith(("BEGIN", "END")):
            k, v = line.split("=", 1)
            out[k.strip()] = v.strip().strip('"')
    return out


def read_til(til_path: str):
    """.til path -> ((h, w[, nb]) array, metadata dict)."""
    til_path = local_path(til_path)
    base = os.path.dirname(til_path)
    with open(til_path) as f:
        tiles = parse_til(f.read())
    if not tiles:
        raise ValueError("TIL: no tiles listed")
    md = {}
    imd = os.path.splitext(til_path)[0] + ".imd"
    for cand in (imd, imd.upper()):
        if os.path.exists(cand):
            with open(cand) as f:
                md = parse_imd(f.read())
            break
    arrs = []
    for t in tiles:
        p = os.path.join(base, t["filename"])
        if not os.path.exists(p):
            for cand in os.listdir(base):
                if cand.lower() == t["filename"].lower():
                    p = os.path.join(base, cand)
                    break
        with open(p, "rb") as f:
            a = parse_gtiff(f.read())[0]
        if a.ndim == 2:
            a = a[:, :, None]
        arrs.append(a)
    # raster size: tiles placed at their UL offsets with their own
    # dimensions (the reference sizes from the components)
    W = max(t["ulx"] + a.shape[1] for t, a in zip(tiles, arrs))
    H = max(t["uly"] + a.shape[0] for t, a in zip(tiles, arrs))
    nb = arrs[0].shape[2]
    out = np.zeros((H, W, nb), dtype=arrs[0].dtype)
    for t, a in zip(tiles, arrs):
        out[t["uly"]:t["uly"] + a.shape[0],
            t["ulx"]:t["ulx"] + a.shape[1], :] = a
    return out.squeeze(), md


# -------------------------------------------------------------- scan
def scan_dimap(spark, path_glob: str):
    """Glob of DIMAP metadata files or product dirs -> images-table
    rows (one row per band)."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, band int, nbands int, srid int, "
              "profile string, processing_level string, "
              "source string")

    def read(r):
        arr, info = read_dimap(r.path)
        stem = os.path.basename(r.path.rstrip("/"))
        return [raster_row(f"{stem}#{b}", arr[:, :, b], None,
                           info.get("srid", 0), band=b,
                           nbands=arr.shape[2],
                           profile=info.get("METADATA_PROFILE", ""),
                           processing_level=info.get(
                               "PROCESSING_LEVEL", ""),
                           source=stem)
                for b in range(arr.shape[2])]

    return scan_files(spark, glob_paths(path_glob), read, schema)


def scan_til(spark, path_glob: str):
    """Glob of .til files -> images-table rows."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, sat_id string, cloud_cover string, "
              "source string")

    def read(r):
        arr, md = read_til(r.path)
        stem = os.path.basename(r.path)
        return [raster_row(stem, arr, None, None,
                           sat_id=md.get("satId", ""),
                           cloud_cover=md.get("cloudCover", ""),
                           source=stem)]

    return scan_files(spark, glob_paths(path_glob), read, schema)
