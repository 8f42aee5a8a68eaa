"""Sidecar georeferencing — world files (.wld/.pgw/.jgw/.tfw...) and
PAM ``.aux.xml`` — the way the reference georeferences plain rasters
(PNG/JPEG/BMP...) that have no geo header of their own.

Reference behavior: gcore/gdal_misc.cpp GDALReadWorldFile2 /
GDALLoadWorldFile (semantics only) and gcore/gdalpamdataset.cpp:

- world-file lookup order for base.ext: the windows spelling
  (first + last ext letter + 'w', e.g. .pgw for .png), then the unix
  spelling (ext + 'w', .pngw), then .wld;
- the 6 values are (dx, rot_d, rot_b, dy, center_x, center_y) —
  note the CENTER-of-upper-left-pixel anchor: the geotransform
  origin subtracts half of BOTH the scale and rotation terms, and a
  world file whose scale terms are all zero is rejected as corrupt
  exactly like the reference;
- PAM ``.aux.xml`` (``<PAMDataset>``): ``<GeoTransform>`` (comma
  list, already corner-anchored) OVERRIDES the world file, ``<SRS>``
  supplies the SRID via its trailing AUTHORITY node, and band-1
  ``<NoDataValue>`` supplies nodata — the same precedence the
  reference's PAM layer applies over driver georef.

Spark shape: :func:`scan_plain_rasters` pairs every image file with
its sidecars driver-side (tiny text reads), then one task per file
decodes pixels through the engine's own codecs into images-table
rows; :func:`write_plain_rasters` is the task-per-row inverse
(image + world file + .aux.xml), which round-trips georef through
formats that cannot carry it.
"""

from __future__ import annotations

import os
import re

import numpy as np

from ._util import glob_paths, raster_row, scan_files, write_files

_IMG_EXTS = {".png": "png", ".jpg": "jpg", ".jpeg": "jpg",
             ".bmp": "bmp", ".pgm": "pnm", ".ppm": "pnm",
             ".gsj": "jpg"}  # GSJ1 bytes ride the jpg dispatch sniff


def world_file_candidates(path: str) -> list[str]:
    base, ext = os.path.splitext(path)
    ext = ext.lstrip(".")
    cands = []
    if len(ext) >= 2:
        cands.append(base + "." + ext[0] + ext[-1] + "w")  # .pgw
        cands.append(base + "." + ext + "w")               # .pngw
    cands.append(base + ".wld")
    return cands


def parse_world_file(text: str):
    """6 world-file values -> corner-anchored geotransform, or None
    when corrupt (all-zero scale terms), like the reference."""
    vals = [float(ln.strip().replace(",", "."))
            for ln in text.splitlines() if ln.strip()]
    if len(vals) != 6:
        return None
    a, d, b, e, cx, cy = vals
    if (a == 0.0 and b == 0.0) or (e == 0.0 and d == 0.0):
        return None
    return (cx - 0.5 * a - 0.5 * b, a, b,
            cy - 0.5 * d - 0.5 * e, d, e)


def read_world_file(path: str):
    for cand in world_file_candidates(path):
        if os.path.exists(cand):
            with open(cand) as f:
                gt = parse_world_file(f.read())
            if gt is not None:
                return gt
    return None


def read_pam(path: str) -> dict:
    """``{path}.aux.xml`` -> {'gt': tuple|None, 'srid': int,
    'nodata': float|None}."""
    import xml.etree.ElementTree as ET

    aux = path + ".aux.xml"
    out = {"gt": None, "srid": 0, "nodata": None}
    if not os.path.exists(aux):
        return out
    root = ET.parse(aux).getroot()
    gt_el = root.find("GeoTransform")
    if gt_el is not None and gt_el.text:
        vals = [float(v) for v in gt_el.text.split(",")]
        if len(vals) == 6:
            out["gt"] = tuple(vals)
    srs_el = root.find("SRS")
    if srs_el is not None and srs_el.text:
        codes = re.findall(r'AUTHORITY\["EPSG",\s*"(\d+)"\]',
                           srs_el.text)
        if codes:
            out["srid"] = int(codes[-1])
    for band in root.findall("PAMRasterBand"):
        if band.get("band", "1") == "1":
            nd = band.find("NoDataValue")
            if nd is not None and nd.text:
                out["nodata"] = float(nd.text)
            break
    return out


def sidecar_georef(path: str):
    """(geotransform, srid, nodata) for one plain raster, PAM over
    world file, identity when neither exists."""
    pam = read_pam(path)
    gt = pam["gt"] or read_world_file(path) \
        or (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    return tuple(gt), pam["srid"], pam["nodata"]


def scan_plain_rasters(spark, path_glob: str):
    """Glob of plain raster files -> images-table rows with sidecar
    georef: the driver reads only the tiny sidecar texts, one task per
    image file decodes the pixels (PNG/JPEG/BMP/PNM via the engine's
    own codecs)."""
    from .. import codecs
    from .envi import OUT_SCHEMA

    try:
        paths = glob_paths(path_glob, keep=lambda p: (
            os.path.splitext(p)[1].lower() in _IMG_EXTS))
    except FileNotFoundError:
        raise FileNotFoundError(
            f"{path_glob}: no plain raster files") from None
    tasks = []
    for p in paths:
        gt, srid, nodata = sidecar_georef(p)
        tasks.append((p, _IMG_EXTS[os.path.splitext(p)[1].lower()],
                      *[float(g) for g in gt], int(srid), nodata))
    task_ddl = ("path string, fmt string, gt0 double, gt1 double, "
                "gt2 double, gt3 double, gt4 double, gt5 double, "
                "srid int, nodata double")

    def read(r):
        with open(r.path, "rb") as f:
            arr = codecs.decode_image(f.read(), r.fmt)
        if np.dtype(arr.dtype) not in codecs._DTYPE_CODES:
            arr = arr.astype(np.float64)
        stem = os.path.splitext(os.path.basename(r.path))[0]
        gt = tuple(getattr(r, f"gt{i}") for i in range(6))
        nodata = (None if r.nodata is None
                  or (isinstance(r.nodata, float) and np.isnan(r.nodata))
                  else float(r.nodata))
        return [raster_row(stem, arr, gt, int(r.srid), nodata)]

    return scan_files(spark, None, read, OUT_SCHEMA,
                      tasks=(task_ddl, tasks))


def format_world_file(gt) -> str:
    """Corner-anchored geotransform -> the 6 center-anchored lines."""
    cx = gt[0] + 0.5 * gt[1] + 0.5 * gt[2]
    cy = gt[3] + 0.5 * gt[4] + 0.5 * gt[5]
    return "\n".join(repr(float(v))
                     for v in (gt[1], gt[4], gt[2], gt[5], cx, cy)) + "\n"


def format_pam(gt, srid: int = 0, nodata=None) -> str:
    parts = ["<PAMDataset>"]
    if srid:
        from xml.sax.saxutils import escape

        try:
            from ..crs_wkt import export_wkt

            wkt = export_wkt(srid)
        except ValueError:
            # geographic srid (no PROJCS form in the registry): a
            # minimal GEOGCS whose trailing AUTHORITY carries the code
            # — the part the engine's georef columns round-trip
            wkt = (
                'GEOGCS["WGS 84",DATUM["WGS_1984",'
                'SPHEROID["WGS 84",6378137,298.257223563]],'
                'PRIMEM["Greenwich",0],'
                'UNIT["degree",0.0174532925199433],'
                f'AUTHORITY["EPSG","{int(srid)}"]]'
            )
        parts.append(f"  <SRS>{escape(wkt)}</SRS>")
    gt_txt = ", ".join(f"{float(v):.17g}" for v in gt)
    parts.append(f"  <GeoTransform>{gt_txt}</GeoTransform>")
    if nodata is not None:
        parts.append('  <PAMRasterBand band="1">')
        parts.append(f"    <NoDataValue>{float(nodata):.17g}"
                     "</NoDataValue>")
        parts.append("  </PAMRasterBand>")
    parts.append("</PAMDataset>")
    return "\n".join(parts) + "\n"


def write_plain_rasters(df, out_dir: str, fmt: str = "png") -> list[str]:
    """One image + world file + .aux.xml per row, written by the task
    that holds the row. ``fmt``: png/jpg/bmp/pnm/gsj (the engine's
    codecs)."""
    from .. import codecs

    ext = {"png": ".png", "jpg": ".jpg", "bmp": ".bmp",
           "pnm": ".pgm", "gsj": ".gsj"}[fmt]

    def dump_row(r, arr, gt, nd, out_dir):
        base = os.path.join(out_dir, str(r.image_id))
        with open(base + ext, "wb") as f:
            f.write(codecs.encode_image(
                arr, "jpg" if fmt == "gsj" else fmt))
        e = ext.lstrip(".")
        with open(base + "." + e[0] + e[-1] + "w", "w") as f:
            f.write(format_world_file(gt))
        srid = int(getattr(r, "srid", 0) or 0)
        if srid or nd is not None:
            with open(base + ext + ".aux.xml", "w") as f:
                f.write(format_pam(gt, srid, nd))
        return base + ext

    return write_files(df, out_dir, dump_row)
