"""NASA PDS4 (Planetary Data System v4) read driver.

Reference semantics: frmts/pds/pds4dataset.cpp — re-derived from
the published PDS4 Information Model (Product_Observational XML
labels):

- ``File_Area_Observational`` names the payload ``file_name`` and
  carries ``Array_2D_Image``/``Array_3D_Image``/``Array`` objects:
  byte ``offset``, ``Element_Array/data_type`` (the PDS4 scalar
  names UnsignedByte, SignedMSB2, IEEE754MSBSingle, … mapped to
  numpy dtypes with their specified byte order),
  ``scaling_factor``/``value_offset``, and ordered ``Axis_Array``
  entries (axis_name Line/Sample/Band with ``elements``) giving the
  in-file dimension order — Band-sequential, Line-interleaved and
  Sample-interleaved layouts are all just axis orders here;
- ``Cartography`` supplies the geotransform: upperleft_corner_x/y
  with their ``unit`` attributes (m or km — the quoted autotest
  geotransform pins the km->m normalization) and
  pixel_resolution_x/y;
- Special_Constants missing_constant -> nodata.

Spark shape: one task per label (a PDS4 bundle is thousands of
products), standard images-table rows per band.
"""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET

import numpy as np

from ._raw import read_band
from ._util import glob_paths, local_path, raster_row, scan_files

_DTYPES = {
    "UnsignedByte": np.dtype(np.uint8),
    "SignedByte": np.dtype(np.int8),
    "UnsignedLSB2": np.dtype("<u2"), "UnsignedMSB2": np.dtype(">u2"),
    "SignedLSB2": np.dtype("<i2"), "SignedMSB2": np.dtype(">i2"),
    "UnsignedLSB4": np.dtype("<u4"), "UnsignedMSB4": np.dtype(">u4"),
    "SignedLSB4": np.dtype("<i4"), "SignedMSB4": np.dtype(">i4"),
    "IEEE754LSBSingle": np.dtype("<f4"),
    "IEEE754MSBSingle": np.dtype(">f4"),
    "IEEE754LSBDouble": np.dtype("<f8"),
    "IEEE754MSBDouble": np.dtype(">f8"),
}


def _strip(tag: str) -> str:
    return tag.split("}")[-1]


def _findall(el, name):
    return [e for e in el.iter() if _strip(e.tag) == name]


def _find(el, name):
    r = _findall(el, name)
    return r[0] if r else None


def _text(el, name, default=None):
    e = _find(el, name)
    return e.text.strip() if e is not None and e.text else default


def _unit_scale(el):
    unit = (el.get("unit") or "m").lower()
    if unit.startswith("km"):
        return 1000.0
    return 1.0


def parse_pds4_label(xml_text: str):
    """PDS4 label XML -> (file_name, arrays list, georef dict)."""
    root = ET.fromstring(xml_text)
    fao = _find(root, "File_Area_Observational")
    if fao is None:
        raise ValueError("PDS4: no File_Area_Observational")
    file_name = _text(fao, "file_name")
    arrays = []
    for arr in fao:
        name = _strip(arr.tag)
        if not name.startswith("Array"):
            continue
        offset = int(_text(arr, "offset", "0"))
        dt_name = _text(arr, "data_type")
        dt = _DTYPES.get(dt_name)
        if dt is None:
            raise ValueError(f"PDS4: data_type {dt_name}")
        axes = []
        for ax in _findall(arr, "Axis_Array"):
            axes.append((_text(ax, "axis_name"),
                         int(_text(ax, "elements"))))
        sf = float(_text(arr, "scaling_factor", "1") or 1)
        vo = float(_text(arr, "value_offset", "0") or 0)
        missing = _text(arr, "missing_constant")
        arrays.append({
            "offset": offset, "dtype": dt, "axes": axes,
            "scale": sf, "off": vo,
            "nodata": float(missing) if missing else None,
        })
    geo = {}
    cart = _find(root, "Cartography")
    if cart is not None:
        ulx = _find(cart, "upperleft_corner_x")
        uly = _find(cart, "upperleft_corner_y")
        rx = _find(cart, "pixel_resolution_x")
        ry = _find(cart, "pixel_resolution_y")
        if None not in (ulx, uly, rx, ry):
            geo["gt"] = (
                float(ulx.text) * _unit_scale(ulx),
                float(rx.text) * _unit_scale(rx),
                0.0,
                float(uly.text) * _unit_scale(uly),
                0.0,
                -float(ry.text) * _unit_scale(ry))
    return file_name, arrays, geo


def read_pds4(xml_path: str):
    """Label path -> (list of (h, w) band arrays, gt, info)."""
    xml_path = local_path(xml_path)
    with open(xml_path, encoding="utf-8", errors="replace") as f:
        file_name, arrays, geo = parse_pds4_label(f.read())
    base = os.path.dirname(xml_path)
    p = os.path.join(base, file_name)
    if not os.path.exists(p):
        for cand in os.listdir(base):
            if cand.lower() == file_name.lower():
                p = os.path.join(base, cand)
                break
    with open(p, "rb") as f:
        payload = f.read()
    bands = []
    nodata = None
    for a in arrays:
        # the stored axes are row-major, last fastest: each named
        # Band/Line/Sample axis takes its byte stride from its place
        dims = [n for _, n in a["axes"]]
        step = [a["dtype"].itemsize * int(np.prod(dims[i + 1:]))
                for i in range(len(dims))]
        axes = {str(nm): (n, s) for (nm, n), s in zip(a["axes"], step)}
        (w, pixel), (h, line) = axes["Sample"], axes["Line"]
        nb, band = axes.get("Band", (1, 0))
        for b in range(nb):
            arr = read_band(payload, a["dtype"], w, h,
                            a["offset"] + b * band, pixel, line)
            if a["scale"] != 1 or a["off"] != 0:
                arr = arr * a["scale"] + a["off"]
            bands.append(arr)
        nodata = a["nodata"] if nodata is None else nodata
    gt = geo.get("gt", (0.0, 1.0, 0.0, 0.0, 0.0, -1.0))
    return bands, gt, {"nodata": nodata, "file_name": file_name}


def scan_pds4(spark, path_glob: str):
    """Glob of PDS4 .xml labels -> images-table rows."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "nodata double, band int, source string")

    def read(r):
        bands, gt, info = read_pds4(r.path)
        stem = os.path.basename(r.path)
        return [raster_row(f"{stem}#{b}", arr, gt, 0, info["nodata"],
                           band=b, source=stem)
                for b, arr in enumerate(bands)]

    return scan_files(spark, glob_paths(path_glob), read, schema)
