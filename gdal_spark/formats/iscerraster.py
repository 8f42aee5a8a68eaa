"""ISCE2 + R 'raster'-package RRASTER drivers.

Reference semantics (each from its published description):

- **ISCE** (frmts/raw/iscedataset.cpp): a bare data file plus an
  ``<file>.xml`` companion of ``<property name="KEY"><value>v
  </value></property>`` nodes; WIDTH/LENGTH/NUMBER_BANDS dims,
  DATA_TYPE from the ISCE names (BYTE/SHORT/INT/LONG/FLOAT/DOUBLE
  and the C* complex forms), SCHEME BIL/BIP/BSQ, BYTE_ORDER
  ``l``/``b``; the reference defaults SCHEME to BIL when absent;
- **RRASTER** (frmts/raw/rrasterdataset.cpp): ini-style ``.grd``
  header (``[georeference]`` nrows/ncols/xmin..ymax + projection,
  ``[data]`` datatype INT1U/INT2S/INT4S/FLT4S/FLT8S, byteorder,
  nbands, bandorder BIL/BIP/BSQ, nodatavalue with ``NA`` meaning
  none, minvalue/maxvalue) beside a raw ``.gri`` twin; the gt
  comes from the bounds over the cell counts (byte_rraster pins
  the byte.tif gt + checksum 4672).

Spark shape: one task per dataset both ways.
"""

from __future__ import annotations

import os
import re

import numpy as np

from ._raw import read_raw, write_raw
from ._util import glob_paths, scan_files, write_files
from .pds import _find_ci
from .rawgrids import IMG_SCHEMA, _file_rows

_ISCE_TYPES = {
    "BYTE": "u1", "CHAR": "u1", "SHORT": "i2", "INT": "i4",
    "LONG": "i8", "FLOAT": "f4", "DOUBLE": "f8",
    "CSHORT": "ci2", "CINT": "ci4", "CLONG": "ci8",
    "CFLOAT": "cf4", "CDOUBLE": "cf8",
}
_RR_TYPES = {"INT1U": "u1", "INT2S": "i2", "INT4S": "i4",
             "FLT4S": "f4", "FLT8S": "f8"}


def parse_isce_xml(text: str) -> dict[str, str]:
    """ISCE <property name=..><value>..</value> pairs (regex walk —
    the schema is flat)."""
    out = {}
    for m in re.finditer(
            r'<property\s+name="([^"]+)"[^>]*>(.*?)</property>',
            text, re.S | re.I):
        v = re.search(r"<value>(.*?)</value>", m.group(2), re.S)
        if v:
            out.setdefault(m.group(1).upper(), v.group(1).strip())
    return out


def parse_isce(data: bytes, xml_text: str):
    """Data bytes + .xml -> (arr north-up (h, w[, nb]), gt None,
    nodata, meta)."""
    kv = parse_isce_xml(xml_text)
    for k in ("WIDTH", "LENGTH", "DATA_TYPE"):
        if k not in kv:
            raise ValueError(f"ISCE: missing {k}")
    w = int(kv["WIDTH"])
    h = int(kv["LENGTH"])
    nb = int(kv.get("NUMBER_BANDS", "1") or "1")
    code = _ISCE_TYPES.get(kv["DATA_TYPE"].upper())
    if code is None:
        raise ValueError(f"ISCE: DATA_TYPE {kv['DATA_TYPE']!r}")
    endian = ">" if kv.get("BYTE_ORDER", "l").lower().startswith(
        "b") else "<"
    scheme = kv.get("SCHEME", "BIL").upper()
    if scheme not in ("BIL", "BIP", "BSQ"):
        raise ValueError(f"ISCE: SCHEME {scheme!r}")
    if code.startswith("c"):  # (real, imaginary) pairs of the base type
        base = endian + code[1:]
        arr = read_raw(data, [("re", base), ("im", base)], w, h, nb, scheme)
        arr = arr["re"] + 1j * arr["im"]
    else:
        arr = read_raw(data, endian + code, w, h, nb, scheme)
    return arr, None, None, kv.get("IMAGE_TYPE", "")


def format_isce(arr: np.ndarray):
    """North-up array -> (data bytes, .xml text); BIL scheme."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    code = arr.dtype.str.lstrip("<>=|")
    name = {"u1": "BYTE", "i2": "SHORT", "i4": "INT", "i8": "LONG",
            "f4": "FLOAT", "f8": "DOUBLE", "c8": "CFLOAT",
            "c16": "CDOUBLE"}.get(code)
    if name is None:
        raise ValueError(f"ISCE writer: unsupported dtype {arr.dtype}")
    xml = ["<imageFile>"]
    for k, v in (("WIDTH", w), ("LENGTH", h), ("NUMBER_BANDS", nb),
                 ("DATA_TYPE", name), ("SCHEME", "BIL"),
                 ("BYTE_ORDER", "l")):
        xml.append(f'    <property name="{k}">\n'
                   f"        <value>{v}</value>\n"
                   f"    </property>")
    xml.append("</imageFile>\n")
    return write_raw(arr, "<" + code, "bil"), "\n".join(xml)


def scan_isce(spark, path_glob: str, srid: int = 0):
    """Glob of ISCE data files (the .xml companion read per task)."""
    def reader(path):
        with open(path, "rb") as f:
            data = f.read()
        with open(_find_ci(os.path.dirname(path),
                           os.path.basename(path) + ".xml"),
                  encoding="utf-8") as f:
            xml = f.read()
        arr, gt, nodata, meta = parse_isce(data, xml)
        if np.iscomplexobj(arr):
            arr = np.stack([arr.real, arr.imag], axis=-1) \
                .astype(np.float32 if arr.dtype == np.complex64
                        else np.float64)
        return arr, gt, nodata, meta

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def write_isce(df, out_dir: str) -> list[str]:
    def dumper(r, arr, gt, nd, out_dir):
        data, xml = format_isce(arr)
        path = os.path.join(out_dir, f"{r.image_id}.slc")
        with open(path, "wb") as f:
            f.write(data)
        with open(path + ".xml", "w") as f:
            f.write(xml)
        return path

    return write_files(df, out_dir, dumper)


def parse_rraster(grd_text: str, gri: bytes):
    """.grd header + .gri bytes -> (arr north-up (h, w[, nb]), gt,
    nodata, meta layername|projection)."""
    kv = {}
    for line in grd_text.splitlines():
        line = line.strip()
        if "=" in line and not line.startswith("["):
            k, v = line.split("=", 1)
            kv.setdefault(k.strip().lower(), v.strip())
    for k in ("nrows", "ncols", "datatype"):
        if k not in kv:
            raise ValueError(f"RRASTER: missing {k}")
    h = int(kv["nrows"])
    w = int(kv["ncols"])
    nb = int(kv.get("nbands", "1") or "1")
    code = _RR_TYPES.get(kv["datatype"].upper())
    if code is None:
        raise ValueError(f"RRASTER: datatype {kv['datatype']!r}")
    endian = ">" if kv.get("byteorder", "little").lower().startswith(
        "big") else "<"
    order = kv.get("bandorder", "BIL").upper()
    arr = read_raw(gri, endian + code, w, h, nb,
                   order if order in ("BIL", "BIP") else "BSQ")
    gt = None
    if all(k in kv for k in ("xmin", "xmax", "ymin", "ymax")):
        xmin = float(kv["xmin"])
        xmax = float(kv["xmax"])
        ymin = float(kv["ymin"])
        ymax = float(kv["ymax"])
        gt = (xmin, (xmax - xmin) / w, 0.0,
              ymax, 0.0, -(ymax - ymin) / h)
    nodata = None
    nv = kv.get("nodatavalue", "NA")
    if nv.upper() not in ("NA", "NAN", ""):
        nodata = float(nv)
    meta = "|".join([kv.get("layername", ""),
                     kv.get("projection", "")])
    return arr, gt, nodata, meta


def format_rraster(arr: np.ndarray, gt, nodata=None,
                   layername: str = "layer",
                   projection: str = ""):
    """North-up array + gt -> (.grd text, .gri BIL bytes)."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    code = arr.dtype.str.lstrip("<>=|")
    dt = {v: k for k, v in _RR_TYPES.items()}.get(code)
    if dt is None:
        raise ValueError(
            f"RRASTER writer: unsupported dtype {arr.dtype}")
    if gt[2] or gt[4] or gt[5] >= 0:
        raise ValueError("RRASTER writer: north-up grids only")
    mins = ":".join(repr(float(arr[:, :, i].min()))
                    for i in range(nb))
    maxs = ":".join(repr(float(arr[:, :, i].max()))
                    for i in range(nb))
    lines = [
        "[general]",
        "creator=gdal_spark",
        "[georeference]",
        f"nrows={h}", f"ncols={w}",
        f"xmin={gt[0]!r}", f"ymin={gt[3] + h * gt[5]!r}",
        f"xmax={gt[0] + w * gt[1]!r}", f"ymax={gt[3]!r}",
        f"projection={projection}",
        "[data]",
        f"datatype={dt}",
        "byteorder=little",
        f"nbands={nb}",
        "bandorder=BIL",
        f"minvalue={mins}",
        f"maxvalue={maxs}",
        "nodatavalue=%s" % ("NA" if nodata is None else repr(nodata)),
        "[description]",
        f"layername={layername}",
        "",
    ]
    return "\n".join(lines), write_raw(arr, "<" + code, "bil")


def scan_rraster(spark, path_glob: str, srid: int = 0):
    """Glob of .grd headers (the .gri twin read per task)."""
    def reader(path):
        with open(path, encoding="latin-1") as f:
            grd = f.read()
        stem = os.path.splitext(os.path.basename(path))[0]
        with open(_find_ci(os.path.dirname(path), stem + ".gri"),
                  "rb") as f:
            gri = f.read()
        return parse_rraster(grd, gri)

    return scan_files(spark, glob_paths(path_glob),
                      _file_rows(reader, srid), IMG_SCHEMA)


def write_rraster(df, out_dir: str) -> list[str]:
    def dumper(r, arr, gt, nd, out_dir):
        grd, gri = format_rraster(arr, gt, nodata=nd,
                                  layername=r.image_id)
        path = os.path.join(out_dir, f"{r.image_id}.grd")
        with open(path, "w") as f:
            f.write(grd)
        with open(os.path.join(out_dir, f"{r.image_id}.gri"),
                  "wb") as f:
            f.write(gri)
        return path

    return write_files(df, out_dir, dumper)
