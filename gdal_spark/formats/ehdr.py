"""EHdr (ESRI BIL / .hdr raw raster) driver — ArcGIS's raw-binary
export format, incl. the GridFloat ``.flt`` DEM flavor.

Reference driver: frmts/raw/ehdrdataset.cpp (semantics only). The
pixel layout is the same raw interleaved cube the ENVI driver already
deinterleaves, so this module only translates the ESRI header dialect
and georef rules, then reuses :func:`formats.envi.decode_envi`:

- keys case-insensitive: NROWS/NCOLS/NBANDS (default 1), NBITS,
  BYTEORDER (``I``/``LSBFIRST`` little, ``M``/``MSBFIRST`` big),
  LAYOUT BIL/BIP/BSQ (default BIL), SKIPBYTES, NODATA/NODATA_VALUE,
  PIXELTYPE SIGNEDINT/UNSIGNEDINT/FLOAT;
- the reference's dtype election verbatim (ehdrdataset.cpp:1139-1230):
  NBITS absent -> inferred from file size (4 bytes/cell => Float32);
  still unknown + ``.flt`` extension => Float32; a NEGATIVE nodata
  with no PIXELTYPE => signed; 16-bit defaults UNSIGNED, 32-bit
  defaults UInt32 unless SIGNEDINT/FLOAT; 1-8 bits => Byte/Int8
  (sub-byte packing rejected with a clear error);
- georef: ULXMAP/ULYMAP are the CENTER of the upper-left pixel with
  XDIM/YDIM steps, while xllcorner/yllcorner + cellsize anchor the
  lower-left CORNER — both normalized to the usual north-up
  geotransform; SRID from a sibling ``.prj`` WKT when the engine's
  WKT1 importer recognizes it.

Conformance is pinned against reference autotest DATA files (see
tests/data/README.md): float32.bil (band checksum 27, the quoted
ULXMAP georef + .prj), ehdr10.bil (NO NBITS — size-inferred float,
checksum 8202), ehdr11.flt (extension-inferred float, same 8202).

Spark shape: identical to the ENVI scan — the driver reads only the
tiny .hdr texts, one task per cube.
"""

from __future__ import annotations

import os

import numpy as np

from ._raw import write_raw
from ._util import (glob_paths, local_path, raster_row, scan_files,
                    write_files)
from .envi import OUT_SCHEMA, decode_envi


def parse_ehdr_header(text: str) -> dict:
    out = {}
    for line in text.splitlines():
        toks = line.split()
        if len(toks) >= 2:
            out[toks[0].lower()] = " ".join(toks[1:])
    if "nrows" not in out or "ncols" not in out:
        raise ValueError("not an EHdr header (no NROWS/NCOLS)")
    return out


def _ehdr_to_envi(hdr: dict, data_path: str) -> tuple[dict, tuple,
                                                      float | None]:
    """ESRI header dict -> (ENVI-style decode dict, geotransform,
    nodata), applying the reference's dtype/georef rules."""
    ncols = int(hdr["ncols"])
    nrows = int(hdr["nrows"])
    nbands = int(hdr.get("nbands", "1"))
    nbits = int(hdr["nbits"]) if "nbits" in hdr else -1
    pixeltype = hdr.get("pixeltype", "").upper()
    ptype = {"SIGNEDINT": "S", "FLOAT": "F",
             "UNSIGNEDINT": "U"}.get(pixeltype, "N")
    nodata = None
    for k in ("nodata", "nodata_value"):
        if k in hdr:
            nodata = float(hdr[k])
            break
    if nbits == -1 and ptype == "N":
        nbytes = os.path.getsize(data_path) // (ncols * nrows * nbands)
        if 0 < nbytes <= 8 and nbytes != 3:
            nbits = int(nbytes * 8)
        if nbytes == 4:
            ptype = "F"
    if ptype == "N" and data_path.lower().endswith(".flt"):
        ptype = "F"
    if ptype == "N" and nodata is not None and nodata < 0:
        ptype = "S"
    if nbits == 16:
        code = 2 if ptype == "S" else 12
    elif nbits == 32:
        code = 3 if ptype == "S" else (4 if ptype == "F" else 13)
    elif nbits == 8 or (nbits == -1 and ptype != "F"):
        code = 1  # Byte (Int8 handled via view at decode)
    elif 1 <= nbits < 8:
        raise ValueError(f"EHdr sub-byte NBITS {nbits} unsupported")
    elif nbits == -1 and ptype == "F":
        code = 4
    elif nbits == 64:
        code = 5 if ptype == "F" else (15 if ptype != "S" else 14)
    else:
        raise ValueError(f"EHdr NBITS {nbits} unsupported")

    byteorder = hdr.get("byteorder", "I").upper()
    big = byteorder.startswith("M")
    envi = {
        "samples": str(ncols), "lines": str(nrows),
        "bands": str(nbands), "data type": str(code),
        "byte order": "1" if big else "0",
        "header offset": hdr.get("skipbytes", "0"),
        "interleave": hdr.get("layout", "bil").lower(),
    }

    if "ulxmap" in hdr and "ulymap" in hdr:
        dx = float(hdr.get("xdim", "1"))
        dy = float(hdr.get("ydim", "1"))
        gt = (float(hdr["ulxmap"]) - dx / 2, dx, 0.0,
              float(hdr["ulymap"]) + dy / 2, 0.0, -dy)
    elif "xllcorner" in hdr and "yllcorner" in hdr:
        cs = float(hdr.get("cellsize", "1"))
        gt = (float(hdr["xllcorner"]), cs, 0.0,
              float(hdr["yllcorner"]) + nrows * cs, 0.0, -cs)
    else:
        gt = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    return envi, gt, nodata


def _srid_from_prj(data_path: str) -> int:
    """Sibling .prj WKT -> SRID: the trailing AUTHORITY code when the
    file carries one, else a UTM-family parameter match (ESRI .prj
    files, like autotest's float32.prj, usually carry no AUTHORITY —
    the reference resolves them through its EPSG tables; the engine's
    registry covers the UTM families the same way the zarr driver's
    CF matcher does)."""
    import re

    prj = os.path.splitext(data_path)[0] + ".prj"
    if not os.path.exists(prj):
        return 0
    try:
        with open(prj) as f:
            wkt = f.read()
        codes = re.findall(r'AUTHORITY\["EPSG",\s*"(\d+)"\]', wkt)
        if codes:
            return int(codes[-1])
        from ..crs_wkt import parse_wkt_crs

        family, p = parse_wkt_crs(wkt)
        if family != "tm" or abs(p.get("k0", 0) - 0.9996) > 1e-9 \
                or p.get("e0") != 500000.0:
            return 0
        zone = (p.get("lon0", 1e9) + 183.0) / 6.0
        if abs(zone - round(zone)) > 1e-6 or not 1 <= round(zone) <= 60:
            return 0
        zone = int(round(zone))
        if abs(p["a"] - 6378206.4) < 0.1 and p.get("n0") == 0.0:
            return 26700 + zone
        if abs(p["a"] - 6378137.0) < 0.1:
            return (32600 + zone) if p.get("n0") == 0.0 else 32700 + zone
        return 0
    except Exception:
        return 0


def header_path_for(data_path: str) -> str:
    root, _ext = os.path.splitext(data_path)
    for cand in (root + ".hdr", data_path + ".hdr"):
        if os.path.exists(cand):
            return cand
    raise FileNotFoundError(f"no .hdr for {data_path}")


def parse_ehdr(data_path: str):
    """-> (array, geotransform, srid, nodata) — local twin of the
    distributed scan."""
    data_path = local_path(data_path)
    with open(header_path_for(data_path)) as f:
        hdr = parse_ehdr_header(f.read())
    envi, gt, nodata = _ehdr_to_envi(hdr, data_path)
    with open(data_path, "rb") as f:
        arr, _gt, _srid, _nd = decode_envi(f.read(), envi)
    if hdr.get("pixeltype", "").upper() == "SIGNEDINT" \
            and arr.dtype == np.uint8:
        arr = arr.view(np.int8)
    return arr, gt, _srid_from_prj(data_path), nodata


def scan_ehdr(spark, path_glob: str):
    """Glob of EHdr data files (.bil/.flt/.bsq/...; not the .hdr) ->
    images-table rows; driver reads only the header texts, one task
    per cube (the ENVI scan shape)."""
    import json

    from .. import codecs

    paths = glob_paths(path_glob, keep=lambda p: not p.endswith(
        (".hdr", ".prj", ".clr", ".stx")))
    tasks = []
    for p in paths:
        with open(header_path_for(p)) as f:
            hdr = parse_ehdr_header(f.read())
        envi, gt, nodata = _ehdr_to_envi(hdr, p)
        srid = _srid_from_prj(p)
        signed8 = (hdr.get("pixeltype", "").upper() == "SIGNEDINT"
                   and envi["data type"] == "1")
        tasks.append((p, json.dumps(envi), int(signed8),
                      gt[0], gt[1], gt[2], gt[3], gt[4], gt[5],
                      int(srid),
                      float(nodata) if nodata is not None else None))
    task_ddl = ("path string, envi string, signed8 int, gt0 double, "
                "gt1 double, gt2 double, gt3 double, gt4 double, "
                "gt5 double, srid int, nodata double")

    def read(r):
        with open(r.path, "rb") as f:
            arr, _g, _s, _n = decode_envi(f.read(), json.loads(r.envi))
        if r.signed8 and arr.dtype == np.uint8:
            arr = arr.view(np.int8)
        if np.dtype(arr.dtype) not in codecs._DTYPE_CODES:
            arr = arr.astype(np.float64)
        stem = os.path.splitext(os.path.basename(r.path))[0]
        nodata = (None if r.nodata is None or
                  (isinstance(r.nodata, float) and np.isnan(r.nodata))
                  else float(r.nodata))
        gt = tuple(getattr(r, f"gt{i}") for i in range(6))
        return [raster_row(stem, arr, gt, int(r.srid), nodata)]

    return scan_files(spark, None, read, OUT_SCHEMA,
                      tasks=(task_ddl, tasks))


def write_ehdr(df, out_dir: str, layout: str = "bil") -> list[str]:
    """One .bil/.flt + .hdr (+.prj) trio per row, written by the task
    that holds the row. Float32 rows get the GridFloat spelling the
    reference emits (PIXELTYPE FLOAT); the header carries the
    reference's CreateCopy key set."""
    if layout not in ("bil", "bip", "bsq"):
        raise ValueError(f"layout {layout!r}")

    def dump_row(r, a, gt, nd, out_dir):
        if a.ndim == 2:
            a = a[:, :, None]
        hh, ww, nb = a.shape
        dt = a.dtype
        if dt == np.int8:
            ptype, nbits = "SIGNEDINT", 8
        elif dt.kind == "f":
            a = a.astype(np.float32)
            dt = a.dtype
            ptype, nbits = "FLOAT", 32
        elif dt.kind == "i":
            a = a.astype(np.int32 if dt.itemsize > 2
                         else np.int16)
            dt = a.dtype
            ptype, nbits = "SIGNEDINT", dt.itemsize * 8
        else:
            a = a.astype({1: np.uint8, 2: np.uint16}
                         .get(dt.itemsize, np.uint32))
            dt = a.dtype
            ptype, nbits = "UNSIGNEDINT", dt.itemsize * 8
        ext = ".flt" if ptype == "FLOAT" and nb == 1 else ".bil"
        base = os.path.join(out_dir, str(r.image_id))
        with open(base + ext, "wb") as f:
            f.write(write_raw(a, dt.newbyteorder("<"), layout))
        rowbytes = ww * dt.itemsize
        hdr = [
            "BYTEORDER      I",
            f"LAYOUT         {layout.upper()}",
            f"NROWS          {hh}",
            f"NCOLS          {ww}",
            f"NBANDS         {nb}",
            f"NBITS          {nbits}",
            f"BANDROWBYTES   {rowbytes}",
            f"TOTALROWBYTES  {rowbytes * (nb if layout == 'bil' else 1)}",
            f"PIXELTYPE      {ptype}",
            f"ULXMAP         {gt[0] + gt[1] / 2!r}",
            f"ULYMAP         {gt[3] + gt[5] / 2!r}",
            f"XDIM           {gt[1]!r}",
            f"YDIM           {-gt[5]!r}",
        ]
        if nd is not None:
            hdr.append(f"NODATA         {float(nd)!r}")
        with open(base + ".hdr", "w") as f:
            f.write("\n".join(hdr) + "\n")
        srid = int(getattr(r, "srid", 0) or 0)
        if srid:
            try:
                from ..crs_wkt import export_wkt

                with open(base + ".prj", "w") as f:
                    f.write(export_wkt(srid))
            except ValueError:
                pass
        return base + ext

    return write_files(df, out_dir, dump_row)
