"""netCDF classic driver — the scientific-data raster container (CF
conventions over the netCDF-3 on-disk format).

Reference driver: frmts/netcdf/netcdfdataset.cpp (semantics only; this
is a from-scratch implementation of the PUBLISHED netCDF classic
format specification — CDF-1 magic ``CDF\\x01`` and the 64-bit-offset
CDF-2 ``CDF\\x02`` variant; netCDF-4/HDF5 files are rejected with a
clear error). Supported subset:

- full header parse: dimensions (incl. the record dimension),
  global + per-variable attributes, all six classic types (byte,
  char, short, int, float, double); big-endian data plane, record
  variables interleaved by ``recsize``;
- raster mapping like the reference: every variable whose trailing
  two dimensions look like (y, x) is a raster; a leading third
  dimension fans out one band per slice; ``_Unsigned`` reinterprets
  the signed storage type; ``_FillValue``/``missing_value`` become
  nodata;
- georef, in the reference's priority order: a ``grid_mapping``
  variable carrying GDAL's ``GeoTransform`` attribute (exact), else
  its ``spatial_ref``/``crs_wkt`` WKT for the SRID plus coordinate
  variables; else 1-D coordinate variables matching the x/y dims —
  cell centers, so the geotransform gets the half-cell shift, and an
  ASCENDING y axis flips the rows to north-up (the reference's
  bottom-up handling, pinned by the bug636.nc checksum).

Conformance: byte.nc (band checksum 4672, the byte.tif geotransform,
EPSG:26711 from the embedded WKT), bug636.nc:tas (checksum 31621 —
only right if the ascending-latitude flip is), GLMELT_4X5.OCN.nc
(lon/lat coordinate-variable georef); expectations quoted from
autotest/gdrivers/netcdf.py.

Spark shape: one self-contained file = one task (the header governs
the bytes); a variable selector narrows multi-variable files. The
sink writes the reference's CF layout (x/y coordinate variables, a
grid-mapping variable with GeoTransform + spatial_ref, BandN data
variables) one file per row, by the task holding it.
"""

from __future__ import annotations

import os
import re
import struct

import numpy as np
import pandas as pd

from ._util import raster_row, schema_columns, write_files
from .. import codecs

OUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
    "gt5 double, srid int, nodata double"
)

_TYPES = {1: "i1", 2: "S1", 3: ">i2", 4: ">i4", 5: ">f4", 6: ">f8"}
_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 4, 6: 8}


def _pad4(n: int) -> int:
    return (n + 3) // 4 * 4


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def u32(self) -> int:
        (v,) = struct.unpack_from(">I", self.buf, self.pos)
        self.pos += 4
        return v

    def u64(self) -> int:
        (v,) = struct.unpack_from(">Q", self.buf, self.pos)
        self.pos += 8
        return v

    def name(self) -> str:
        n = self.u32()
        s = self.buf[self.pos:self.pos + n].decode("utf-8")
        self.pos += _pad4(n)
        return s

    def attrs(self) -> dict:
        tag = self.u32()
        n = self.u32()
        if tag not in (0, 0x0C) or (tag == 0 and n != 0):
            raise ValueError("malformed attribute list")
        out = {}
        for _ in range(n):
            nm = self.name()
            typ = self.u32()
            cnt = self.u32()
            size = _SIZES[typ] * cnt
            raw = self.buf[self.pos:self.pos + size]
            self.pos += _pad4(size)
            if typ == 2:
                out[nm] = raw.decode("utf-8", "replace")
            else:
                out[nm] = np.frombuffer(raw, dtype=_TYPES[typ]).tolist()
        return out


def parse_cdf(buf: bytes) -> dict:
    """netCDF classic bytes -> header dict (dims, gatts, vars)."""
    if buf[:3] != b"CDF":
        if buf[:8] == b"\x89HDF\r\n\x1a\n" or buf[:4] == b"\x89HDF":
            raise ValueError("netCDF-4 (HDF5) not supported; classic only")
        raise ValueError("not a netCDF classic file (no CDF magic)")
    ver = buf[3]
    if ver not in (1, 2):
        raise ValueError(f"CDF version {ver} unsupported (1/2 only)")
    r = _Reader(buf)
    r.pos = 4
    numrecs = r.u32()
    tag = r.u32()
    nd = r.u32()
    if tag not in (0, 0x0A):
        raise ValueError("malformed dimension list")
    dims = []
    for _ in range(nd):
        nm = r.name()
        dims.append((nm, r.u32()))
    gatts = r.attrs()
    tag = r.u32()
    nv = r.u32()
    if tag not in (0, 0x0B):
        raise ValueError("malformed variable list")
    vars: dict = {}
    order = []
    for _ in range(nv):
        nm = r.name()
        ndim = r.u32()
        dimids = [r.u32() for _ in range(ndim)]
        atts = r.attrs()
        typ = r.u32()
        vsize = r.u32()
        begin = r.u64() if ver == 2 else r.u32()
        vars[nm] = {
            "dims": [dims[i][0] for i in dimids],
            "shape": [dims[i][1] for i in dimids],
            "atts": atts, "type": typ, "vsize": vsize, "begin": begin,
            "record": bool(dimids) and dims[dimids[0]][1] == 0,
        }
        order.append(nm)
    return {"dims": dims, "gatts": gatts, "vars": vars, "order": order,
            "numrecs": numrecs}


def read_var(buf: bytes, hdr: dict, name: str) -> np.ndarray:
    """One variable's full data as a native-endian numpy array."""
    v = hdr["vars"][name]
    dt = np.dtype(_TYPES[v["type"]])
    shape = list(v["shape"])
    if not v["record"]:
        n = int(np.prod(shape)) if shape else 1
        arr = np.frombuffer(buf, dtype=dt, count=n, offset=v["begin"])
        out = arr.reshape(shape)
    else:
        nrec = hdr["numrecs"]
        rec_vars = [n2 for n2 in hdr["order"] if hdr["vars"][n2]["record"]]
        if len(rec_vars) == 1:
            recsize = v["vsize"]
        else:
            recsize = sum(hdr["vars"][n2]["vsize"] for n2 in rec_vars)
        per = int(np.prod(shape[1:])) if len(shape) > 1 else 1
        parts = [
            np.frombuffer(buf, dtype=dt, count=per,
                          offset=v["begin"] + k * recsize)
            for k in range(nrec)
        ]
        out = np.stack(parts).reshape([nrec] + shape[1:]) if nrec else (
            np.empty([0] + shape[1:], dtype=dt)
        )
    if v["atts"].get("_Unsigned", "").lower() == "true" and dt.kind == "i":
        out = out.view(np.dtype(dt.str.replace("i", "u")))
    return np.ascontiguousarray(out).astype(out.dtype.newbyteorder("="))


def _srid_from_wkt(wkt: str) -> int:
    # the outermost AUTHORITY node is serialized LAST in WKT1
    codes = re.findall(r'AUTHORITY\["EPSG","(\d+)"\]', wkt)
    return int(codes[-1]) if codes else 0


def _raster_vars(hdr: dict, variable: str | None) -> list[str]:
    if variable:
        if variable not in hdr["vars"]:
            raise KeyError(f"variable {variable!r} not in file")
        return [variable]
    dimnames = {d[0] for d in hdr["dims"]}
    out = []
    for nm in hdr["order"]:
        v = hdr["vars"][nm]
        if len(v["dims"]) >= 2 and v["type"] != 2 and nm not in dimnames:
            out.append(nm)
    return out


def netcdf_rasters(buf: bytes, variable: str | None = None):
    """-> [(var, band, 2D array north-up, gt, srid, nodata)] — one
    entry per 2-D slice of each raster variable."""
    hdr = parse_cdf(buf)
    results = []
    for nm in _raster_vars(hdr, variable):
        v = hdr["vars"][nm]
        arr = read_var(buf, hdr, nm)
        ydim, xdim = v["dims"][-2], v["dims"][-1]
        atts = v["atts"]
        nodata = None
        for key in ("_FillValue", "missing_value"):
            if key in atts and not isinstance(atts[key], str):
                nodata = float(atts[key][0])
                break

        gt = None
        srid = 0
        gm = atts.get("grid_mapping")
        if isinstance(gm, str) and gm.strip() in hdr["vars"]:
            gatts = hdr["vars"][gm.strip()]["atts"]
            wkt = gatts.get("spatial_ref") or gatts.get("crs_wkt")
            if isinstance(wkt, str):
                srid = _srid_from_wkt(wkt)
            gts = gatts.get("GeoTransform")
            if isinstance(gts, str):
                t = [float(x) for x in gts.split()]
                gt = (t[0], t[1], t[2], t[3], t[4], t[5])

        # coordinate variables: cell centers -> half-cell shift; an
        # ASCENDING y means the data plane is stored bottom-up and
        # must flip to north-up EVEN when a GeoTransform attribute
        # provided the (already north-up) georef — the reference's own
        # writer stores rows bottom-up (pinned by byte.nc cs 4672)
        def coords(dim):
            if dim in hdr["vars"] and len(hdr["vars"][dim]["dims"]) == 1 \
                    and hdr["vars"][dim]["dims"] == [dim]:
                return read_var(buf, hdr, dim).astype(np.float64)
            for cand, cv in hdr["vars"].items():
                if cv["dims"] == [dim] and cand != nm:
                    return read_var(buf, hdr, cand).astype(np.float64)
            return None

        xs, ys = coords(xdim), coords(ydim)
        flip = ys is not None and len(ys) > 1 and ys[-1] > ys[0]
        if gt is None:
            if xs is not None and ys is not None and len(xs) > 1 \
                    and len(ys) > 1:
                dx = (xs[-1] - xs[0]) / (len(xs) - 1)
                dy = (ys[-1] - ys[0]) / (len(ys) - 1)
                if dy > 0:  # ascending y: stored bottom-up, flip rows
                    flip = True
                    gt = (xs[0] - dx / 2, dx, 0.0,
                          ys[-1] + dy / 2, 0.0, -dy)
                else:
                    gt = (xs[0] - dx / 2, dx, 0.0,
                          ys[0] - dy / 2, 0.0, dy)
                if srid == 0 and ("degree" in str(
                    hdr["vars"].get(xdim, {}).get("atts", {}).get(
                        "units", "")
                ) or xdim.startswith("lon")):
                    srid = 4326
            else:
                gt = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
        if arr.ndim == 2:
            slices = [(0, arr)]
        else:
            flat = arr.reshape(-1, arr.shape[-2], arr.shape[-1])
            slices = list(enumerate(flat))
        for band, a in slices:
            results.append((
                nm, band, a[::-1].copy() if flip else a, gt, srid, nodata
            ))
    return results


# ---------------------------------------------------------------------------
# write
# ---------------------------------------------------------------------------

_W_TYPES = {"u1": 1, "i1": 1, "i2": 3, "i4": 4, "f4": 5, "f8": 6}


def format_netcdf(arr: np.ndarray, gt, srid: int = 0,
                  nodata: float | None = None) -> bytes:
    """array (+ georef) -> netCDF classic (CDF-1) bytes in the
    reference's CF layout: x/y center-coordinate variables, a ``crs``
    grid-mapping variable carrying GeoTransform + spatial_ref (from
    the engine's WKT1 export when the SRID is registered), one BandN
    variable per band (_Unsigned for u8, like the reference writes
    byte rasters)."""
    a = np.ascontiguousarray(arr)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nb = a.shape
    code = _W_TYPES.get(a.dtype.str[1:])
    if code is None:
        if a.dtype == np.uint16:
            a = a.astype(np.int32)
            code = 4
        else:
            raise ValueError(f"dtype {arr.dtype} unsupported in classic nc")
    unsigned = arr.dtype.kind == "u" and code == 1
    if gt[2] or gt[4]:
        raise ValueError("netCDF CF layout requires axis-aligned georef")

    wkt = ""
    if srid:
        try:
            from .. import crs_wkt

            wkt = crs_wkt.export_wkt(int(srid))
        except Exception:
            # 4326/3857 have no PROJCS form in the registry; emit the
            # standard WKT1 texts directly so the EPSG code survives
            if int(srid) == 4326:
                wkt = (
                    'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",'
                    '6378137,298.257223563]],PRIMEM["Greenwich",0],'
                    'UNIT["degree",0.0174532925199433],'
                    'AUTHORITY["EPSG","4326"]]'
                )
            elif int(srid) == 3857:
                wkt = (
                    'PROJCS["WGS 84 / Pseudo-Mercator",GEOGCS["WGS 84",'
                    'DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
                    '298.257223563]],PRIMEM["Greenwich",0],'
                    'UNIT["degree",0.0174532925199433]],'
                    'PROJECTION["Mercator_1SP"],'
                    'PARAMETER["central_meridian",0],'
                    'PARAMETER["scale_factor",1],'
                    'PARAMETER["false_easting",0],'
                    'PARAMETER["false_northing",0],UNIT["metre",1],'
                    'AUTHORITY["EPSG","3857"]]'
                )

    xs = np.array([gt[0] + (i + 0.5) * gt[1] for i in range(w)])
    ys = np.array([gt[3] + (j + 0.5) * gt[5] for j in range(h)])

    def nm(s: str) -> bytes:
        b = s.encode()
        return struct.pack(">I", len(b)) + b.ljust(_pad4(len(b)), b"\x00")

    def att(name: str, val) -> bytes:
        if isinstance(val, str):
            raw = val.encode()
            head = nm(name) + struct.pack(">II", 2, len(raw))
            return head + raw.ljust(_pad4(len(raw)), b"\x00")
        vals = np.atleast_1d(np.asarray(val))
        code2 = _W_TYPES[vals.dtype.str[1:]] if vals.dtype.str[1:] in \
            _W_TYPES else 6
        vals = vals.astype(_TYPES[code2])
        raw = vals.tobytes()
        return (nm(name) + struct.pack(">II", code2, len(vals))
                + raw.ljust(_pad4(len(raw)), b"\x00"))

    def att_list(pairs: list[tuple]) -> bytes:
        if not pairs:
            return struct.pack(">II", 0, 0)
        return (struct.pack(">II", 0x0C, len(pairs))
                + b"".join(att(k, v) for k, v in pairs))

    # dims: x=0, y=1 (the reference's order in the golden layout)
    dims = struct.pack(">II", 0x0A, 2) + nm("x") + struct.pack(">I", w) \
        + nm("y") + struct.pack(">I", h)
    gatts = att_list([("Conventions", "CF-1.5")])

    bands = [a[:, :, b] for b in range(nb)]
    band_dt = np.dtype(_TYPES[code])
    crs_atts = [("grid_mapping_name", "unknown"), ("long_name",
                                                   "CRS definition")]
    if wkt:
        crs_atts += [("crs_wkt", wkt), ("spatial_ref", wkt)]
    crs_atts.append(("GeoTransform", " ".join(f"{v:.17g}" for v in gt)))

    entries = []  # (name, dimids, atts, type, data bytes)
    entries.append(("crs", [], crs_atts, 2, b"\x00"))
    entries.append(("x", [0], [("standard_name", "projection_x_coordinate"),
                               ("units", "m")], 6,
                    xs.astype(">f8").tobytes()))
    entries.append(("y", [1], [("standard_name", "projection_y_coordinate"),
                               ("units", "m")], 6,
                    ys.astype(">f8").tobytes()))
    for b, band in enumerate(bands):
        batts = [("long_name", f"GDAL Band Number {b + 1}"),
                 ("grid_mapping", "crs")]
        if unsigned:
            batts.append(("_Unsigned", "true"))
        if nodata is not None:
            batts.append(("_FillValue",
                          np.array([nodata]).astype(band_dt)))
        entries.append((f"Band{b + 1}", [1, 0], batts, code,
                        band.astype(band_dt).tobytes()))

    # two passes: measure the header, then assign begins
    def var_block(name, dimids, atts, typ, begin):
        return (nm(name) + struct.pack(">I", len(dimids))
                + b"".join(struct.pack(">I", d) for d in dimids)
                + att_list(atts)
                + struct.pack(">III", typ, 0, begin))

    def assemble(begins):
        head = b"CDF\x01" + struct.pack(">I", 0) + dims + gatts
        head += struct.pack(">II", 0x0B, len(entries))
        for (name, dimids, atts, typ, data), begin in zip(entries, begins):
            blk = var_block(name, dimids, atts, typ, begin)
            # patch vsize (padded data length) in place
            blk = blk[:-8] + struct.pack(">II", _pad4(len(data)), begin)
            head += blk
        return head

    header_len = len(assemble([0] * len(entries)))
    begins = []
    cur = header_len
    for name, dimids, atts, typ, data in entries:
        begins.append(cur)
        cur += _pad4(len(data))
    out = bytearray(assemble(begins))
    for (name, dimids, atts, typ, data), begin in zip(entries, begins):
        out += data.ljust(_pad4(len(data)), b"\x00")
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def scan_netcdf(spark, path_glob: str, variable: str | None = None):
    """Glob of classic .nc files -> images-table rows: one task per
    file, one row per 2-D slice (``{stem}:{var}`` ids,
    ``_b{k}`` suffix for leading-dimension bands)."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                stem = os.path.splitext(os.path.basename(r.path))[0]
                rasters = netcdf_rasters(bytes(r.content), variable)
                many_v = len({x[0] for x in rasters}) > 1
                for var, band, arr, gt, srid, nodata in rasters:
                    if np.dtype(arr.dtype) not in codecs._DTYPE_CODES:
                        arr = arr.astype(np.float64)
                    iid = stem if not many_v and variable is None \
                        else f"{stem}:{var}"
                    if variable:
                        iid = stem
                    many_b = any(
                        x[0] == var and x[1] > 0 for x in rasters
                    )
                    if many_b:
                        iid = f"{iid}_b{band}"
                    rows.append(raster_row(iid, arr, gt, srid, nodata))
            yield pd.DataFrame(rows, columns=schema_columns(OUT_SCHEMA))

    return (
        spark.read.format("binaryFile").load(path_glob)
        .select("path", "content")
        .mapInPandas(parse, schema=OUT_SCHEMA)
    )


def write_netcdf(df, out_dir: str):
    """One .nc per row, written by the task that holds the row."""
    has_srid = "srid" in df.columns

    def dump_row(r, arr, gt, nd, out_dir):
        srid = int(r.srid) if has_srid and r.srid is not None else 0
        path = os.path.join(out_dir, f"{r.image_id}.nc")
        with open(path, "wb") as f:
            f.write(format_netcdf(arr, gt, srid=srid, nodata=nd))
        return path

    return write_files(df, out_dir, dump_row)
