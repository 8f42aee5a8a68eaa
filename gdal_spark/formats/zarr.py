"""Zarr v2 driver — the cloud-native chunked-array raster container.

Reference driver: frmts/zarr/zarr_array.cpp + zarr_group.cpp (semantics
only; this is a from-scratch implementation of the published Zarr v2
storage spec, not a port). Supported subset:

- directory stores: ``.zgroup`` / per-array ``.zarray`` + ``.zattrs``
  JSON, chunk files named ``i.j`` (``dimension_separator`` ``.`` or
  ``/``);
- dtypes: all basic numpy endian-coded codes (``|u1``, ``<i4``,
  ``>f2``, ...); compound / unicode / object dtypes rejected clearly;
- compressors: ``null`` (raw), ``zlib``, ``gzip`` — the codecs the
  environment provides; blosc / lz4 / lzma / zstd rejected with a
  clear error naming the codec (the reference does the same when
  liblz4 etc. are absent: autotest test_zarr_read_compression_methods
  expects open to FAIL for codecs the build lacks);
- filters: ``delta`` (any integer dtype); quantize / shuffle /
  fixedscaleoffset rejected clearly;
- ``order`` C and F, missing chunk files -> ``fill_value``
  (incl. the spec's ``"NaN"`` string spelling for floats);
- georef, mirroring the reference's netCDF-style CF reading
  (formats/netcdf.py shares the rules): x/y center-coordinate
  arrays found via ``_ARRAY_DIMENSIONS`` (xarray convention) give
  the half-cell-shifted geotransform, ascending y means the plane
  is stored bottom-up and flips to north-up; SRID from the array's
  ``_CRS`` attribute (wkt — what the reference's own Zarr writer
  emits), else the ``grid_mapping`` variable's ``spatial_ref`` /
  ``crs_wkt``, else a CF transverse_mercator parameter match for
  the UTM families (pinned on autotest's byte_cf1.zarr -> 26711);
- ``fill_value`` doubles as nodata, like the reference.

Conformance is pinned against reference autotest DATA stores (see
tests/data/README.md): gzip.zarr / zlib.zarr (Read() == [1, 2]),
order_f_u1.zarr (0..15), delta_filter_i4.zarr (0..9), f2_be.zarr,
byte_cf1.zarr (the 20x20 byte image, CF georef, UTM 11 NAD27).

Spark shape — this is the format Spark was made for: the CHUNK is the
native unit of parallelism. :func:`scan_zarr` reads only the JSON
metadata on the driver (a few hundred bytes per array — the object-
store read pattern), plans EXACTLY one task per chunk, and each task
opens, decompresses and crops only its own chunk file, emitting a
standard images-table row with the chunk's shifted geotransform — a
1 PB array with a million chunks is a million independent tasks, no
coordination, no full-array materialization anywhere.
:func:`write_zarr` is the inverse: the driver writes the tiny JSON
metadata + coordinate arrays once, computed from FOOTPRINTS only
(never pixels), and every task writes its own chunk files — a
distributed, append-free, lock-free sink (zarr chunk files are
disjoint by construction, which is exactly why the format exists).
"""

from __future__ import annotations

import gzip as _gzip
import json
import math
import os
import re
import zlib

import numpy as np

from ._util import local_path, write_files

_UNSUPPORTED_COMPRESSORS = {"blosc", "lz4", "lzma", "zstd", "bz2"}


# ---------------------------------------------------------------------------
# metadata
# ---------------------------------------------------------------------------


def _load_json(path: str):
    with open(path, "r", encoding="utf-8") as f:
        return json.load(f)


def _parse_dtype(code: str) -> np.dtype:
    if not isinstance(code, str) or len(code) < 2:
        raise ValueError(f"bad zarr dtype {code!r}")
    if code[1] in "SUOV" or code[0] not in "<>|":
        raise ValueError(
            f"zarr dtype {code!r} unsupported (numeric arrays only)"
        )
    return np.dtype(code)


def _fill_scalar(meta: dict, dt: np.dtype):
    fv = meta.get("fill_value")
    if fv is None:
        return None
    if isinstance(fv, str):
        # spec spelling for non-finite floats
        return {"NaN": np.nan, "Infinity": np.inf,
                "-Infinity": -np.inf}.get(fv, None)
    return fv


def read_zarray(store: str, array: str = "") -> dict:
    """Parse one array's ``.zarray`` (+ ``.zattrs``) into a plain
    plan-able dict: shape/chunks/dtype string/compressor/filters/
    order/fill/separator + attrs. JSON-safe by construction (it rides
    on scan tasks)."""
    adir = os.path.join(store, array) if array else store
    meta = _load_json(os.path.join(adir, ".zarray"))
    if int(meta.get("zarr_format", 0)) != 2:
        raise ValueError(
            f"zarr_format {meta.get('zarr_format')} unsupported (v2 only; "
            "v3 stores carry zarr.json instead)"
        )
    dt = _parse_dtype(meta["dtype"])
    comp = meta.get("compressor")
    cid = (comp or {}).get("id") if isinstance(comp, dict) else None
    if comp is not None and cid not in ("zlib", "gzip"):
        raise ValueError(
            f"zarr compressor {cid!r} unsupported in this environment "
            "(zlib/gzip/none)"
        )
    filters = meta.get("filters") or []
    for f in filters:
        if f.get("id") != "delta":
            raise ValueError(f"zarr filter {f.get('id')!r} unsupported "
                             "(delta only)")
        if np.dtype(f.get("dtype", meta["dtype"])).kind not in "iu":
            raise ValueError("delta filter on non-integer dtype")
    order = meta.get("order", "C")
    if order not in ("C", "F"):
        raise ValueError(f"zarr order {order!r}")
    attrs = {}
    zattrs = os.path.join(adir, ".zattrs")
    if os.path.exists(zattrs):
        attrs = _load_json(zattrs)
    return {
        "shape": [int(s) for s in meta["shape"]],
        "chunks": [int(c) for c in meta["chunks"]],
        "dtype": meta["dtype"],
        "comp": cid,
        "filters": filters,
        "order": order,
        "fill": _fill_scalar(meta, dt),
        "sep": meta.get("dimension_separator", "."),
        "attrs": attrs,
    }


def list_zarr_arrays(store: str) -> list[str]:
    """Array member names of a store: the root itself (name '') if it
    carries a .zarray, else the immediate child directories that do
    (one-level groups — the layout the reference's own writer and
    xarray produce)."""
    store = local_path(store)
    if os.path.exists(os.path.join(store, ".zarray")):
        return [""]
    out = []
    for nm in sorted(os.listdir(store)):
        if os.path.exists(os.path.join(store, nm, ".zarray")):
            out.append(nm)
    if not out:
        raise ValueError(f"{store}: no .zarray found (not a zarr v2 store)")
    return out


# ---------------------------------------------------------------------------
# chunk IO
# ---------------------------------------------------------------------------


def _chunk_path(store: str, array: str, meta: dict, idx: tuple) -> str:
    name = meta["sep"].join(str(i) for i in idx)
    adir = os.path.join(store, array) if array else store
    if meta["sep"] == "/":
        return os.path.join(adir, *name.split("/"))
    return os.path.join(adir, name)


def decode_zarr_chunk(raw: bytes, meta: dict) -> np.ndarray:
    """Compressed chunk bytes -> full-size chunk array (native byte
    order). Zarr chunks are ALWAYS full size — edge cropping is the
    reader's job."""
    if meta["comp"] == "zlib":
        raw = zlib.decompress(raw)
    elif meta["comp"] == "gzip":
        raw = _gzip.decompress(raw)
    dt = np.dtype(meta["dtype"])
    a = np.frombuffer(raw, dtype=dt)
    for f in reversed(meta["filters"]):
        # delta: first element verbatim, rest are differences
        fdt = np.dtype(f.get("dtype", meta["dtype"]))
        a = np.cumsum(a.astype(fdt), dtype=fdt).astype(dt)
    a = a.reshape(meta["chunks"], order=meta["order"])
    return np.ascontiguousarray(a.astype(dt.newbyteorder("=")))


def encode_zarr_chunk(a: np.ndarray, meta: dict) -> bytes:
    for f in meta["filters"]:
        fdt = np.dtype(f.get("dtype", meta["dtype"]))
        flat = a.astype(fdt).ravel(order=meta["order"])
        a = np.concatenate([flat[:1], np.diff(flat)]).astype(fdt)
    arr = a.astype(np.dtype(meta["dtype"]))
    raw = arr.tobytes(order=meta["order"] if arr.ndim > 1 else "C")
    if meta["comp"] == "zlib":
        return zlib.compress(raw, 6)
    if meta["comp"] == "gzip":
        return _gzip.compress(raw, 6)
    return raw


def read_zarr_chunk(store: str, array: str, meta: dict,
                    idx: tuple) -> np.ndarray:
    """One chunk, cropped to the array bounds; a missing chunk file is
    fill_value (the spec's sparse-store contract)."""
    path = _chunk_path(store, array, meta, idx)
    crop = tuple(
        slice(0, min(c, s - i * c))
        for i, s, c in zip(idx, meta["shape"], meta["chunks"])
    )
    if not os.path.exists(path):
        dt = np.dtype(meta["dtype"]).newbyteorder("=")
        full = np.full(meta["chunks"], meta["fill"] if meta["fill"]
                       is not None else 0, dtype=dt)
        return full[crop]
    with open(path, "rb") as f:
        return decode_zarr_chunk(f.read(), meta)[crop]


def read_zarr_array(store: str, array: str = "") -> np.ndarray:
    """Materialize a whole array locally (tests / oracle replicas /
    coordinate vars — NOT the scale path; that's :func:`scan_zarr`)."""
    store = local_path(store)
    meta = read_zarray(store, array)
    grid = [math.ceil(s / c)
            for s, c in zip(meta["shape"], meta["chunks"])]
    dt = np.dtype(meta["dtype"]).newbyteorder("=")
    out = np.full(meta["shape"], meta["fill"] if meta["fill"] is not None
                  else 0, dtype=dt)
    for idx in np.ndindex(*grid):
        chunk = read_zarr_chunk(store, array, meta, idx)
        sl = tuple(
            slice(i * c, i * c + chunk.shape[d])
            for d, (i, c) in enumerate(zip(idx, meta["chunks"]))
        )
        out[sl] = chunk
    return out


# ---------------------------------------------------------------------------
# georef (CF / xarray conventions, shared rules with formats/netcdf.py)
# ---------------------------------------------------------------------------


def _srid_from_wkt(wkt: str) -> int:
    codes = re.findall(r'AUTHORITY\["EPSG","(\d+)"\]', wkt)
    return int(codes[-1]) if codes else 0


def _srid_from_cf(gatts: dict) -> int:
    """CF grid-mapping parameters -> EPSG code for the UTM families
    (the reference resolves these through PROJ; this covers the
    conformance fixtures and the engine's own registry: Clarke 1866
    -> NAD27 267xx, WGS84 -> 326xx/327xx)."""
    if gatts.get("grid_mapping_name") != "transverse_mercator":
        if gatts.get("grid_mapping_name") == "latitude_longitude":
            return 4326
        return 0
    k0 = float(gatts.get("scale_factor_at_central_meridian", 0))
    lon0 = float(gatts.get("longitude_of_central_meridian", 1e9))
    fe = float(gatts.get("false_easting", -1))
    fn = float(gatts.get("false_northing", -1))
    a = float(gatts.get("semi_major_axis", 0))
    if abs(k0 - 0.9996) > 1e-9 or fe != 500000.0:
        return 0
    zone = (lon0 + 183.0) / 6.0
    if abs(zone - round(zone)) > 1e-6 or not 1 <= round(zone) <= 60:
        return 0
    zone = int(round(zone))
    if abs(a - 6378206.4) < 0.1 and fn == 0.0:
        return 26700 + zone  # NAD27 / UTM (Clarke 1866)
    if abs(a - 6378137.0) < 0.1:
        return (32600 + zone) if fn == 0.0 else (32700 + zone)
    return 0


def zarr_rasters(store: str, array: str | None = None):
    """-> [(name, band, 2-D array north-up, gt, srid, nodata)] — the
    local twin of :func:`scan_zarr` (same rules, whole array)."""
    store = local_path(store)
    names = [array] if array is not None else [
        nm for nm in list_zarr_arrays(store)
        if _is_raster(store, nm)
    ]
    out = []
    for nm in names:
        meta = read_zarray(store, nm)
        gt, srid, flip = zarr_georef(store, nm, meta)
        arr = read_zarr_array(store, nm)
        nodata = (float(meta["fill"])
                  if meta["fill"] is not None and
                  not (isinstance(meta["fill"], float)
                       and math.isnan(meta["fill"])) else None)
        if arr.ndim == 2:
            slices = [(0, arr)]
        else:
            flat = arr.reshape(-1, arr.shape[-2], arr.shape[-1])
            slices = list(enumerate(flat))
        for band, a in slices:
            out.append((nm, band, a[::-1].copy() if flip else a,
                        gt, srid, nodata))
    return out


def _is_raster(store: str, nm: str) -> bool:
    try:
        meta = read_zarray(store, nm)
    except ValueError:
        return False
    if len(meta["shape"]) < 2:
        return False
    dims = meta["attrs"].get("_ARRAY_DIMENSIONS")
    # coordinate/grid-mapping vars are 0/1-D; a 2-D array named after
    # its own dimension would be a coordinate matrix — none in scope
    return not (dims and nm in dims)


def zarr_georef(store: str, array: str, meta: dict):
    """(geotransform, srid, bottom_up_flip) for a 2-D+ array, the
    reference's netCDF-convention reading (see module docstring)."""
    attrs = meta["attrs"]
    dims = attrs.get("_ARRAY_DIMENSIONS") or []
    srid = 0
    crs = attrs.get("_CRS")
    if isinstance(crs, dict):
        wkt = crs.get("wkt")
        if isinstance(wkt, str):
            srid = _srid_from_wkt(wkt)
        if not srid and isinstance(crs.get("url"), str):
            m = re.search(r"EPSG/0/(\d+)", crs["url"])
            srid = int(m.group(1)) if m else 0
    gm = attrs.get("grid_mapping")
    if not srid and isinstance(gm, str):
        try:
            gmeta = read_zarray(store, gm.strip())
            gatts = gmeta["attrs"]
            wkt = gatts.get("spatial_ref") or gatts.get("crs_wkt")
            srid = (_srid_from_wkt(wkt) if isinstance(wkt, str)
                    else 0) or _srid_from_cf(gatts)
        except (OSError, ValueError, KeyError):
            pass

    def coords(dim):
        try:
            cmeta = read_zarray(store, dim)
        except (OSError, ValueError):
            return None
        if len(cmeta["shape"]) != 1:
            return None
        return read_zarr_array(store, dim).astype(np.float64)

    xs = coords(dims[-1]) if len(dims) >= 2 else None
    ys = coords(dims[-2]) if len(dims) >= 2 else None
    flip = ys is not None and len(ys) > 1 and ys[-1] > ys[0]
    if xs is not None and ys is not None and len(xs) > 1 and len(ys) > 1:
        dx = (xs[-1] - xs[0]) / (len(xs) - 1)
        dy = (ys[-1] - ys[0]) / (len(ys) - 1)
        if dy > 0:
            gt = (xs[0] - dx / 2, dx, 0.0, ys[-1] + dy / 2, 0.0, -dy)
        else:
            gt = (xs[0] - dx / 2, dx, 0.0, ys[0] - dy / 2, 0.0, dy)
        if srid == 0 and len(dims) >= 2 and dims[-1].startswith("lon"):
            srid = 4326
    else:
        gt = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    return gt, srid, flip


# ---------------------------------------------------------------------------
# distributed scan: one task per chunk
# ---------------------------------------------------------------------------

OUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
    "gt5 double, srid int, nodata double"
)


def scan_zarr(spark, store: str, array: str | None = None):
    """Distributed Zarr read: the driver touches ONLY the JSON metadata
    (and the tiny 1-D coordinate arrays), plans exactly one task per
    chunk of each 2-D raster array, and each task reads just its own
    chunk file — the natural unit the format was designed around, so
    the scan needs no windowing heuristics at all. Bottom-up stores
    flip PER CHUNK (row order reverses within the chunk, and the
    chunk-row coordinate reverses in the geotransform), so north-up
    comes out without any cross-task exchange. Rows are named
    ``{array}_cy{i}_cx{j}`` (single-chunk arrays keep the array name)."""
    import pandas as pd

    store_l = local_path(store)
    names = [array] if array is not None else [
        nm for nm in list_zarr_arrays(store_l) if _is_raster(store_l, nm)
    ]
    if not names:
        raise ValueError(f"{store}: no 2-D raster arrays")
    tasks = []
    for nm in names:
        meta = read_zarray(store_l, nm)
        if len(meta["shape"]) != 2:
            raise ValueError(
                f"{nm}: scan_zarr handles 2-D arrays "
                f"(shape {meta['shape']}); slice >2-D stores upstream"
            )
        gt, srid, flip = zarr_georef(store_l, nm, meta)
        h, w = meta["shape"]
        ch, cw = meta["chunks"]
        gy = math.ceil(h / ch)
        gx = math.ceil(w / cw)
        nodata = (float(meta["fill"])
                  if meta["fill"] is not None and
                  not (isinstance(meta["fill"], float)
                       and math.isnan(meta["fill"])) else None)
        mjson = json.dumps(meta)
        many = gy * gx > 1
        base = nm if nm else os.path.splitext(
            os.path.basename(store_l.rstrip("/")))[0]
        for cy in range(gy):
            rows_here = min(ch, h - cy * ch)
            # north-up row offset of this chunk's TOP row
            top = (h - cy * ch - rows_here) if flip else cy * ch
            for cx in range(gx):
                tasks.append((
                    store_l, nm, mjson, cy, cx, int(flip),
                    f"{base}_cy{cy}_cx{cx}" if many else base,
                    float(gt[0] + (cx * cw) * gt[1]), float(gt[1]),
                    float(gt[2]), float(gt[3] + top * gt[5]),
                    float(gt[4]), float(gt[5]),
                    int(srid), nodata,
                ))

    tdf = spark.createDataFrame(
        spark.sparkContext.parallelize(tasks, len(tasks)),
        "store string, arr string, meta string, cy int, cx int, "
        "flip int, image_id string, gt0 double, gt1 double, gt2 double, "
        "gt3 double, gt4 double, gt5 double, srid int, nodata double",
    )

    def read_chunks(batches):
        from .. import codecs

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                meta = json.loads(r.meta)
                a = read_zarr_chunk(r.store, r.arr, meta, (r.cy, r.cx))
                if r.flip:
                    a = a[::-1]
                if np.dtype(a.dtype) not in codecs._DTYPE_CODES:
                    a = a.astype(np.float64)
                rows.append({
                    "image_id": r.image_id,
                    "bytes": codecs.encode_raw(np.ascontiguousarray(a)),
                    "w": a.shape[1], "h": a.shape[0], "fmt": "raw",
                    "gt0": r.gt0, "gt1": r.gt1, "gt2": r.gt2,
                    "gt3": r.gt3, "gt4": r.gt4, "gt5": r.gt5,
                    "srid": int(r.srid),
                    "nodata": (None if r.nodata is None or
                               (isinstance(r.nodata, float)
                                and math.isnan(r.nodata))
                               else float(r.nodata)),
                })
            yield pd.DataFrame(
                rows,
                columns=["image_id", "bytes", "w", "h", "fmt",
                         "gt0", "gt1", "gt2", "gt3", "gt4", "gt5",
                         "srid", "nodata"],
            )

    return tdf.mapInPandas(read_chunks, schema=OUT_SCHEMA)


# ---------------------------------------------------------------------------
# distributed sink: driver writes metadata, tasks write chunks
# ---------------------------------------------------------------------------


def write_zarr(df, store: str, array: str = "band1",
               compressor: str | None = "zlib",
               fill_value=0) -> dict:
    """Assemble aligned images-table tiles into ONE zarr v2 array,
    distributed: the driver reads FOOTPRINTS only (image_id, w, h,
    geotransform — never pixels), derives the global grid, validates
    every tile is exactly one chunk of it, writes the JSON metadata +
    x/y CF coordinate arrays + the ``_CRS`` wkt attribute (the
    reference's own Zarr creation layout), and then every TASK encodes
    and writes its own disjoint chunk files. Returns the store summary
    dict. Missing grid positions simply have no chunk file —
    fill_value on read, the format's sparse contract."""
    from .. import crs_wkt

    store = local_path(store)
    foot = df.select("image_id", "w", "h", "gt0", "gt1", "gt2",
                     "gt3", "gt4", "gt5", "srid").collect()
    if not foot:
        raise ValueError("write_zarr: empty input")
    w0, h0 = int(foot[0].w), int(foot[0].h)
    dx, dy = float(foot[0].gt1), float(foot[0].gt5)
    srid = int(foot[0].srid or 0)
    for r in foot:
        if (int(r.w), int(r.h)) != (w0, h0):
            raise ValueError("write_zarr: tiles must share one size "
                             f"({r.image_id}: {r.w}x{r.h} vs {w0}x{h0})")
        if (float(r.gt1), float(r.gt5)) != (dx, dy) or r.gt2 or r.gt4:
            raise ValueError("write_zarr: tiles must share one axis-"
                             "aligned resolution")
    minx = min(float(r.gt0) for r in foot)
    maxy = max(float(r.gt3) for r in foot)
    cols = {}
    for r in foot:
        fx = (float(r.gt0) - minx) / (w0 * dx)
        fy = (float(r.gt3) - maxy) / (h0 * dy)
        cx, cy = round(fx), round(fy)
        if abs(fx - cx) > 1e-6 or abs(fy - cy) > 1e-6:
            raise ValueError(
                f"write_zarr: {r.image_id} not chunk-aligned "
                f"(grid position {fx:.6f},{fy:.6f})"
            )
        cols[r.image_id] = (cy, cx)
    gy = max(c[0] for c in cols.values()) + 1
    gx = max(c[1] for c in cols.values()) + 1

    # peek one row's dtype (decode a single tile's bytes driver-side)
    from .. import codecs

    one = df.select("bytes", "fmt").limit(1).collect()[0]
    dt = np.asarray(codecs.decode_image(bytes(one.bytes), one.fmt)).dtype
    meta = {
        "shape": [gy * h0, gx * w0],
        "chunks": [h0, w0],
        "dtype": np.dtype(dt).newbyteorder("<").str,
        "comp": compressor,
        "filters": [],
        "order": "C",
        "fill": fill_value,
        "sep": ".",
    }
    if compressor not in (None, "zlib", "gzip"):
        raise ValueError(f"compressor {compressor!r} (zlib/gzip/None)")

    adir = os.path.join(store, array)
    os.makedirs(adir, exist_ok=True)
    with open(os.path.join(store, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    zarray = {
        "zarr_format": 2,
        "shape": meta["shape"],
        "chunks": meta["chunks"],
        "dtype": meta["dtype"],
        "compressor": ({"id": compressor, "level": 6}
                       if compressor else None),
        "fill_value": fill_value,
        "filters": None,
        "order": "C",
        "dimension_separator": ".",
    }
    with open(os.path.join(adir, ".zarray"), "w") as f:
        json.dump(zarray, f, indent=2)
    attrs = {"_ARRAY_DIMENSIONS": ["y", "x"]}
    if srid:
        try:
            attrs["_CRS"] = {"wkt": crs_wkt.export_wkt(srid)}
        except ValueError:
            # SRIDs outside the WKT registry still round-trip through
            # the reference's url spelling of _CRS
            attrs["_CRS"] = {
                "url": f"http://www.opengis.net/def/crs/EPSG/0/{srid}"
            }
    with open(os.path.join(adir, ".zattrs"), "w") as f:
        json.dump(attrs, f, indent=2)
    # CF center-coordinate vars (descending y = stored north-up)
    xs = minx + dx * (np.arange(gx * w0) + 0.5)
    ys = maxy + dy * (np.arange(gy * h0) + 0.5)
    for nm, vals in (("x", xs), ("y", ys)):
        cdir = os.path.join(store, nm)
        os.makedirs(cdir, exist_ok=True)
        with open(os.path.join(cdir, ".zarray"), "w") as f:
            json.dump({
                "zarr_format": 2, "shape": [len(vals)],
                "chunks": [len(vals)], "dtype": "<f8",
                "compressor": None, "fill_value": None,
                "filters": None, "order": "C",
            }, f, indent=2)
        with open(os.path.join(cdir, ".zattrs"), "w") as f:
            json.dump({"_ARRAY_DIMENSIONS": [nm]}, f)
        with open(os.path.join(cdir, "0"), "wb") as f:
            f.write(vals.astype("<f8").tobytes())

    mjson = json.dumps(meta)
    pos = {k: v for k, v in cols.items()}
    pos_b = df.sparkSession.sparkContext.broadcast(pos)

    def dump_row(r, a, gt, nd, out_dir):
        m = json.loads(mjson)
        path = _chunk_path(store, array, m, pos_b.value[r.image_id])
        with open(path, "wb") as f:
            f.write(encode_zarr_chunk(np.ascontiguousarray(a), m))
        return path

    written = write_files(df, store, dump_row)
    return {"store": store, "array": array, "shape": meta["shape"],
            "chunks": meta["chunks"], "n_chunks": len(written),
            "srid": srid}
