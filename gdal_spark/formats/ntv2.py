"""NTv2 datum grid-shift driver (.gsb) + grid-based datum transforms.

Reference semantics: frmts/raw/ntv2dataset.cpp (the published NTv2
format, originally the Canadian NAD27->NAD83 national transformation,
also used by France/Australia/GB/NZ; format documentation is public —
https://github.com/Esri/ntv2-file-routines and the archived Ontario
MGS specification quoted in the reference driver header):

- the overview header and each subgrid header are 11 records of 16
  bytes (24 for the velocity-grid ``.gvb`` variant): 8 ASCII label
  bytes + 8 value bytes (int32/float64/ASCII);
- endianness is detected from the NUM_OREC value bytes (11 encoded
  little- vs big-endian), exactly like the reference;
- E_LONG / W_LONG are stored POSITIVE WEST and negated on read;
  ``width = floor((e - w)/long_inc + 1.5)``,
  ``height = floor((n - s)/lat_inc + 1.5)``;
- data records are ``nbands`` float32 per grid node (4 for shift
  grids: lat offset arcsec, lon offset arcsec positive west, lat
  error, lon error; 6 for velocity grids), stored with the FIRST
  node at the south-EAST corner, scanlines running east->west and
  rows south->north — both axes are flipped to the conventional
  GDAL north-up / west-east orientation, and the geotransform is
  ``((w - long_inc/2)/3600, long_inc/3600, 0,
  (n + lat_inc/2)/3600, 0, -lat_inc/3600)`` on WGS84-family
  geographic coordinates (ntv2dataset.cpp OpenGrid).

Beyond the raster view, :class:`GridShift` applies the grid as a
datum transformation the way PROJ's hgridshift does (public
semantics): bilinear interpolation of the two offset bands at the
source-datum coordinate, ``lat' = lat + dlat/3600``,
``lon' = lon - dlon/3600`` (the stored longitude offset is positive
west), the inverse by fixed-point iteration, points outside every
subgrid passing through unshifted. :func:`register_grid_datum`
installs it in the engine's datum registry so every projected /
geographic transformer composed over that srid routes through the
grid instead of a Helmert approximation — the reference gets this
via PROJ's grid catalog (ogr/ogrct.cpp); here it is explicit.

Spark shape: grids are small (the largest national grids are a few
hundred MB; typical ones are KB..MB) — :func:`scan_ntv2` fans out
one task per (file, subgrid) into images-table rows, and a
registered GridShift travels to executors inside the Arrow-batched
transform UDFs like every other transformer (numpy-vectorized, no
per-row Python).
"""

from __future__ import annotations

import os
import struct

import numpy as np

from ._raw import read_band, write_raw
from ._util import glob_paths, raster_row, scan_files, write_files

_SHIFT_BANDS = 4
_VELOCITY_BANDS = 6


def _records(buf: bytes, off: int, recsize: int, n: int = 11):
    return [buf[off + i * recsize: off + (i + 1) * recsize]
            for i in range(n)]


def _label(rec: bytes) -> str:
    return rec[:8].decode("ascii", "replace").strip()


def _sval(rec: bytes) -> str:
    return rec[8:16].decode("ascii", "replace").strip()


def parse_ntv2(buf: bytes):
    """.gsb/.gvb bytes -> (overview metadata dict, [subgrid dicts]).

    Each subgrid dict: ``name parent created updated gt arr`` where
    ``arr`` is (h, w, nbands) float32 in GDAL north-up orientation.
    """
    if len(buf) < 64 or not buf[:8].upper().startswith(b"NUM_OREC"):
        raise ValueError("not an NTv2 file (no NUM_OREC)")
    recsize = 24 if buf[24:32].upper().startswith(b"NUM_SREC") else 16
    if buf[8:12] == b"\x0b\x00\x00\x00":
        bo = "<"
    elif buf[8:12] == b"\x00\x00\x00\x0b":
        bo = ">"
    else:
        raise ValueError("NTv2: NUM_OREC value is not 11 in either "
                         "byte order")
    hdr = _records(buf, 0, recsize)
    num_file = struct.unpack(bo + "i", hdr[2][8:12])[0]
    if not 0 < num_file < 1024:
        raise ValueError(f"NTv2: invalid NUM_FILE {num_file}")
    meta = {_label(hdr[i]): _sval(hdr[i]) for i in range(3, 7)}
    for i, key in ((7, "MAJOR_F"), (8, "MINOR_F"),
                   (9, "MAJOR_T"), (10, "MINOR_T")):
        meta[key] = struct.unpack(bo + "d", hdr[i][8:16])[0]
    nbands = _SHIFT_BANDS if recsize == 16 else _VELOCITY_BANDS

    grids = []
    off = 11 * recsize
    for _ in range(num_file):
        g = _records(buf, off, recsize)
        if len(g[10]) < recsize:
            raise ValueError("NTv2: truncated subgrid header")
        s_lat, n_lat, e_long, w_long, lat_inc, long_inc = (
            struct.unpack(bo + "d", g[i][8:16])[0] for i in range(4, 10)
        )
        e_long, w_long = -e_long, -w_long
        gs_count = struct.unpack(bo + "i", g[10][8:12])[0]
        if long_inc == 0.0 or lat_inc == 0.0:
            raise ValueError("NTv2: zero grid increment")
        w = int(np.floor((e_long - w_long) / long_inc + 1.5))
        h = int(np.floor((n_lat - s_lat) / lat_inc + 1.5))
        if w <= 0 or h <= 0 or gs_count != w * h:
            raise ValueError(
                f"NTv2: GS_COUNT {gs_count} != {w}x{h} grid")
        data_off = off + 11 * recsize
        # stored: first node at the SE corner, east->west scanlines,
        # south->north rows -> walk back from the last node for
        # north-up/west-east
        arr = read_band(buf, bo + "f4", w, h,
                        data_off + (gs_count - 1) * recsize, -recsize,
                        -w * recsize, nbands, 4)
        grids.append({
            "name": _sval(g[0]), "parent": _sval(g[1]),
            "created": _sval(g[2]), "updated": _sval(g[3]),
            "gt": ((w_long - long_inc * 0.5) / 3600.0,
                   long_inc / 3600.0, 0.0,
                   (n_lat + lat_inc * 0.5) / 3600.0, 0.0,
                   -lat_inc / 3600.0),
            "arr": arr,
        })
        off += (11 + gs_count) * recsize
    return meta, grids


def format_ntv2(grids, meta: dict | None = None,
                byte_order: str = "<") -> bytes:
    """Subgrid dicts (``name parent gt arr``, arr (h, w, 4) float32
    GDAL-oriented) -> a spec-complete shift-grid .gsb."""
    meta = dict(meta or {})
    bo = byte_order
    if bo not in ("<", ">"):
        raise ValueError("byte_order must be '<' or '>'")

    def rec(label: str, value: bytes) -> bytes:
        lab = label.encode("ascii").ljust(8)[:8]
        return lab + value.ljust(8)[:8]

    def srec(label: str, s: str) -> bytes:
        return rec(label, s.encode("ascii")[:8].ljust(8))

    def irec(label: str, v: int) -> bytes:
        return rec(label, struct.pack(bo + "i", v) + b"\x00" * 4)

    def drec(label: str, v: float) -> bytes:
        return rec(label, struct.pack(bo + "d", float(v)))

    out = [
        irec("NUM_OREC", 11), irec("NUM_SREC", 11),
        irec("NUM_FILE", len(grids)),
        srec("GS_TYPE", meta.get("GS_TYPE", "SECONDS")),
        srec("VERSION", meta.get("VERSION", "GSPARK")),
        srec("SYSTEM_F", meta.get("SYSTEM_F", "SRC")),
        srec("SYSTEM_T", meta.get("SYSTEM_T", "TRG")),
        drec("MAJOR_F", meta.get("MAJOR_F", 6378137.0)),
        drec("MINOR_F", meta.get("MINOR_F", 6356752.314)),
        drec("MAJOR_T", meta.get("MAJOR_T", 6378137.0)),
        drec("MINOR_T", meta.get("MINOR_T", 6356752.314)),
    ]
    for g in grids:
        arr = np.asarray(g["arr"], dtype=np.float32)
        if arr.ndim != 3 or arr.shape[2] != _SHIFT_BANDS:
            raise ValueError("NTv2 writer needs (h, w, 4) arrays")
        h, w = arr.shape[:2]
        gt = g["gt"]
        if gt[2] != 0.0 or gt[4] != 0.0:
            raise ValueError("NTv2 grids cannot be rotated")
        long_inc = gt[1] * 3600.0
        lat_inc = -gt[5] * 3600.0
        w_long = gt[0] * 3600.0 + long_inc * 0.5
        n_lat = gt[3] * 3600.0 - lat_inc * 0.5
        s_lat = n_lat - (h - 1) * lat_inc
        e_long = w_long + (w - 1) * long_inc
        out += [
            srec("SUB_NAME", g.get("name", "GRID")),
            srec("PARENT", g.get("parent", "NONE")),
            srec("CREATED", g.get("created", "")),
            srec("UPDATED", g.get("updated", "")),
            drec("S_LAT", s_lat), drec("N_LAT", n_lat),
            # stored positive west
            drec("E_LONG", -e_long), drec("W_LONG", -w_long),
            drec("LAT_INC", lat_inc), drec("LONG_INC", long_inc),
            irec("GS_COUNT", h * w),
        ]
        out.append(write_raw(arr[::-1, ::-1, :], bo + "f4", "bip"))
    out.append(b"END " + b"\x00" * 12)
    return b"".join(out)


def scan_ntv2(spark, path_glob: str):
    """Glob of .gsb/.gvb files -> images-table rows, one per
    (file, subgrid) with the multi-band float32 offset raster; srid
    4326 (NTv2 grids live on geographic coordinates). One task per
    subgrid."""
    from .envi import OUT_SCHEMA

    tasks = []
    for p in glob_paths(path_glob):
        with open(p, "rb") as f:
            head = f.read(64)
        if not head[:8].upper().startswith(b"NUM_OREC"):
            raise ValueError(f"{p}: not an NTv2 file")
        recsize = 24 if head[24:32].upper().startswith(b"NUM_SREC") else 16
        bo = "<" if head[8:12] == b"\x0b\x00\x00\x00" else ">"
        with open(p, "rb") as f:
            f.seek(2 * recsize + 8)
            nf = struct.unpack(bo + "i", f.read(4))[0]
        tasks += [(p, i) for i in range(nf)]

    def read(r):
        with open(r.path, "rb") as f:
            _meta, grids = parse_ntv2(f.read())
        g = grids[int(r.grid)]
        stem = os.path.splitext(os.path.basename(r.path))[0]
        name = stem if len(grids) == 1 else f"{stem}:{g['name']}"
        return [raster_row(name, g["arr"], g["gt"], 4326)]

    return scan_files(spark, None, read, OUT_SCHEMA,
                      tasks=("path string, grid int", tasks))


def write_ntv2(df, out_dir: str) -> list[str]:
    """Images-table rows carrying (h, w, 4) float32 offset rasters ->
    one single-subgrid .gsb per row, written by the task that holds
    the row."""
    def dump_row(r, arr, gt, nd, out_dir):
        arr = np.asarray(arr, dtype=np.float32)
        path = os.path.join(out_dir, f"{r.image_id}.gsb")
        with open(path, "wb") as f:
            f.write(format_ntv2(
                [{"name": str(r.image_id)[:8].upper(),
                  "gt": gt, "arr": arr}]))
        return path

    return write_files(df, out_dir, dump_row)


class GridShift:
    """Apply an NTv2 grid as a datum transformation (PROJ hgridshift
    semantics): ``forward`` = source datum -> target datum,
    ``inverse`` by fixed-point iteration. numpy-vectorized; points
    outside every subgrid pass through unshifted. When several
    subgrids contain a point the finest (smallest lat increment)
    wins — the NTv2 parent/child densification rule."""

    def __init__(self, grids):
        # finest (smallest cell) first so the first containing grid wins
        self._grids = sorted(
            [(g["gt"], np.asarray(g["arr"], dtype=np.float64))
             for g in grids],
            key=lambda t: abs(t[0][5]),
        )

    def _offsets(self, lon, lat):
        """Bilinear (dlat, dlon) arcsec at each point; 0 outside."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        dlat = np.zeros_like(lon)
        dlon = np.zeros_like(lon)
        done = np.zeros(lon.shape, dtype=bool)
        for gt, arr in self._grids:
            h, w = arr.shape[:2]
            # pixel-center fractional indices
            fx = (lon - gt[0]) / gt[1] - 0.5
            fy = (lat - gt[3]) / gt[5] - 0.5
            inside = ((~done) & (fx >= -0.5) & (fx <= w - 0.5)
                      & (fy >= -0.5) & (fy <= h - 0.5))
            if not inside.any():
                continue
            x = np.clip(fx[inside], 0.0, w - 1.0)
            y = np.clip(fy[inside], 0.0, h - 1.0)
            x0 = np.clip(np.floor(x).astype(np.int64), 0, w - 1)
            y0 = np.clip(np.floor(y).astype(np.int64), 0, h - 1)
            x1 = np.minimum(x0 + 1, w - 1)
            y1 = np.minimum(y0 + 1, h - 1)
            tx = x - x0
            ty = y - y0
            for band, out in ((0, dlat), (1, dlon)):
                b = arr[:, :, band]
                v = ((1 - tx) * (1 - ty) * b[y0, x0]
                     + tx * (1 - ty) * b[y0, x1]
                     + (1 - tx) * ty * b[y1, x0]
                     + tx * ty * b[y1, x1])
                out[inside] = v
            done |= inside
        return dlat, dlon

    def forward(self, lon, lat):
        """Source-datum lon/lat degrees -> target-datum degrees."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        dlat, dlon = self._offsets(lon, lat)
        # stored longitude offset is positive WEST
        return lon - dlon / 3600.0, lat + dlat / 3600.0

    def inverse(self, lon, lat, iterations: int = 4):
        """Target-datum lon/lat degrees -> source-datum degrees."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        glon, glat = lon.copy(), lat.copy()
        for _ in range(iterations):
            flon, flat = self.forward(glon, glat)
            glon += lon - flon
            glat += lat - flat
        return glon, glat


class GridShiftDatum:
    """DatumShift-compatible wrapper: ``to_wgs84`` = grid forward
    (the NTv2 target system is the WGS84-class datum), ``to_local``
    = grid inverse. ``towgs84`` is None — there is no Helmert
    equivalent to export."""

    towgs84 = None

    def __init__(self, shift: GridShift):
        self._g = shift

    def to_wgs84(self, lon, lat):
        return self._g.forward(lon, lat)

    def to_local(self, lon, lat):
        return self._g.inverse(lon, lat)


def register_grid_datum(srid: int, grids) -> GridShiftDatum:
    """Route every transform over ``srid`` through the NTv2 grid
    (instead of a Helmert shift): the engine's counterpart of PROJ
    consulting its grid catalog for the CRS pair (ogr/ogrct.cpp
    delegates exactly this to PROJ)."""
    from ..proj import DATUM_TABLE, _XFORM_CACHE

    d = GridShiftDatum(GridShift(grids))
    DATUM_TABLE[int(srid)] = d
    _XFORM_CACHE.pop(int(srid), None)
    return d
