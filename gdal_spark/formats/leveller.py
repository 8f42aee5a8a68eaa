"""Leveller heightfield (.ter) driver — Daylon Leveller's tag-database
terrain container.

Reference driver: frmts/leveller/levellerdataset.cpp (implemented from
the published Leveller TER description — no code taken). Observable
semantics, pinned on the autotest fixture (ter6test.ter, version 6,
checksum 33441):

- ``trrn`` magic + a version byte (4..12 accepted), then a flat tag
  database: ``[len:u8][name][datalen:u32 LE][data]`` walked from
  offset 5 (locate_data) — ints are 4-byte LE, doubles 8-byte LE.
- ``hf_w``/``hf_b`` dimensions (>= 2), ``hf_data`` float32 LE
  elevations stored TOP-DOWN (no flip; versions < 6 hold 16.16
  fixed-point ints divided by 65536 on read).
- version >= 7 georef: ``csclass`` raster/local/geo, ``coordsys_wkt``
  for geo, and the two ``digital_axis`` records (style
  positioned/sized/pixel-sized + fixedend + v0/v1) whose
  origin()/scaling() rules build the geotransform; the vertical
  ``coordsys_em_scale``/``coordsys_em_base`` pair is the band
  scale/offset.
- version <= 6 legacy georef: ``hf_worldspacing`` centers the grid on
  the origin (gt0 = -0.5*spacing*(w-1)) with gt5 POSITIVE, and the
  world spacing doubles as the elevation scale.

Spark shape: one task per file into images-table rows carrying the
raw float32 values plus scale/offset columns; task-per-row sink
writing version-7 files with pixel-sized axes.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd

from ._raw import read_raw, write_raw
from ._util import raster_row, schema_columns, write_files

OUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
    "gt5 double, srid int, nodata double, scale double, offset double"
)

# coordsys classes / axis styles (levellerdataset.cpp:43-53)
CS_RASTER, CS_LOCAL, CS_GEO = 0, 1, 2
DA_POSITIONED, DA_SIZED, DA_PIXEL_SIZED = 0, 1, 2


def _tags(data: bytes) -> dict[str, bytes]:
    """Walk the tag database from offset 5 (locate_data shape)."""
    out = {}
    pos = 5
    n = len(data)
    while pos < n:
        dlen = data[pos]
        if dlen == 0 or dlen > 64 or pos + 1 + dlen + 4 > n:
            break
        name = data[pos + 1:pos + 1 + dlen].decode("ascii", "replace")
        pos += 1 + dlen
        datalen = struct.unpack_from("<I", data, pos)[0]
        pos += 4
        out.setdefault(name, data[pos:pos + datalen])
        pos += datalen
    return out


def _get_int(tags, name):
    v = tags.get(name)
    return struct.unpack("<i", v[:4])[0] if v else None


def _get_double(tags, name):
    v = tags.get(name)
    return struct.unpack("<d", v[:8])[0] if v else None


def _axis(tags, n: int, pixels: int):
    """digital_axis::origin/scaling (levellerdataset.cpp:296-366)."""
    style = _get_int(tags, f"coordsys_da{n}_style")
    fixed_end = _get_int(tags, f"coordsys_da{n}_fixedend")
    v0 = _get_double(tags, f"coordsys_da{n}_v0")
    v1 = _get_double(tags, f"coordsys_da{n}_v1")
    if style is None or fixed_end is None or v0 is None or v1 is None:
        return None
    d = (v0, v1)
    if fixed_end == 1:
        if style == DA_SIZED:
            origin = d[1] + d[0]
        elif style == DA_PIXEL_SIZED:
            origin = d[1] + d[0] * (pixels - 1)
        else:
            origin = d[0]
    else:
        origin = d[0]
    if style == DA_PIXEL_SIZED:
        scaling = d[1 - fixed_end]
    else:
        if style == DA_POSITIONED:
            length = d[1] - d[0]
        elif style == DA_SIZED:
            length = d[1 - fixed_end]
        else:
            length = d[1 - fixed_end] * (pixels - 1)
        scaling = length / (pixels - 1)
    return origin, scaling


def parse_leveller(data: bytes):
    """-> (float64 array (h, w), geotransform, scale, offset, wkt|None,
    version)."""
    if data[:4] != b"trrn":
        raise ValueError("not a Leveller terrain file")
    version = data[4]
    if not 4 <= version <= 12:
        raise ValueError(f"Leveller: unsupported version {version}")
    tags = _tags(data)
    w = _get_int(tags, "hf_w")
    h = _get_int(tags, "hf_b")
    if not w or not h or w < 2 or h < 2:
        raise ValueError("Leveller: heightfield dimensions too small")
    body = tags.get("hf_data")
    if body is None or len(body) != w * h * 4:
        raise ValueError("Leveller: cannot locate elevation data")
    if version < 6:
        arr = read_raw(body, "<i4", w, h, 1, "bsq") / 65536.0
    else:
        arr = read_raw(body, "<f4", w, h, 1, "bsq").astype(np.float64)
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    scale, offset = 1.0, 0.0
    wkt = None
    if version >= 7:
        csclass = _get_int(tags, "csclass")
        if csclass is None:
            csclass = CS_RASTER
        if csclass != CS_RASTER:
            if csclass == CS_GEO:
                raw = tags.get("coordsys_wkt", b"")
                wkt = raw.split(b"\x00")[0].decode("utf-8", "replace")
            elif csclass != CS_LOCAL:
                raise ValueError(
                    "Leveller: unknown coordinate system type"
                )
            ns = _axis(tags, 0, h)
            ew = _axis(tags, 1, w)
            if ns and ew:
                gt = (ew[0], ew[1], 0.0, ns[0], 0.0, ns[1])
        if _get_int(tags, "coordsys_haselevm"):
            scale = _get_double(tags, "coordsys_em_scale") or 1.0
            offset = _get_double(tags, "coordsys_em_base") or 0.0
    else:
        spacing = _get_double(tags, "hf_worldspacing")
        if spacing is not None:
            gt = (-0.5 * spacing * (w - 1), spacing, 0.0,
                  -0.5 * spacing * (h - 1), 0.0, spacing)
            scale = spacing
    return arr, gt, scale, offset, wkt, version


def _tag(name: str, payload: bytes) -> bytes:
    nb = name.encode("ascii")
    return bytes([len(nb)]) + nb + struct.pack("<I", len(payload)) + payload


def format_leveller(arr: np.ndarray, gt, scale: float = 1.0,
                    offset: float = 0.0) -> bytes:
    """Version-7 writer: local coordsys, pixel-sized axes (style 2,
    fixedend 0 — v0 = origin, v1 = per-pixel size), float32 body."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a[:, :, 0]
    h, w = a.shape
    out = bytearray(b"trrn\x07")
    out += _tag("hf_w", struct.pack("<i", w))
    out += _tag("hf_b", struct.pack("<i", h))
    out += _tag("csclass", struct.pack("<i", CS_LOCAL))
    out += _tag("coordsys_units", struct.pack("<i", 9001))
    for n, (origin, size) in enumerate(
            ((gt[3], gt[5]), (gt[0], gt[1]))):
        out += _tag(f"coordsys_da{n}_style",
                    struct.pack("<i", DA_PIXEL_SIZED))
        out += _tag(f"coordsys_da{n}_fixedend", struct.pack("<i", 0))
        out += _tag(f"coordsys_da{n}_v0", struct.pack("<d", origin))
        out += _tag(f"coordsys_da{n}_v1", struct.pack("<d", size))
    out += _tag("coordsys_haselevm", struct.pack("<i", 1))
    out += _tag("coordsys_em_scale", struct.pack("<d", scale))
    out += _tag("coordsys_em_base", struct.pack("<d", offset))
    out += _tag("coordsys_em_units", struct.pack("<i", 9001))
    out += _tag("hf_data", write_raw(a, "<f4"))
    return bytes(out)


def scan_leveller(spark, path_glob: str):
    """Glob of Leveller .ter files -> images-table rows (raw float
    values plus band scale/offset columns)."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr, gt, scale, offset, _wkt, _v = parse_leveller(
                    bytes(r.content)
                )
                rows.append(raster_row(
                    os.path.splitext(os.path.basename(r.path))[0],
                    arr, gt, 0, None, scale=scale, offset=offset))
            yield pd.DataFrame(rows, columns=schema_columns(OUT_SCHEMA))

    return (
        spark.read.format("binaryFile").load(path_glob)
        .select("path", "content")
        .mapInPandas(parse, schema=OUT_SCHEMA)
    )


def write_leveller(df, out_dir: str):
    """One .ter per row, task-written (version-7 layout)."""
    has_scale = "scale" in df.columns

    def dump_row(r, arr, gt, nd, out_dir):
        scale = float(r.scale) if has_scale else 1.0
        offset = float(r.offset) if has_scale else 0.0
        path = os.path.join(out_dir, f"{r.image_id}.ter")
        with open(path, "wb") as f:
            f.write(format_leveller(np.squeeze(arr), gt,
                                    scale, offset))
        return path

    return write_files(df, out_dir, dump_row)
