"""Terragen heightfield (.ter) driver — the classic fractal-landscape
terrain format.

Reference driver: frmts/terragen/terragendataset.cpp (implemented from
the published Terragen terrain-file description — no code taken).
Observable semantics, pinned on the autotest fixture:

- 16-byte ``TERRAGENTERRAIN `` signature, then little-endian 4-char
  chunks: ``SIZE`` (uint16 n + 2 pad → square n+1 points unless
  ``XPTS``/``YPTS`` override), ``SCAL`` (3 floats — the Y component is
  the ground spacing in meters, default 30), ``CRAD``/``CRVM``
  skipped, ``ALTW`` (int16 heightScale, int16 baseHeight, then
  xpts*ypts int16 elevations), ``EOF ``.
- elevations are stored BOTTOM-UP and are raw int16; the physical
  elevation is ``raw * SCAL*heightScale/65536 + SCAL*baseHeight``
  (the reference band's GetScale/GetOffset).
- the geotransform is the reference's scale matrix ``(0, SCAL, 0, 0,
  0, +SCAL)`` — gt5 POSITIVE, Terragen files carry no world origin.
- the writer reproduces the reference's heightScale/baseHeight
  search verbatim (write_header:545-608): span in pixels, then the
  smallest (hs, bh) pair that brackets the span in int16 with the
  converging-delta scan over baseheights — the search that makes
  ``gdal_translate -unscale`` recover byte data exactly
  (autotest test_terragen_2, checksum 4672).

Spark shape: one task per file into images-table rows carrying the
RAW int16 values (what GDAL's band exposes and its checksum covers)
plus ``scale``/``offset`` columns; the sink is task-per-row.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd

from ._util import raster_row, schema_columns, write_files

OUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
    "gt5 double, srid int, nodata double, scale double, offset double"
)

_SIG = b"TERRAGENTERRAIN "


def parse_terragen(data: bytes):
    """-> (raw int16 array (h, w) TOP-DOWN, geotransform, scale,
    offset, SCAL)."""
    if data[:16] != _SIG:
        raise ValueError("not a Terragen terrain file")
    pos = 16
    scal = 30.0
    xpts = ypts = None
    size = None
    height_scale = base_height = 0
    arr = None
    while pos + 4 <= len(data):
        tag = data[pos:pos + 4]
        pos += 4
        if tag == b"SIZE":
            size = struct.unpack_from("<H", data, pos)[0]
            pos += 4
            if xpts is None:
                xpts = size + 1
            if ypts is None:
                ypts = size + 1
        elif tag == b"XPTS":
            xpts = struct.unpack_from("<H", data, pos)[0]
            pos += 4
        elif tag == b"YPTS":
            ypts = struct.unpack_from("<H", data, pos)[0]
            pos += 4
        elif tag == b"SCAL":
            sc = struct.unpack_from("<3f", data, pos)
            scal = float(sc[1])
            pos += 12
        elif tag == b"CRAD":
            pos += 4
        elif tag == b"CRVM":
            pos += 4
        elif tag == b"ALTW":
            height_scale, base_height = struct.unpack_from("<hh", data, pos)
            pos += 4
            n = xpts * ypts
            arr = np.frombuffer(data, dtype="<i2", count=n,
                                offset=pos).reshape(ypts, xpts)
            pos += n * 2
        elif tag == b"EOF ":
            break
        else:
            raise ValueError(f"Terragen: unknown chunk {tag!r}")
    if arr is None or not xpts or not ypts:
        raise ValueError("Terragen: missing ALTW data")
    # bottom-up storage -> north-up
    arr = arr[::-1, :].astype(np.float64)
    scale = scal / 65536.0 * height_scale
    offset = scal * base_height
    gt = (0.0, scal, 0.0, 0.0, 0.0, scal)
    return arr, gt, scale, offset, scal


def _search_hs_bh(span_px_lo: float, span_px_hi: float):
    """The reference's heightscale/baseheight search
    (terragendataset.cpp:553-608), verbatim semantics."""
    hs0 = int(span_px_hi - span_px_lo)
    if hs0 == 0:
        hs0 = 1
    hs = hs0
    bh = 0
    while hs <= 32767:
        prevdelta = 1.0e30
        bh = -32768
        while bh <= 32767:
            valley = int((span_px_lo - bh) * 65536.0 / hs)
            if valley < -32768:
                bh += 1
                continue
            peak = int((span_px_hi - bh) * 65536.0 / hs)
            if peak > 32767:
                bh += 1
                continue
            d = float(valley) / 65536.0 * hs + bh
            delta = abs(d - span_px_lo)
            if delta < prevdelta:
                prevdelta = delta
                bh += 1
            else:
                bh -= 1
                break
        if bh != 32768:
            break
        hs += 1
    if hs == 32768:
        raise ValueError(
            "Terragen: cannot find heightscale/baseheight combination"
        )
    return hs, bh


def format_terragen(arr: np.ndarray, scal: float = 30.0,
                    span: tuple[float, float] | None = None,
                    raw: tuple[int, int] | None = None) -> bytes:
    """Encode a heightfield. Two modes:

    - logical (default): ``arr`` holds float elevations in meters;
      ``span`` (min, max; defaults to the data range) drives the
      reference's hs/bh search and values encode via the reference's
      L2P int truncation.
    - raw: ``raw=(height_scale, base_height)`` and ``arr`` already
      holds int16 physical values written verbatim.
    """
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a[:, :, 0]
    h, w = a.shape
    out = bytearray(_SIG)
    out += b"SIZE" + struct.pack("<Hxx", min(w, h) - 1)
    if w != h:
        out += b"XPTS" + struct.pack("<Hxx", w)
        out += b"YPTS" + struct.pack("<Hxx", h)
    if scal != 30.0:
        out += b"SCAL" + struct.pack("<3f", scal, scal, scal)
    if raw is not None:
        hs, bh = raw
        phys = a.astype("<i2")
    else:
        lo, hi = span if span is not None else (float(a.min()),
                                                float(a.max()))
        span_px = (lo / scal, hi / scal)
        hs, bh = _search_hs_bh(span_px[0], span_px[1])
        f = a / scal
        phys = ((f - bh) * 65536.0 / hs).astype(np.int64)
        phys = np.clip(phys, -32768, 32767).astype("<i2")
    out += b"ALTW" + struct.pack("<hh", hs, bh)
    out += phys[::-1, :].tobytes()  # bottom-up
    out += b"EOF "
    return bytes(out)


def scan_terragen(spark, path_glob: str):
    """Glob of .ter Terragen files -> images-table rows (raw int16
    values as float64, plus band scale/offset columns)."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr, gt, scale, offset, scal = parse_terragen(
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


def write_terragen(df, out_dir: str, scal: float = 30.0,
                   height_scale: int | None = None,
                   base_height: int = 0):
    """One .ter per row, task-written. With ``height_scale`` given the
    rows are written in RAW mode (values already physical int16);
    otherwise each row goes through the reference's span search."""
    def dump_row(r, arr, gt, nd, out_dir):
        raw = ((height_scale, base_height)
               if height_scale is not None else None)
        path = os.path.join(out_dir, f"{r.image_id}.ter")
        with open(path, "wb") as f:
            f.write(format_terragen(np.squeeze(arr), scal=scal,
                                    raw=raw))
        return path

    return write_files(df, out_dir, dump_row)
