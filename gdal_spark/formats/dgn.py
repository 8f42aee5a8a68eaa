"""MicroStation DGN v7 (Intergraph ISFF) vector driver, read side,
written from the published ISFF/dgnlib format description.

Reference semantics: ogr/ogrsf_frmts/dgn/{dgnread.cpp,dgnstroke.cpp,
ogrdgnlayer.cpp}:

- the file is a sequence of elements: 4-byte header (byte0 bits0-5
  level, bit7 complex; byte1 bits0-6 type, bit7 deleted; bytes2-3 =
  LE words-to-follow), terminated by an ``0xFFFF`` marker;
- DGN 32-bit ints are WORD-swapped (two LE uint16 words, HIGH word
  first); DGN doubles are VAX D-floats (decoded via the engine's
  shared VAX math, formats.vicar);
- the TCB (type 9) first element carries dimension (byte 1214 bit
  0x40), subunits-per-master @1112, uor-per-subunit @1116 and the
  VAX-double global origin @1240/1248/1256; every coordinate maps
  as ``master = uor * scale - origin`` with ``scale =
  1/(uor_per_subunit * subunits_per_master)``;
- graphic elements carry a display header: graphic-group @28,
  attribute index @30, properties @32, style/weight packed @34,
  color @35;
- geometry (2-D layouts): LINE (3) two points @36; LINE_STRING (4)
  / SHAPE (6) / CURVE (11) count @36 then points @38 (shapes close
  into polygons like the reference's layer); ELLIPSE (15) VAX-
  double primary/secondary axes @36/44 (x scale), rotation
  centi-arcsecond int @52, VAX-double UOR origin @56/64, stroked
  like the reference (sweep/5 + 1 points, max 90 — the autotest's
  >= 15-point circle); ARC (16) start angle @36 and sweep @40 (bit
  0x80 of byte 41 = negative sweep; zero sweep reads 360), axes
  @44/52, rotation @60, origin @64/72; TEXT (17) font @36,
  justification @37, length/height mults @38/42 (x scale x
  6/1000), rotation @46, origin ints @50/54, char count @58, text
  @60; COMPLEX_CHAIN/SHAPE headers (12/14) splice the vertex
  streams of their complex-flagged children (chain -> linestring,
  shape -> closed polygon);
- features surface with the reference's field set (Type, Level,
  GraphicGroup, ColorIndex, Weight, Style, Text) and geometry
  mapping (text -> POINT at the origin).

Spark shape: one task per file (design files are single-artifact
binaries; multi-file scans fan out per file).
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np

from ._util import glob_paths, scan_files
from .vicar import _vax_d

DGNT_LINE = 3
DGNT_LINE_STRING = 4
DGNT_SHAPE = 6
DGNT_TCB = 9
DGNT_CURVE = 11
DGNT_COMPLEX_CHAIN = 12
DGNT_COMPLEX_SHAPE = 14
DGNT_ELLIPSE = 15
DGNT_ARC = 16
DGNT_TEXT = 17


def _i32(buf: bytes, off: int) -> int:
    v = (buf[off + 2] + (buf[off + 3] << 8) + (buf[off + 1] << 24)
         + (buf[off] << 16))
    return v - 0x100000000 if v >= 0x80000000 else v


def _vax8(buf: bytes, off: int) -> float:
    words = np.frombuffer(buf, "<u2", count=4, offset=off)
    return float(_vax_d(words)[0])


def _elements(buf: bytes):
    """Yield (level, complex_flag, type, deleted, element_bytes)."""
    pos = 0
    n = len(buf)
    while pos + 4 <= n:
        if buf[pos] == 0xFF and buf[pos + 1] == 0xFF:
            return
        words = buf[pos + 2] + buf[pos + 3] * 256
        total = 4 + 2 * words
        elem = buf[pos:pos + total]
        level = buf[pos] & 0x3F
        cplx = bool(buf[pos] & 0x80)
        etype = buf[pos + 1] & 0x7F
        deleted = bool(buf[pos + 1] & 0x80)
        yield level, cplx, etype, deleted, elem
        pos += total


class _Ctx:
    scale = 1.0
    ox = 0.0
    oy = 0.0
    dimension = 2


def _xf(ctx: _Ctx, x: int, y: int):
    return x * ctx.scale - ctx.ox, y * ctx.scale - ctx.oy


def _vertices(ctx, elem):
    count = elem[36] + elem[37] * 256
    pntsize = ctx.dimension * 4
    avail = (len(elem) - 38) // pntsize
    count = min(count, avail)
    return [
        _xf(ctx, _i32(elem, 38 + i * pntsize),
            _i32(elem, 42 + i * pntsize))
        for i in range(count)
    ]


def _stroke_arc(ctx, elem, is_arc: bool):
    if is_arc:
        startang = _i32(elem, 36) / 360000.0
        b41 = elem[41]
        e = bytearray(elem)
        neg = bool(b41 & 0x80)
        e[41] = b41 & 0x7F
        sweep_val = _i32(bytes(e), 40)
        if neg:
            sweep_val = -sweep_val
        sweepang = 360.0 if sweep_val == 0 else sweep_val / 360000.0
        primary = _vax8(elem, 44) * ctx.scale
        secondary = _vax8(elem, 52) * ctx.scale
        rotation = _i32(elem, 60) / 360000.0
        cx = _vax8(elem, 64) * ctx.scale - ctx.ox
        cy = _vax8(elem, 72) * ctx.scale - ctx.oy
    else:
        startang, sweepang = 0.0, 360.0
        primary = _vax8(elem, 36) * ctx.scale
        secondary = _vax8(elem, 44) * ctx.scale
        rotation = _i32(elem, 52) / 360000.0
        cx = _vax8(elem, 56) * ctx.scale - ctx.ox
        cy = _vax8(elem, 64) * ctx.scale - ctx.oy
    npts = int(max(1.0, abs(sweepang) / 5.0) + 1.0)
    npts = min(npts, 90)
    if npts < 2 or primary == 0.0 or secondary == 0.0:
        return None
    step = sweepang / (npts - 1)
    rot = math.radians(rotation)
    cr, sr = math.cos(rot), math.sin(rot)
    pts = []
    for i in range(npts):
        a = math.radians(startang + step * i)
        ex = primary * math.cos(a)
        ey = secondary * math.sin(a)
        pts.append((ex * cr - ey * sr + cx, ex * sr + ey * cr + cy))
    return pts


def parse_dgn(buf: bytes):
    """DGN v7 bytes -> list of feature dicts: {type, level,
    graphic_group, color, weight, style, text, wkb}."""
    from .. import geom

    ctx = _Ctx()
    feats = []
    pending = None  # (is_shape, remaining, verts) for complex hdrs
    pending_meta = None
    for level, cplx, etype, deleted, elem in _elements(buf):
        if etype == DGNT_TCB and not feats and ctx.scale == 1.0:
            if len(elem) >= 1264:
                ctx.dimension = 3 if (elem[1214] & 0x40) else 2
                spm = _i32(elem, 1112)
                ups = _i32(elem, 1116)
                if spm and ups:
                    ctx.scale = 1.0 / (ups * spm)
                ox = _vax8(elem, 1240)
                oy = _vax8(elem, 1248)
                ctx.ox = ox * ctx.scale
                ctx.oy = oy * ctx.scale
            continue
        if deleted:
            continue
        if ctx.dimension != 2:
            raise ValueError("DGN: 3-D design files not supported")
        meta = None
        if len(elem) >= 36:
            meta = {
                "type": etype, "level": level,
                "graphic_group": elem[28] + elem[29] * 256,
                "style": elem[34] & 0x7,
                "weight": (elem[34] & 0xF8) >> 3,
                "color": elem[35],
            }
        if pending is not None and cplx:
            if etype in (DGNT_LINE, DGNT_LINE_STRING, DGNT_SHAPE,
                         DGNT_CURVE):
                if etype == DGNT_LINE:
                    verts = [_xf(ctx, _i32(elem, 36), _i32(elem, 40)),
                             _xf(ctx, _i32(elem, 44), _i32(elem, 48))]
                else:
                    verts = _vertices(ctx, elem)
                if pending[2] and verts and pending[2][-1] == verts[0]:
                    verts = verts[1:]
                pending[2].extend(verts)
            pending = (pending[0], pending[1] - 1, pending[2])
            if pending[1] <= 0:
                is_shape, _, verts = pending
                m = pending_meta
                if len(verts) >= 2:
                    if is_shape:
                        if verts[0] != verts[-1]:
                            verts.append(verts[0])
                        m["wkb"] = geom.wkb_polygon(
                            [np.array(verts, np.float64)])
                    else:
                        m["wkb"] = geom.wkb_linestring(
                            np.array(verts, np.float64))
                    m["text"] = None
                    feats.append(m)
                pending = None
                pending_meta = None
            continue
        if meta is None:
            continue
        wkb = None
        text = None
        if etype == DGNT_LINE and len(elem) >= 52:
            verts = [_xf(ctx, _i32(elem, 36), _i32(elem, 40)),
                     _xf(ctx, _i32(elem, 44), _i32(elem, 48))]
            wkb = geom.wkb_linestring(np.array(verts, np.float64))
        elif etype in (DGNT_LINE_STRING, DGNT_CURVE) and len(elem) >= 46:
            verts = _vertices(ctx, elem)
            if len(verts) >= 2:
                wkb = geom.wkb_linestring(np.array(verts, np.float64))
        elif etype == DGNT_SHAPE and len(elem) >= 46:
            verts = _vertices(ctx, elem)
            if len(verts) >= 3:
                if verts[0] != verts[-1]:
                    verts.append(verts[0])
                wkb = geom.wkb_polygon([np.array(verts, np.float64)])
        elif etype in (DGNT_ELLIPSE, DGNT_ARC) and len(elem) >= 72:
            pts = _stroke_arc(ctx, elem, etype == DGNT_ARC)
            if pts:
                wkb = geom.wkb_linestring(np.array(pts, np.float64))
        elif etype == DGNT_TEXT and len(elem) >= 60:
            num_chars = elem[58]
            x, y = _xf(ctx, _i32(elem, 50), _i32(elem, 54))
            wkb = geom.wkb_point(x, y)
            raw = elem[60:60 + num_chars]
            text = raw.decode("latin-1").rstrip("\0")
        elif etype in (DGNT_COMPLEX_CHAIN, DGNT_COMPLEX_SHAPE) \
                and len(elem) >= 40:
            numelems = elem[38] + elem[39] * 256
            pending = (etype == DGNT_COMPLEX_SHAPE, numelems, [])
            pending_meta = meta
            continue
        else:
            continue
        if wkb is not None:
            meta["wkb"] = wkb
            meta["text"] = text
            feats.append(meta)
    return feats


def scan_dgn(spark, path_glob: str):
    """Glob of .dgn files -> DataFrame (fid, geometry WKB, Type,
    Level, GraphicGroup, ColorIndex, Weight, Style, Text, source),
    one task per file — the reference layer's field set."""
    schema = ("fid bigint, geometry binary, Type int, Level int, "
              "GraphicGroup int, ColorIndex int, Weight int, "
              "Style int, Text string, source string")

    def read(r):
        with open(r.path, "rb") as f:
            buf = f.read()
        stem = os.path.splitext(os.path.basename(r.path))[0]
        return [{"fid": i, "geometry": ft["wkb"],
                 "Type": ft["type"], "Level": ft["level"],
                 "GraphicGroup": ft["graphic_group"],
                 "ColorIndex": ft["color"],
                 "Weight": ft["weight"], "Style": ft["style"],
                 "Text": ft["text"], "source": stem}
                for i, ft in enumerate(parse_dgn(buf))]

    return scan_files(spark, glob_paths(path_glob), read, schema)


__all__ = ["parse_dgn", "scan_dgn"]
_ = struct  # layouts documented above use manual offsets
