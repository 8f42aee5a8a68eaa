"""MapInfo TAB binary driver (.tab + .dat + .map + .id) — built from the
published MITAB file-format description; reference semantics:
ogr/ogrsf_frmts/mitab/mitab_mapheaderblock.cpp (header layout at 0x100+,
Int2Coordsys quadrant rules, object-size table in the header's first 256
bytes masked & 0x7f), mitab_mapobjectblock.cpp (per-type object record
layouts, 20-byte object-block header, deleted-id mask 0xC0000000,
compressed int16 coords relative to the block center),
mitab_mapcoordblock.cpp (8-byte coord-block header, next-block chaining,
section headers with numVertices/numHoles/MBR/dataOffset),
mitab_datfile.cpp (native .dat: Integer/SmallInt/LargeInt/Float/Date/
Time/DateTime stored BINARY little-endian inside 'C' dBASE slots),
mitab_feature.cpp (rect/roundrect/ellipse/arc/text parametric geometry
synthesis — identical to the MIF path already in formats/mif.py — and
the region numHoles ring grouping unique to the binary format).

Geometry is re-expressed as WKB rows over a one-task-per-file
distributed scan; the writer emits an uncompressed-subset TAB dataset
(SYMBOL points, PLINE, REGION) readable back through the scan.
"""

from __future__ import annotations

import math
import os
import re
import struct

import numpy as np
import pandas as pd

from .. import geom
from ._util import glob_paths, local_path, scan_files
from .mif import _close, _generate_arc

HDR_MAGIC = 42424242

# Geometry type codes (mitab_priv.h TABGeomType); _C = compressed twin.
T_SYMBOL_C, T_SYMBOL = 0x01, 0x02
T_LINE_C, T_LINE = 0x04, 0x05
T_PLINE_C, T_PLINE = 0x07, 0x08
T_ARC_C, T_ARC = 0x0A, 0x0B
T_REGION_C, T_REGION = 0x0D, 0x0E
T_TEXT_C, T_TEXT = 0x10, 0x11
T_RECT_C, T_RECT = 0x13, 0x14
T_ROUNDRECT_C, T_ROUNDRECT = 0x16, 0x17
T_ELLIPSE_C, T_ELLIPSE = 0x19, 0x1A
T_MULTIPLINE_C, T_MULTIPLINE = 0x25, 0x26
T_FONTSYMBOL_C, T_FONTSYMBOL = 0x28, 0x29
T_CUSTOMSYMBOL_C, T_CUSTOMSYMBOL = 0x2B, 0x2C
T_V450_REGION_C, T_V450_REGION = 0x2E, 0x2F
T_V450_MULTIPLINE_C, T_V450_MULTIPLINE = 0x31, 0x32
T_MULTIPOINT_C, T_MULTIPOINT = 0x34, 0x35
T_COLLECTION_C, T_COLLECTION = 0x37, 0x38
T_V800_REGION_C, T_V800_REGION = 0x3D, 0x3E
T_V800_MULTIPLINE_C, T_V800_MULTIPLINE = 0x40, 0x41
T_V800_MULTIPOINT_C, T_V800_MULTIPOINT = 0x43, 0x44
T_V800_COLLECTION_C, T_V800_COLLECTION = 0x46, 0x47

_REGIONS = {T_REGION, T_REGION_C, T_V450_REGION, T_V450_REGION_C,
            T_V800_REGION, T_V800_REGION_C}
_MULTIPLINES = {T_MULTIPLINE, T_MULTIPLINE_C, T_V450_MULTIPLINE,
                T_V450_MULTIPLINE_C, T_V800_MULTIPLINE, T_V800_MULTIPLINE_C}
_MULTIPOINTS = {T_MULTIPOINT, T_MULTIPOINT_C, T_V800_MULTIPOINT,
                T_V800_MULTIPOINT_C}
_COLLECTIONS = {T_COLLECTION, T_COLLECTION_C, T_V800_COLLECTION,
                T_V800_COLLECTION_C}
_POINTS = {T_SYMBOL, T_SYMBOL_C, T_FONTSYMBOL, T_FONTSYMBOL_C,
           T_CUSTOMSYMBOL, T_CUSTOMSYMBOL_C}

# Object-record sizes (including the 5-byte type+id prefix) for every
# object type, as stored in the first 73 bytes of every .map header
# block (mitab_mapheaderblock.cpp gabyObjLenArray — format data carried
# verbatim in each file; bit 0x80 marks types with coord-block data).
_OBJ_LEN = bytes([
    0x00, 0x0A, 0x0E, 0x15, 0x0E, 0x16, 0x1B, 0xA2, 0xA6, 0xAB, 0x1A,
    0x2A, 0x2F, 0xA5, 0xA9, 0xB5, 0xA7, 0xB5, 0xD9, 0x0F, 0x17, 0x23,
    0x13, 0x1F, 0x2B, 0x0F, 0x17, 0x23, 0x4F, 0x57, 0x63, 0x9C, 0xA4,
    0xA9, 0xA0, 0xA8, 0xAD, 0xA4, 0xA8, 0xAD, 0x16, 0x1A, 0x39, 0x0D,
    0x11, 0x37, 0xA5, 0xA9, 0xB5, 0xA4, 0xA8, 0xAD, 0xB2, 0xB6, 0xDC,
    0xBD, 0xBD, 0xF4, 0x2B, 0x2F, 0x55, 0xC8, 0xCC, 0xD8, 0xC7, 0xCB,
    0xD0, 0xD3, 0xD7, 0xFD, 0xC2, 0xC2, 0xF9,
])


def _geom_version(t: int) -> int:
    if t >= T_V800_REGION_C:
        return 800
    if t >= T_MULTIPOINT_C:
        return 650
    if t >= T_V450_REGION_C:
        return 450
    return 300


# ---------------------------------------------------------------------------
# .tab ASCII header
# ---------------------------------------------------------------------------

_FIELD_RE = re.compile(
    r"^\s*(\w+)\s+(Char|Integer|Smallint|LargeInt|Float|Decimal|DateTime"
    r"|Date|Time|Logical)\s*(\(([^)]*)\))?", re.I)


def parse_tab_def(text: str):
    """.tab Definition Table -> [(name, tabtype, width, prec)]."""
    fields = []
    in_fields = False
    for line in text.splitlines():
        low = line.strip().lower()
        if low.startswith("fields"):
            in_fields = True
            continue
        if in_fields:
            m = _FIELD_RE.match(line)
            if not m:
                if low and not low.startswith(";"):
                    break
                continue
            name, ftype = m.group(1), m.group(2).lower()
            args = [a.strip() for a in (m.group(4) or "").split(",") if a.strip()]
            width = int(args[0]) if args else 0
            prec = int(args[1]) if len(args) > 1 else 0
            fields.append((name, ftype, width, prec))
    return fields


# ---------------------------------------------------------------------------
# Native .dat (dBASE container, binary-packed MapInfo values)
# ---------------------------------------------------------------------------

def read_dat(buf: bytes, fields):
    """Native .dat records -> list of per-field python lists, decoding
    the binary slots (mitab_datfile.cpp Read*Field: Integer=int32 LE in
    a 4-byte 'C' slot, SmallInt=int16, LargeInt=int64, Float=double,
    Date=int16 year+u8 month+u8 day, Time=int32 ms, DateTime=Date+Time,
    Logical=1 nonzero byte; Decimal stays ASCII 'N')."""
    nrec, hsize, rsize = struct.unpack_from("<IHH", buf, 4)
    cols: list[list] = [[] for _ in fields]
    for i in range(nrec):
        base = hsize + i * rsize + 1  # byte 0 = deletion flag
        p = base
        for j, (name, ftype, width, prec) in enumerate(fields):
            raw = buf[p:p + _dat_width(ftype, width)]
            p += len(raw)
            cols[j].append(_decode_dat_value(ftype, raw))
    return nrec, cols


def _dat_width(ftype: str, width: int) -> int:
    return {"integer": 4, "smallint": 2, "largeint": 8, "float": 8,
            "date": 4, "time": 4, "datetime": 8, "logical": 1,
            }.get(ftype, width)


def _decode_dat_value(ftype: str, raw: bytes):
    if ftype == "char":
        s = raw.split(b"\x00")[0].decode("latin-1").rstrip()
        return s if s else None
    if ftype == "integer":
        return struct.unpack("<i", raw)[0]
    if ftype == "smallint":
        return struct.unpack("<h", raw)[0]
    if ftype == "largeint":
        return struct.unpack("<q", raw)[0]
    if ftype == "float":
        return struct.unpack("<d", raw)[0]
    if ftype == "decimal":
        s = raw.decode("ascii", "replace").strip()
        return float(s) if s else None
    if ftype == "date":
        y, mo, d = struct.unpack("<hBB", raw)
        if y == 0 and mo == 0 and d == 0:
            return None
        return f"{y:04d}{mo:02d}{d:02d}"
    if ftype == "time":
        ms = struct.unpack("<i", raw)[0]
        if ms < 0 or ms > 86400000:
            return None
        return _fmt_time_ms(ms)
    if ftype == "datetime":
        y, mo, d, ms = struct.unpack("<hBBi", raw)
        if y == 0 and mo == 0 and d == 0:
            return None
        return f"{y:04d}{mo:02d}{d:02d}{_fmt_time_ms(ms)}"
    if ftype == "logical":
        return raw[0] not in (0, 0x20, ord("F"), ord("N"), ord("f"), ord("n"))
    return None


def _fmt_time_ms(ms: int) -> str:
    h, rem = divmod(ms, 3600000)
    m, rem = divmod(rem, 60000)
    s, msec = divmod(rem, 1000)
    return f"{h:02d}{m:02d}{s:02d}{msec:03d}"


def _spark_type(ftype: str) -> str:
    return {"integer": "int", "smallint": "int", "largeint": "long",
            "float": "double", "decimal": "double", "logical": "boolean",
            }.get(ftype, "string")


# ---------------------------------------------------------------------------
# .map reading
# ---------------------------------------------------------------------------

class _MapHeader:
    """Header block fields + coordinate transforms
    (mitab_mapheaderblock.cpp InitBlockFromData / Int2Coordsys)."""

    def __init__(self, buf: bytes):
        if struct.unpack_from("<i", buf, 0x100)[0] != HDR_MAGIC:
            raise ValueError("not a MapInfo .map file (bad magic)")
        self.obj_len = bytes(buf[:256])
        self.version, self.block_size = struct.unpack_from("<hh", buf, 0x104)
        if self.block_size < 512:
            raise ValueError(f"invalid .map block size {self.block_size}")
        (self.ixmin, self.iymin, self.ixmax, self.iymax) = struct.unpack_from(
            "<4i", buf, 0x110)
        (self.first_index, self.first_garbage, self.first_tool,
         self.n_points, self.n_lines, self.n_regions, self.n_texts,
         self.max_coord_buf) = struct.unpack_from("<8i", buf, 0x130)
        (self.dist_units, self.max_depth, self.coord_prec, self.quadrant,
         self.reflect_x) = struct.unpack_from("<5B", buf, 0x15E)
        self.proj_id, self.ellipsoid_id, self.units_id = struct.unpack_from(
            "<3B", buf, 0x16D)
        (self.xscale, self.yscale, self.xdispl, self.ydispl
         ) = struct.unpack_from("<4d", buf, 0x170)
        if self.xscale == 0.0 or self.yscale == 0.0:
            raise ValueError(".map null x/y scale")
        if self.version <= 100:
            self.xscale = self.yscale = 10.0 ** self.coord_prec
            self.xdispl = self.ydispl = 0.0
        # mitab_tabfile.cpp: output precision snapped to the scale decade
        self.xprec = 10.0 ** round(math.log10(self.xscale))
        self.yprec = 10.0 ** round(math.log10(self.yscale))

    def obj_size(self, t: int) -> int:
        return self.obj_len[t] & 0x7F if t < len(self.obj_len) else 0

    def int2xy(self, ix, iy):
        ix = np.asarray(ix, dtype=np.float64)
        iy = np.asarray(iy, dtype=np.float64)
        q = self.quadrant
        if q in (2, 3, 0):
            x = -(ix + self.xdispl) / self.xscale
        else:
            x = (ix - self.xdispl) / self.xscale
        if q in (3, 4, 0):
            y = -(iy + self.ydispl) / self.yscale
        else:
            y = (iy - self.ydispl) / self.yscale
        if self.xprec > 0 and self.yprec > 0:
            x = np.round(x * self.xprec) / self.xprec
            y = np.round(y * self.yprec) / self.yprec
        return x, y

    def int2dist(self, ix, iy):
        return ix / self.xscale, iy / self.yscale


class _Cursor:
    """Sequential field reader inside one object block."""

    def __init__(self, buf, pos: int, center_xy):
        self.buf, self.pos = buf, pos
        self.cx, self.cy = center_xy

    def u8(self):
        v = self.buf[self.pos]
        self.pos += 1
        return v

    def i16(self):
        v = struct.unpack_from("<h", self.buf, self.pos)[0]
        self.pos += 2
        return v

    def i32(self):
        v = struct.unpack_from("<i", self.buf, self.pos)[0]
        self.pos += 4
        return v

    def coord(self, compressed: bool):
        if compressed:
            return self.cx + self.i16(), self.cy + self.i16()
        return self.i32(), self.i32()


class _CoordStream:
    """Byte stream over chained type-3 coordinate blocks
    (mitab_mapcoordblock.cpp ReadBytes / GetCoordBlock)."""

    def __init__(self, data: bytes, block_size: int, ptr: int):
        self.data = data
        self.bs = block_size
        if ptr % block_size == 0:
            ptr += 8  # skip the coord-block header
        self.pos = ptr
        self._sync_block()
        self.org = (0, 0)  # compressed-coordinate origin, set per object

    def _sync_block(self):
        base = (self.pos // self.bs) * self.bs
        if self.data[base] != 3:
            raise ValueError(f"expected coord block at {base}, "
                             f"got type {self.data[base]}")
        ndata, = struct.unpack_from("<h", self.data, base + 2)
        self.next, = struct.unpack_from("<i", self.data, base + 4)
        self.end = base + 8 + ndata

    def read(self, n: int) -> bytes:
        out = bytearray()
        while n > 0:
            if self.pos >= self.end:
                if self.next <= 0:
                    raise ValueError("coord stream exhausted")
                self.pos = self.next + 8
                self._sync_block()
            take = min(n, self.end - self.pos)
            out += self.data[self.pos:self.pos + take]
            self.pos += take
            n -= take
        return bytes(out)

    def i16(self):
        return struct.unpack("<h", self.read(2))[0]

    def i32(self):
        return struct.unpack("<i", self.read(4))[0]

    def coord(self, compressed: bool):
        if compressed:
            return self.org[0] + self.i16(), self.org[1] + self.i16()
        return self.i32(), self.i32()

    def coords(self, n: int, compressed: bool) -> np.ndarray:
        """n (x, y) int coordinate pairs as an (n, 2) int64 array."""
        if compressed:
            raw = np.frombuffer(self.read(4 * n), dtype="<i2").astype(np.int64)
            pts = raw.reshape(n, 2)
            return pts + np.array([self.org], dtype=np.int64)
        raw = np.frombuffer(self.read(8 * n), dtype="<i4").astype(np.int64)
        return raw.reshape(n, 2)

    def sec_hdrs(self, n_sections: int, version: int, compressed: bool):
        """Section headers (ReadCoordSecHdrs): -> [(numVertices,
        numHoles, vertex_offset)] with vertex offsets in uncompressed
        units relative to the end of the headers."""
        sec_size = 28 if version >= 450 else 24
        total_hdr = sec_size * n_sections
        out = []
        for _ in range(n_sections):
            nv = self.i32() if version >= 450 else self.i16()
            nh = self.i32() if version >= 800 else self.i16()
            self.coord(compressed)  # section MBR min
            self.coord(compressed)  # section MBR max
            data_off = self.i32()
            out.append((nv, nh, (data_off - total_hdr) // 8))
        return out


def _pline_header(cur: _Cursor, t: int, compressed: bool):
    """Shared PLINE/REGION/MULTIPLINE object fields
    (TABMAPObjPLine::ReadObj) -> (coord_ptr, n_sections, compr_org)."""
    coord_ptr = cur.i32()
    coord_size = cur.i32() & 0x7FFFFFFF  # mask the smooth flag
    if t in (T_PLINE, T_PLINE_C):
        n_sections = 1
    elif t in (T_V800_REGION, T_V800_REGION_C, T_V800_MULTIPLINE,
               T_V800_MULTIPLINE_C):
        n_sections = cur.i32()
        cur.pos += 33
    else:
        n_sections = cur.i16()
    if compressed:
        cur.i16(), cur.i16()  # label point (relative to compr org)
        org = (cur.i32(), cur.i32())
        cur.pos += 8  # int16 MBR
    else:
        cur.pos += 8  # label point
        mnx, mny, mxx, mxy = cur.i32(), cur.i32(), cur.i32(), cur.i32()
        org = ((mnx + mxx) // 2, (mny + mxy) // 2)
    cur.u8()  # pen
    if t in _REGIONS:
        cur.u8()  # brush
    return coord_ptr, coord_size, n_sections, org


def _read_sections(stream: _CoordStream, n_sections: int, version: int,
                   compressed: bool):
    """Section headers + all vertices -> list of (n, 2) int arrays."""
    hdrs = stream.sec_hdrs(n_sections, version, compressed)
    total = sum(h[0] for h in hdrs)
    pts = stream.coords(total, compressed)
    return [(pts[off:off + nv], nh) for nv, nh, off in hdrs]


def _region_wkb(hdr: _MapHeader, sections) -> bytes | None:
    """numHoles ring grouping (TABRegion::ReadGeometryFromMAPFile):
    each outer ring is followed by its numHoles holes."""
    polys = []
    i = 0
    while i < len(sections):
        ring, nholes = sections[i]
        rings = [ring] + [sections[i + 1 + j][0]
                          for j in range(min(nholes, len(sections) - i - 1))]
        i += 1 + nholes
        out = []
        for r in rings:
            x, y = hdr.int2xy(r[:, 0], r[:, 1])
            pts = np.column_stack([x, y])
            if len(pts) and not np.array_equal(pts[0], pts[-1]):
                pts = np.vstack([pts, pts[:1]])
            out.append(pts)
        polys.append(out)
    if not polys:
        return None
    if len(polys) == 1:
        return geom.wkb_polygon(polys[0])
    return geom.wkb_multipolygon(polys)


def _multipline_wkb(hdr: _MapHeader, sections) -> bytes | None:
    lines = []
    for ring, _ in sections:
        x, y = hdr.int2xy(ring[:, 0], ring[:, 1])
        lines.append(np.column_stack([x, y]))
    if not lines:
        return None
    if len(lines) == 1:
        return geom.wkb_linestring(lines[0])
    body = b"".join(geom.wkb_linestring(p) for p in lines)
    return struct.pack("<BII", 1, geom.WKB_MULTILINESTRING, len(lines)) + body


def _multipoint_wkb(hdr: _MapHeader, pts: np.ndarray) -> bytes:
    x, y = hdr.int2xy(pts[:, 0], pts[:, 1])
    body = b"".join(geom.wkb_point(float(a), float(b)) for a, b in zip(x, y))
    return struct.pack("<BII", 1, geom.WKB_MULTIPOINT, len(x)) + body


def _arc_angles(hdr: _MapHeader, a_raw: int, b_raw: int):
    """Tenth-of-degree angles + quadrant transforms
    (TABArc::ReadGeometryFromMAPFile)."""
    q = hdr.quadrant
    if q in (1, 3, 0):
        a0, a1 = a_raw / 10.0, b_raw / 10.0
    else:
        a0, a1 = b_raw / 10.0, a_raw / 10.0
    if q in (2, 3, 0):
        a0 = (180.0 - a0) if a0 <= 180.0 else (540.0 - a0)
        a1 = (180.0 - a1) if a1 <= 180.0 else (540.0 - a1)
    if q in (3, 4, 0):
        a0, a1 = 360.0 - a0, 360.0 - a1
    return a0, a1


def parse_map(map_bytes: bytes) -> dict[int, bytes | None]:
    """Every live object in the .map -> {feature id: WKB or None}."""
    hdr = _MapHeader(map_bytes)
    bs = hdr.block_size
    out: dict[int, bytes | None] = {}
    for base in range(bs, len(map_bytes), bs):
        if map_bytes[base] != 2:  # object blocks only
            continue
        ndata, = struct.unpack_from("<h", map_bytes, base + 2)
        center = struct.unpack_from("<2i", map_bytes, base + 4)
        p = 20
        while p + 5 < ndata + 20:
            t = map_bytes[base + p]
            if t == 0 or t >= len(_OBJ_LEN):
                break
            size = hdr.obj_size(t)
            if size <= 0:
                break
            oid, = struct.unpack_from("<i", map_bytes, base + p + 1)
            cur = _Cursor(map_bytes, base + p + 5, center)
            if (oid & 0xC0000000) == 0:
                out[oid] = _parse_object(hdr, map_bytes, t, cur)
            p += size
    return out


def _parse_object(hdr: _MapHeader, data: bytes, t: int,
                  cur: _Cursor) -> bytes | None:
    compressed = t in (T_SYMBOL_C, T_LINE_C, T_PLINE_C, T_ARC_C, T_REGION_C,
                       T_TEXT_C, T_RECT_C, T_ROUNDRECT_C, T_ELLIPSE_C,
                       T_MULTIPLINE_C, T_FONTSYMBOL_C, T_CUSTOMSYMBOL_C,
                       T_V450_REGION_C, T_V450_MULTIPLINE_C, T_MULTIPOINT_C,
                       T_COLLECTION_C, T_V800_REGION_C, T_V800_MULTIPLINE_C,
                       T_V800_MULTIPOINT_C, T_V800_COLLECTION_C)
    bs = hdr.block_size

    if t in (T_SYMBOL, T_SYMBOL_C, T_CUSTOMSYMBOL, T_CUSTOMSYMBOL_C):
        if t in (T_CUSTOMSYMBOL, T_CUSTOMSYMBOL_C):
            cur.pos += 2  # unknown + custom style
        ix, iy = cur.coord(compressed)
        x, y = hdr.int2xy(ix, iy)
        return geom.wkb_point(float(x), float(y))

    if t in (T_FONTSYMBOL, T_FONTSYMBOL_C):
        cur.pos += 12  # symbol, size, style, RGB, 3 unknown, angle
        ix, iy = cur.coord(compressed)
        x, y = hdr.int2xy(ix, iy)
        return geom.wkb_point(float(x), float(y))

    if t in (T_LINE, T_LINE_C):
        x1, y1 = cur.coord(compressed)
        x2, y2 = cur.coord(compressed)
        ax, ay = hdr.int2xy([x1, x2], [y1, y2])
        return geom.wkb_linestring(np.column_stack([ax, ay]))

    if t in (T_PLINE, T_PLINE_C):
        coord_ptr, coord_size, _, org = _pline_header(cur, t, compressed)
        n = coord_size // (4 if compressed else 8)
        stream = _CoordStream(data, bs, coord_ptr)
        stream.org = org
        pts = stream.coords(n, compressed)
        x, y = hdr.int2xy(pts[:, 0], pts[:, 1])
        return geom.wkb_linestring(np.column_stack([x, y]))

    if t in _MULTIPLINES or t in _REGIONS:
        coord_ptr, _, n_sections, org = _pline_header(cur, t, compressed)
        stream = _CoordStream(data, bs, coord_ptr)
        stream.org = org
        sections = _read_sections(stream, n_sections, _geom_version(t),
                                  compressed)
        if t in _REGIONS:
            return _region_wkb(hdr, sections)
        return _multipline_wkb(hdr, sections)

    if t in _MULTIPOINTS:
        coord_ptr = cur.i32()
        n = cur.i32()
        cur.pos += 15  # 3 unknown int32 + 3 unknown bytes
        if t in (T_V800_MULTIPOINT, T_V800_MULTIPOINT_C):
            cur.pos += 33
        cur.pos += 2  # symbol id + unknown
        if compressed:
            cur.pos += 4  # label
            org = (cur.i32(), cur.i32())
        else:
            cur.pos += 8
            org = (0, 0)
        stream = _CoordStream(data, bs, coord_ptr)
        stream.org = org
        return _multipoint_wkb(hdr, stream.coords(n, compressed))

    if t in (T_RECT, T_RECT_C, T_ROUNDRECT, T_ROUNDRECT_C):
        rx = ry = 0.0
        if t in (T_ROUNDRECT, T_ROUNDRECT_C):
            cw = cur.i16() if compressed else cur.i32()
            ch = cur.i16() if compressed else cur.i32()
            rx, ry = hdr.int2dist(cw, ch)
            rx, ry = rx / 2.0, ry / 2.0
        ix1, iy1 = cur.coord(compressed)
        ix2, iy2 = cur.coord(compressed)
        xs, ys = hdr.int2xy([ix1, ix2], [iy1, iy2])
        xmin, xmax = min(xs), max(xs)
        ymin, ymax = min(ys), max(ys)
        if rx != 0.0 and ry != 0.0:
            rx = min(rx, (xmax - xmin) / 2.0)
            ry = min(ry, (ymax - ymin) / 2.0)
            pi = math.pi
            pts = (_generate_arc(45, xmin + rx, ymin + ry, rx, ry, pi, 1.5 * pi)
                   + _generate_arc(45, xmax - rx, ymin + ry, rx, ry,
                                   1.5 * pi, 2 * pi)
                   + _generate_arc(45, xmax - rx, ymax - ry, rx, ry,
                                   0, 0.5 * pi)
                   + _generate_arc(45, xmin + rx, ymax - ry, rx, ry,
                                   0.5 * pi, pi))
            return geom.wkb_polygon([np.asarray(_close(pts))])
        return geom.wkb_polygon([np.array(
            [[xmin, ymin], [xmax, ymin], [xmax, ymax],
             [xmin, ymax], [xmin, ymin]])])

    if t in (T_ELLIPSE, T_ELLIPSE_C):
        ix1, iy1 = cur.coord(compressed)
        ix2, iy2 = cur.coord(compressed)
        xs, ys = hdr.int2xy([ix1, ix2], [iy1, iy2])
        cx, cy = (xs[0] + xs[1]) / 2.0, (ys[0] + ys[1]) / 2.0
        rx, ry = abs(xs[1] - xs[0]) / 2.0, abs(ys[1] - ys[0]) / 2.0
        pts = _generate_arc(180, cx, cy, rx, ry, 0.0, 2.0 * math.pi)
        return geom.wkb_polygon([np.asarray(_close(pts))])

    if t in (T_ARC, T_ARC_C):
        a_raw, b_raw = cur.i16(), cur.i16()
        ix1, iy1 = cur.coord(compressed)
        ix2, iy2 = cur.coord(compressed)
        xs, ys = hdr.int2xy([ix1, ix2], [iy1, iy2])
        a0, a1 = _arc_angles(hdr, a_raw, b_raw)
        cx, cy = (xs[0] + xs[1]) / 2.0, (ys[0] + ys[1]) / 2.0
        rx, ry = abs(xs[1] - xs[0]) / 2.0, abs(ys[1] - ys[0]) / 2.0
        sweep = (a1 + 360.0 - a0) if a1 < a0 else (a1 - a0)
        n = max(2, int(abs(sweep) / 2.0) + 1)
        pts = _generate_arc(n, cx, cy, rx, ry, math.radians(a0),
                            math.radians(a1))
        return geom.wkb_linestring(np.asarray(pts))

    if t in (T_TEXT, T_TEXT_C):
        cur.i32()  # string ptr
        cur.i16()  # string length
        cur.i16()  # alignment
        angle = cur.i16() / 10.0
        cur.pos += 8  # font style + fg/bg RGB
        cur.coord(compressed)  # line end point
        ih = cur.i16() if compressed else cur.i32()
        _, height = hdr.int2dist(0, ih)
        cur.u8()  # font id
        ix1, iy1 = cur.coord(compressed)
        ix2, iy2 = cur.coord(compressed)
        xs, ys = hdr.int2xy([ix1, ix2], [iy1, iy2])
        xmin, xmax = min(xs), max(xs)
        ymin, ymax = min(ys), max(ys)
        s, c = math.sin(math.radians(angle)), math.cos(math.radians(angle))
        if s > 0.0 and c > 0.0:
            dx, dy = xmin + height * s, ymin
        elif s > 0.0 and c < 0.0:
            dx, dy = xmax, ymin - height * c
        elif s < 0.0 and c < 0.0:
            dx, dy = xmax + height * s, ymax
        else:
            dx, dy = xmin, ymax - height * c
        return geom.wkb_point(dx, dy)

    if t in _COLLECTIONS:
        version = _geom_version(t)
        coord_ptr = cur.i32()
        n_mpoints = cur.i32()
        cur.i32()  # region data size
        cur.i32()  # polyline data size
        if version < 800:
            n_reg, n_pline = cur.i16(), cur.i16()
        else:
            n_reg, n_pline = cur.i32(), cur.i32()
            cur.u8()
        cur.pos += 15  # 3 unknown int32 + 3 unknown bytes
        cur.pos += 5   # mpoint symbol, unknown, region/pline pens, brush
        if compressed:
            org = (cur.i32(), cur.i32())
        else:
            org = (0, 0)
        sub_version = 450 if version < 800 else 800
        stream = _CoordStream(data, bs, coord_ptr)
        stream.org = org
        parts = []
        if n_reg > 0:
            if version >= 800:
                stream.i32()
            _read_mini_hdr(stream, compressed)
            sections = _read_sections(stream, n_reg, sub_version, compressed)
            w = _region_wkb(hdr, sections)
            if w:
                parts.append(w)
        if n_pline > 0:
            if version >= 800:
                stream.i32()
            _read_mini_hdr(stream, compressed)
            sections = _read_sections(stream, n_pline, sub_version,
                                      compressed)
            w = _multipline_wkb(hdr, sections)
            if w:
                parts.append(w)
        if n_mpoints > 0:
            _read_mini_hdr(stream, compressed)
            parts.append(_multipoint_wkb(
                hdr, stream.coords(n_mpoints, compressed)))
        return (struct.pack("<BII", 1, geom.WKB_GEOMETRYCOLLECTION,
                            len(parts)) + b"".join(parts))

    return None  # unsupported type -> NONE geometry, like the reference


def _read_mini_hdr(stream: _CoordStream, compressed: bool):
    """Collection part mini-header: label + MBR
    (TABCollection::ReadLabelAndMBR)."""
    for _ in range(3):
        stream.coord(compressed)


# ---------------------------------------------------------------------------
# Dataset-level read
# ---------------------------------------------------------------------------

def _sibling(path: str, ext: str) -> str | None:
    stem = os.path.splitext(path)[0]
    for e in (ext.lower(), ext.upper()):
        cand = stem + e
        if os.path.exists(cand):
            return cand
    return None


def read_tab(tab_path: str):
    """-> (fields, records) where records are dicts with 'geometry'
    (WKB or None) + typed attributes, ordered by feature id."""
    with open(tab_path, encoding="latin-1") as f:
        fields = parse_tab_def(f.read())
    dat = _sibling(tab_path, ".dat")
    nrec, cols = 0, []
    if dat:
        with open(dat, "rb") as f:
            nrec, cols = read_dat(f.read(), fields)
    geoms: dict[int, bytes | None] = {}
    map_path = _sibling(tab_path, ".map")
    if map_path:
        with open(map_path, "rb") as f:
            geoms = parse_map(f.read())
    recs = []
    for i in range(nrec):
        rec = {"geometry": geoms.get(i + 1)}
        for j, (name, ftype, w, p) in enumerate(fields):
            rec[name] = cols[j][i]
        recs.append(rec)
    return fields, recs


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

def scan_tab(spark, path_glob: str):
    """Glob of .tab datasets -> (geometry binary<WKB>, <typed attrs>);
    one task per dataset, schema from the first .tab header (tiny ASCII
    read driver-side; .map/.dat bytes are only touched in tasks)."""
    paths = glob_paths(path_glob)
    with open(paths[0], encoding="latin-1") as f:
        fields = parse_tab_def(f.read())
    schema = "geometry binary" + "".join(
        f", `{name}` {_spark_type(t)}" for name, t, w, p in fields)
    names = ["geometry"] + [f[0] for f in fields]

    def read(r):
        return [[rec.get(c) for c in names] for rec in read_tab(r.path)[1]]

    return scan_files(spark, paths, read, schema)


# ---------------------------------------------------------------------------
# Writer (uncompressed subset: SYMBOL points, PLINE, REGION)
# ---------------------------------------------------------------------------

_BS = 512


def write_tab(df, out_path: str, scale: float = 1.0e6):
    """Single-dataset TAB sink: collects the frame driver-side (one-file
    deliverable, like the other single-file vector sinks) and emits
    .tab/.dat/.id/.map with uncompressed SYMBOL / PLINE / REGION
    objects, native binary .dat slots, quadrant 1, XScale=YScale=scale.
    Readable back through scan_tab (and laid out per the published
    block structure: 512-byte blocks, object records sized by the
    header table, coordinate data in chained type-3 blocks)."""
    pdf = df.toPandas()
    stem = os.path.splitext(local_path(out_path))[0]
    fields = []
    for name, dtype in zip(pdf.columns, pdf.dtypes):
        if name == "geometry":
            continue
        k = str(dtype)
        if k.startswith(("int64", "int32", "Int")):
            fields.append((name, "integer", 4, 0))
        elif k.startswith("float"):
            fields.append((name, "float", 8, 0))
        elif k == "bool":
            fields.append((name, "logical", 1, 0))
        else:
            width = max([1] + [len(str(v).encode("latin-1", "replace"))
                               for v in pdf[name] if v is not None])
            fields.append((name, "char", min(width, 254), 0))

    _write_tab_header(stem + ".tab", fields)
    _write_dat(stem + ".dat", fields, pdf)
    _write_map_and_id(stem, pdf.get("geometry"), len(pdf), scale)


def _write_tab_header(path: str, fields):
    lines = ["!table", "!version 300", '!charset Neutral', "",
             "Definition Table",
             '  Type NATIVE Charset "Neutral"',
             f"  Fields {len(fields)}"]
    for name, ftype, w, p in fields:
        if ftype == "char":
            lines.append(f"    {name} Char ({w}) ;")
        elif ftype == "integer":
            lines.append(f"    {name} Integer ;")
        elif ftype == "float":
            lines.append(f"    {name} Float ;")
        elif ftype == "logical":
            lines.append(f"    {name} Logical ;")
    with open(path, "w", encoding="latin-1") as f:
        f.write("\n".join(lines) + "\n")


def _write_dat(path: str, fields, pdf):
    nrec = len(pdf)
    rsize = 1 + sum(_dat_width(t, w) for _, t, w, _ in fields)
    hsize = 32 + 32 * len(fields) + 1
    out = bytearray()
    out += struct.pack("<B3B I HH 20x", 0x03, 0, 0, 0, nrec, hsize, rsize)
    for name, ftype, w, p in fields:
        ctype = b"L" if ftype == "logical" else b"C"
        out += struct.pack("<11s c 4x BB 14x",
                           name.encode("latin-1")[:10], ctype,
                           _dat_width(ftype, w), p)
    out += b"\x0d"
    for i in range(nrec):
        out += b" "
        for name, ftype, w, p in fields:
            v = pdf[name].iloc[i]
            if ftype == "integer":
                out += struct.pack("<i", 0 if pd.isna(v) else int(v))
            elif ftype == "float":
                out += struct.pack("<d", 0.0 if pd.isna(v) else float(v))
            elif ftype == "logical":
                out += b"\x01" if (v is not None and bool(v)) else b"\x00"
            else:
                s = b"" if v is None else str(v).encode("latin-1", "replace")
                out += s[:w].ljust(w, b"\x00")
    out += b"\x1a"
    with open(path, "wb") as f:
        f.write(out)


def _xy2int(x, y, scale):
    return (int(round(x * scale)), int(round(y * scale)))


def _write_map_and_id(stem: str, geoms, nrec: int, scale: float):
    wkbs = [None] * nrec
    if geoms is not None:
        wkbs = [g if isinstance(g, (bytes, bytearray)) else None
                for g in geoms]

    # Build object payloads + one logical coordinate stream.
    coord_stream = bytearray()
    objs = []  # (type, payload_builder(coord_base_resolver))
    counts = {"pt": 0, "ln": 0, "rg": 0}
    bounds = [2**31 - 1, 2**31 - 1, -2**31, -2**31]

    def upd_bounds(ix, iy):
        bounds[0] = min(bounds[0], ix)
        bounds[1] = min(bounds[1], iy)
        bounds[2] = max(bounds[2], ix)
        bounds[3] = max(bounds[3], iy)

    pending = []  # (fid, type, fixed_payload, coord_off, coord_bytes)
    for fid0, wkb in enumerate(wkbs):
        if not wkb:
            continue
        g = geom.parse_wkb(bytes(wkb))
        if g.kind == geom.WKB_POINT:
            ix, iy = _xy2int(g.parts[0][0], g.parts[0][1], scale)
            upd_bounds(ix, iy)
            pending.append((fid0 + 1, T_SYMBOL,
                            struct.pack("<iiB", ix, iy, 1), None, b""))
            counts["pt"] += 1
        elif g.kind == geom.WKB_LINESTRING:
            pts = [(int(round(x * scale)), int(round(y * scale)))
                   for x, y in g.parts[0]]
            for ix, iy in pts:
                upd_bounds(ix, iy)
            cbytes = b"".join(struct.pack("<ii", ix, iy) for ix, iy in pts)
            coff = len(coord_stream)
            coord_stream += cbytes
            mnx = min(p[0] for p in pts)
            mny = min(p[1] for p in pts)
            mxx = max(p[0] for p in pts)
            mxy = max(p[1] for p in pts)
            fixed_tail = struct.pack("<i ii iiii B", len(cbytes),
                                     pts[0][0], pts[0][1],
                                     mnx, mny, mxx, mxy, 1)
            pending.append((fid0 + 1, T_PLINE, fixed_tail, coff, cbytes))
            counts["ln"] += 1
        elif g.kind in (geom.WKB_POLYGON, geom.WKB_MULTIPOLYGON):
            ringsets = g.polygons()
            sections = []
            for rings in ringsets:
                for j, ring in enumerate(rings):
                    pts = [(int(round(x * scale)), int(round(y * scale)))
                           for x, y in ring]
                    nholes = len(rings) - 1 if j == 0 else 0
                    sections.append((pts, nholes))
            for pts, _ in sections:
                for ix, iy in pts:
                    upd_bounds(ix, iy)
            hdr_size = 24 * len(sections)
            sec_bytes = bytearray()
            vert_bytes = bytearray()
            voff = 0
            allpts = [p for pts, _ in sections for p in pts]
            for pts, nholes in sections:
                mnx = min(p[0] for p in pts)
                mny = min(p[1] for p in pts)
                mxx = max(p[0] for p in pts)
                mxy = max(p[1] for p in pts)
                sec_bytes += struct.pack("<hh iiii i", len(pts), nholes,
                                         mnx, mny, mxx, mxy,
                                         hdr_size + voff * 8)
                vert_bytes += b"".join(struct.pack("<ii", ix, iy)
                                       for ix, iy in pts)
                voff += len(pts)
            cbytes = bytes(sec_bytes + vert_bytes)
            coff = len(coord_stream)
            coord_stream += cbytes
            mnx = min(p[0] for p in allpts)
            mny = min(p[1] for p in allpts)
            mxx = max(p[0] for p in allpts)
            mxy = max(p[1] for p in allpts)
            fixed_tail = struct.pack("<i h ii iiii BB", len(cbytes),
                                     len(sections), allpts[0][0],
                                     allpts[0][1], mnx, mny, mxx, mxy, 1, 1)
            pending.append((fid0 + 1, T_REGION, fixed_tail, coff, cbytes))
            counts["rg"] += 1
        else:
            raise ValueError(
                f"write_tab subset: unsupported WKB geometry type {g.kind}")

    # Lay out: header block, object blocks, then coordinate blocks.
    obj_blocks: list[list[tuple[int, int, bytes, int | None]]] = [[]]
    used = 0
    for fid, t, tail, coff, _ in pending:
        size = _OBJ_LEN[t] & 0x7F
        if used + size > _BS - 20:
            obj_blocks.append([])
            used = 0
        obj_blocks[-1].append((fid, t, tail, coff))
        used += size

    n_obj_blocks = max(1, len(obj_blocks)) if pending else 0
    coord_base = (1 + n_obj_blocks) * _BS

    def coord_addr(logical: int) -> int:
        return coord_base + (logical // (_BS - 8)) * _BS + 8 + (
            logical % (_BS - 8))

    id_entries = {}
    out = bytearray()
    # --- header block ---
    hdrblk = bytearray(_BS)
    hdrblk[:len(_OBJ_LEN)] = _OBJ_LEN
    struct.pack_into("<i", hdrblk, 0x100, HDR_MAGIC)
    struct.pack_into("<hh", hdrblk, 0x104, 500, _BS)
    struct.pack_into("<d", hdrblk, 0x108, 1.0)
    if pending:
        struct.pack_into("<4i", hdrblk, 0x110, *bounds)
    struct.pack_into("<8i", hdrblk, 0x130, 0, 0, 0, counts["pt"],
                     counts["ln"], counts["rg"], 0, 512)
    struct.pack_into("<6B", hdrblk, 0x15E, 7, 1, 3, 1, 0, len(_OBJ_LEN) - 1)
    struct.pack_into("<4d", hdrblk, 0x170, scale, scale, 0.0, 0.0)
    out += hdrblk

    # --- object blocks ---
    for blk in obj_blocks:
        if not blk and len(obj_blocks) == 1 and not pending:
            break
        body = bytearray()
        for fid, t, tail, coff in blk:
            id_entries[fid] = len(out) + 20 + len(body)
            rec = bytes([t]) + struct.pack("<i", fid)
            if coff is not None:
                rec += struct.pack("<i", coord_addr(coff)) + tail
            else:
                rec += tail
            body += rec
        blkbuf = bytearray(_BS)
        blkbuf[0] = 2
        struct.pack_into("<h", blkbuf, 2, len(body))
        struct.pack_into("<2i", blkbuf, 4, 0, 0)
        struct.pack_into("<2i", blkbuf, 12,
                         coord_base if coord_stream else 0,
                         coord_base if coord_stream else 0)
        blkbuf[20:20 + len(body)] = body
        out += blkbuf

    # --- coordinate blocks ---
    total = len(coord_stream)
    nblocks = (total + (_BS - 9)) // (_BS - 8) if total else 0
    for i in range(nblocks):
        chunk = coord_stream[i * (_BS - 8):(i + 1) * (_BS - 8)]
        blkbuf = bytearray(_BS)
        blkbuf[0] = 3
        struct.pack_into("<h", blkbuf, 2, len(chunk))
        nxt = coord_base + (i + 1) * _BS if i + 1 < nblocks else 0
        struct.pack_into("<i", blkbuf, 4, nxt)
        blkbuf[8:8 + len(chunk)] = chunk
        out += blkbuf

    with open(stem + ".map", "wb") as f:
        f.write(out)
    with open(stem + ".id", "wb") as f:
        f.write(b"".join(struct.pack("<i", id_entries.get(fid, 0))
                         for fid in range(1, nrec + 1)))
