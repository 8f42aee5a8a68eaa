"""MapInfo MIF/MID driver — the ASCII interchange half of the MapInfo
format pair (the legacy GIS exchange format alongside Shapefile).

Reference driver: ogr/ogrsf_frmts/mitab/ (mitab_feature_mif.cpp read
semantics, mitab_utils.cpp TABGenerateArc; implemented from the
published MIF format description — no code taken). Semantics pinned
against the reference's own golden expectations
(autotest/ogr/data/mitab/all_geoms.mif.golden.csv):

- ``Point/Line/Pline [MULTIPLE]/MultiPoint/Region/Collection/None``
  map to the obvious WKB kinds; a PLINE's vertex count may share its
  keyword line or follow on the next line (both forms in the golden).
- ``Rect`` is a 5-point polygon (min,min)->(max,min)->(max,max)->
  (min,max)->close.
- ``RoundRect x1 y1 x2 y2 r`` (radius = r/2, clamped to the half
  extent) builds 4 quarter arcs of 45 points each, counterclockwise
  from the lower-left, each arc DUPLICATING its final point — the
  reference's TABGenerateArc emits numPoints steps over
  (numPoints-1) increments then repeats the end angle, and the golden
  WKTs carry those duplicates, so we reproduce them exactly.
- ``Ellipse`` is a 180-point full-circle arc (step 2pi/179) closed
  into a polygon; ``Arc`` is a linestring with
  max(2, int(|sweep|/2) + 1) points (2-degree segments).
- ``Text`` becomes the POINT at the true lower-left corner of the
  rotated text box (the reference's quadrant formula on the Angle
  clause).
- multi-ring Regions are organized by containment (even depth =
  shell, odd = hole on the smallest containing shell), the
  organizePolygons DEFAULT behavior.
- the ``.mid`` carries one delimited attribute row per feature
  (header ``Delimiter`` clause, default tab; quoted fields with
  doubled quotes); ``Columns 0`` files have no .mid at all.

Spark shape: a MIF dataset is one .mif + optional .mid pair, so the
unit of parallelism is the PAIR — a glob fans out one task per pair
(schema probed from the first header driver-side), emitting
``geometry binary<WKB>`` plus typed attribute columns. The writer is a
single-document sink (one .mif/.mid pair is one deliverable), streamed
partition-by-partition through the driver like the KML/GPX sinks.
"""

from __future__ import annotations

import csv
import io
import math
import os
import re
import struct

import numpy as np

from ._util import glob_paths, local_path, scan_files
from .. import geom

_TOKEN = re.compile(r'"(?:[^"]|"")*"|[^\s,]+')

_CLAUSES = ("pen", "brush", "symbol", "smooth", "center", "font",
            "spacing", "justify", "angle", "label")
_KEYWORDS = ("point", "line", "pline", "region", "rect", "roundrect",
             "ellipse", "arc", "text", "multipoint", "collection", "none")


def _tokens(line: str) -> list[str]:
    out = []
    for m in _TOKEN.finditer(line):
        t = m.group(0)
        if t.startswith('"'):
            t = t[1:-1].replace('""', '"')
        out.append(t)
    return out


def _generate_arc(n: int, cx: float, cy: float, rx: float, ry: float,
                  a0: float, a1: float) -> list[tuple[float, float]]:
    """TABGenerateArc: n points over (n-1) increments, then the end
    angle REPEATED (mitab_utils.cpp semantics — the duplicate is part
    of the reference's observable output)."""
    if a1 < a0:
        a1 += 2.0 * math.pi
    step = (a1 - a0) / (n - 1.0)
    pts = []
    a = a0
    for i in range(n):
        a = a0 + i * step
        pts.append((cx + rx * math.cos(a), cy + ry * math.sin(a)))
    pts.append((cx + rx * math.cos(a), cy + ry * math.sin(a)))
    return pts


def _close(pts: list[tuple[float, float]]) -> list[tuple[float, float]]:
    if pts and pts[0] != pts[-1]:
        pts = pts + [pts[0]]
    return pts


def _organize_rings(rings: list[np.ndarray]) -> bytes:
    """Containment-depth assembly (organizePolygons DEFAULT): a ring
    contained in an even number of others is a shell; odd-depth rings
    become holes of their smallest containing shell."""
    if len(rings) == 1:
        return geom.wkb_polygon(rings)
    depth = []
    for i, r in enumerate(rings):
        px, py = np.array([r[0, 0]]), np.array([r[0, 1]])
        d = sum(
            1 for j, o in enumerate(rings)
            if j != i and geom.points_in_ring(px, py, o)[0]
        )
        depth.append(d)
    shells = [i for i, d in enumerate(depth) if d % 2 == 0]
    polys = {i: [rings[i]] for i in shells}
    areas = {i: abs(geom.ring_area_centroid(rings[i])[0]) for i in shells}
    for i, d in enumerate(depth):
        if d % 2 == 0:
            continue
        px, py = np.array([rings[i][0, 0]]), np.array([rings[i][0, 1]])
        best, best_area = None, np.inf
        for s in shells:
            if areas[s] < best_area and geom.points_in_ring(
                px, py, rings[s]
            )[0]:
                best, best_area = s, areas[s]
        if best is None:
            shells.append(i)
            polys[i] = [rings[i]]
            areas[i] = abs(geom.ring_area_centroid(rings[i])[0])
        else:
            polys[best].append(rings[i])
    groups = [polys[s] for s in shells]
    if len(groups) == 1:
        return geom.wkb_polygon(groups[0])
    return geom.wkb_multipolygon(groups)


class _Lines:
    """Pushback-able line cursor over the MIF Data section."""

    def __init__(self, lines: list[str]):
        self.lines = lines
        self.i = 0

    def next(self) -> str | None:
        while self.i < len(self.lines):
            ln = self.lines[self.i]
            self.i += 1
            if ln.strip():
                return ln
        return None

    def push(self):
        self.i -= 1


def _read_points(cur: _Lines, n: int) -> np.ndarray:
    pts = []
    while len(pts) < n:
        ln = cur.next()
        if ln is None:
            raise ValueError("MIF truncated inside coordinate list")
        toks = _tokens(ln)
        for i in range(0, len(toks) - 1, 2):
            pts.append((float(toks[i]), float(toks[i + 1])))
    return np.asarray(pts[:n], dtype=np.float64)


def _skip_clauses(cur: _Lines) -> dict:
    """Consume decoration clauses after a geometry; returns the ones
    that affect geometry (Angle for Text)."""
    seen: dict = {}
    while True:
        ln = cur.next()
        if ln is None:
            return seen
        head = _tokens(ln)
        key = head[0].lower().split("(")[0] if head else ""
        if key in _CLAUSES:
            if key == "angle" and len(head) > 1:
                seen["angle"] = float(head[1])
            continue
        cur.push()
        return seen


def _parse_geometry(cur: _Lines, kw: list[str]):
    """One geometry record (keyword tokens already split) -> WKB."""
    k = kw[0].lower()
    if k == "none":
        return None
    if k == "point":
        return geom.wkb_point(float(kw[1]), float(kw[2]))
    if k == "line":
        return geom.wkb_linestring(
            np.array([[float(kw[1]), float(kw[2])],
                      [float(kw[3]), float(kw[4])]])
        )
    if k == "pline":
        rest = [t.lower() for t in kw[1:]]
        if rest and rest[0] == "multiple":
            nsec = int(kw[2])
            parts = []
            for _ in range(nsec):
                cnt = int(_tokens(cur.next())[0])
                parts.append(_read_points(cur, cnt))
            body = b"".join(geom.wkb_linestring(p) for p in parts)
            return (struct.pack("<BII", 1, geom.WKB_MULTILINESTRING,
                                len(parts)) + body)
        cnt = int(kw[1]) if len(kw) > 1 else int(_tokens(cur.next())[0])
        return geom.wkb_linestring(_read_points(cur, cnt))
    if k == "region":
        nring = int(kw[1])
        rings = []
        for _ in range(nring):
            cnt = int(_tokens(cur.next())[0])
            pts = _read_points(cur, cnt)
            if tuple(pts[0]) != tuple(pts[-1]):
                pts = np.vstack([pts, pts[:1]])
            rings.append(pts)
        return _organize_rings(rings)
    if k == "rect":
        x1, y1, x2, y2 = (float(v) for v in kw[1:5])
        xmin, xmax = min(x1, x2), max(x1, x2)
        ymin, ymax = min(y1, y2), max(y1, y2)
        return geom.wkb_polygon([np.array(
            [[xmin, ymin], [xmax, ymin], [xmax, ymax],
             [xmin, ymax], [xmin, ymin]]
        )])
    if k == "roundrect":
        x1, y1, x2, y2 = (float(v) for v in kw[1:5])
        xmin, xmax = min(x1, x2), max(x1, x2)
        ymin, ymax = min(y1, y2), max(y1, y2)
        if len(kw) > 5:
            r = float(kw[5]) / 2.0
        else:
            r = float(_tokens(cur.next())[0]) / 2.0
        rx = min(r, (xmax - xmin) / 2.0)
        ry = min(r, (ymax - ymin) / 2.0)
        pi = math.pi
        pts = (
            _generate_arc(45, xmin + rx, ymin + ry, rx, ry, pi, 1.5 * pi)
            + _generate_arc(45, xmax - rx, ymin + ry, rx, ry, 1.5 * pi,
                            2 * pi)
            + _generate_arc(45, xmax - rx, ymax - ry, rx, ry, 0, 0.5 * pi)
            + _generate_arc(45, xmin + rx, ymax - ry, rx, ry, 0.5 * pi, pi)
        )
        return geom.wkb_polygon([np.asarray(_close(pts))])
    if k == "ellipse":
        x1, y1, x2, y2 = (float(v) for v in kw[1:5])
        cx, cy = (x1 + x2) / 2.0, (y1 + y2) / 2.0
        rx, ry = abs(x2 - x1) / 2.0, abs(y2 - y1) / 2.0
        pts = _generate_arc(180, cx, cy, rx, ry, 0.0, 2.0 * math.pi)
        return geom.wkb_polygon([np.asarray(_close(pts))])
    if k == "arc":
        x1, y1, x2, y2 = (float(v) for v in kw[1:5])
        if len(kw) >= 7:
            a0, a1 = float(kw[5]), float(kw[6])
        else:
            t = _tokens(cur.next())
            a0, a1 = float(t[0]), float(t[1])
        cx, cy = (x1 + x2) / 2.0, (y1 + y2) / 2.0
        rx, ry = abs(x2 - x1) / 2.0, abs(y2 - y1) / 2.0
        sweep = (a1 + 360.0 - a0) if a1 < a0 else (a1 - a0)
        n = max(2, int(abs(sweep) / 2.0) + 1)
        pts = _generate_arc(n, cx, cy, rx, ry, math.radians(a0),
                            math.radians(a1))
        return geom.wkb_linestring(np.asarray(pts))
    if k == "text":
        # the string may trail the keyword or sit on its own line
        if len(kw) == 1:
            cur.next()
        bx = _tokens(cur.next())
        x1, y1, x2, y2 = (float(v) for v in bx[:4])
        xmin, xmax = min(x1, x2), max(x1, x2)
        ymin, ymax = min(y1, y2), max(y1, y2)
        h = ymax - ymin
        ang = _skip_clauses(cur).get("angle", 0.0)
        s, c = math.sin(math.radians(ang)), math.cos(math.radians(ang))
        # true lower-left corner of the rotated box (reference formula)
        if s > 0.0 and c > 0.0:
            dx, dy = xmin + h * s, ymin
        elif s > 0.0 and c < 0.0:
            dx, dy = xmax, ymin - h * c
        elif s < 0.0 and c < 0.0:
            dx, dy = xmax + h * s, ymax
        else:
            dx, dy = xmin, ymax - h * c
        return geom.wkb_point(dx, dy)
    if k == "multipoint":
        cnt = int(kw[1]) if len(kw) > 1 else int(_tokens(cur.next())[0])
        pts = _read_points(cur, cnt)
        body = b"".join(geom.wkb_point(float(x), float(y)) for x, y in pts)
        return struct.pack("<BII", 1, geom.WKB_MULTIPOINT, cnt) + body
    if k == "collection":
        cnt = int(kw[1])
        subs = []
        while len(subs) < cnt:
            ln = cur.next()
            if ln is None:
                raise ValueError("MIF truncated inside COLLECTION")
            toks = _tokens(ln)
            if toks and toks[0].lower() in _KEYWORDS:
                subs.append(_parse_geometry(cur, toks))
                _skip_clauses(cur)
        body = b"".join(subs)
        return (struct.pack("<BII", 1, geom.WKB_GEOMETRYCOLLECTION, cnt)
                + body)
    raise ValueError(f"unknown MIF geometry keyword {kw[0]!r}")


def parse_mif_header(text: str):
    """-> (header dict, data-section line list). Header keys:
    version, charset, delimiter, coordsys (raw), columns
    [(name, miftype)]."""
    lines = text.splitlines()
    hdr = {"delimiter": "\t", "coordsys": None, "columns": []}
    i = 0
    while i < len(lines):
        ln = lines[i].strip()
        i += 1
        if not ln:
            continue
        low = ln.lower()
        if low.startswith("version"):
            hdr["version"] = ln.split()[1]
        elif low.startswith("charset"):
            hdr["charset"] = _tokens(ln)[1]
        elif low.startswith("delimiter"):
            hdr["delimiter"] = _tokens(ln)[1]
        elif low.startswith("coordsys"):
            hdr["coordsys"] = ln
        elif low.startswith("columns"):
            n = int(ln.split()[1])
            for _ in range(n):
                parts = lines[i].strip().split(None, 1)
                hdr["columns"].append((parts[0], parts[1].strip()))
                i += 1
        elif low.startswith("data"):
            return hdr, lines[i:]
    return hdr, []


def _cast(miftype: str, raw: str):
    t = miftype.lower()
    if raw == "" and not t.startswith("char"):
        return None
    if t.startswith(("integer", "smallint")):
        return int(raw)
    if t.startswith(("float", "decimal")):
        return float(raw)
    if t.startswith("logical"):
        return raw.strip().upper() in ("T", "TRUE", "1")
    return raw


def parse_mif(mif_text: str, mid_text: str | None):
    """-> (header, [{'geometry': wkb|None, <attrs>...}])."""
    hdr, data = parse_mif_header(mif_text)
    cur = _Lines(data)
    geoms = []
    while True:
        ln = cur.next()
        if ln is None:
            break
        toks = _tokens(ln)
        if not toks or toks[0].lower() not in _KEYWORDS:
            continue
        geoms.append(_parse_geometry(cur, toks))
        _skip_clauses(cur)
    recs = []
    cols = hdr["columns"]
    mid_rows: list[list[str]] = []
    if cols and mid_text is not None:
        delim = hdr["delimiter"] or "\t"
        mid_rows = list(csv.reader(io.StringIO(mid_text), delimiter=delim,
                                   quotechar='"'))
    for k, g in enumerate(geoms):
        rec = {"geometry": g}
        if cols:
            row = mid_rows[k] if k < len(mid_rows) else []
            for j, (name, miftype) in enumerate(cols):
                rec[name] = _cast(miftype, row[j]) if j < len(row) else None
        recs.append(rec)
    return hdr, recs


def _spark_type(miftype: str) -> str:
    t = miftype.lower()
    if t.startswith("smallint"):
        return "int"
    if t.startswith("integer"):
        return "int"
    if t.startswith(("float", "decimal")):
        return "double"
    if t.startswith("logical"):
        return "boolean"
    return "string"


def mid_path_for(mif_path: str) -> str | None:
    for ext in (".mid", ".MID"):
        cand = os.path.splitext(mif_path)[0] + ext
        if os.path.exists(cand):
            return cand
    return None


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def scan_mif(spark, path_glob: str):
    """Glob of .mif files -> (geometry binary<WKB>, <typed attrs...>);
    one task per .mif/.mid pair, schema from the first header (read
    driver-side — headers only, never feature data)."""
    paths = glob_paths(path_glob)
    with open(paths[0]) as f:
        hdr, _ = parse_mif_header(f.read())
    cols = hdr["columns"]
    schema = "geometry binary" + "".join(
        f", `{name}` {_spark_type(t)}" for name, t in cols
    )
    names = ["geometry"] + [c[0] for c in cols]
    tasks = [(p, mid_path_for(p) or "") for p in paths]

    def read(r):
        with open(r.path) as f:
            mif_text = f.read()
        mid_text = None
        if r.mid:
            with open(r.mid) as f:
                mid_text = f.read()
        return [[rec.get(c) for c in names]
                for rec in parse_mif(mif_text, mid_text)[1]]

    return scan_files(spark, None, read, schema,
                      tasks=("path string, mid string", tasks))


def _mif_coords(arr) -> list[str]:
    return [f"{float(x)!r} {float(y)!r}" for x, y in np.asarray(arr, float)]


def _geometry_mif(wkb: bytes) -> str:
    g = geom.parse_wkb(bytes(wkb))
    if g.kind == geom.WKB_POINT:
        x, y = (float(v) for v in g.parts[0])
        return f"Point {x!r} {y!r}"
    if g.kind == geom.WKB_LINESTRING:
        pts = _mif_coords(g.parts[0] if isinstance(g.parts, list)
                          else g.parts)
        return "Pline %d\n%s" % (len(pts), "\n".join(pts))
    if g.kind == geom.WKB_MULTILINESTRING:
        out = [f"Pline Multiple {len(g.parts)}"]
        for part in g.parts:
            pts = _mif_coords(part)
            out.append(str(len(pts)))
            out.extend(pts)
        return "\n".join(out)
    if g.kind in (geom.WKB_POLYGON, geom.WKB_MULTIPOLYGON):
        rings = (g.parts if g.kind == geom.WKB_POLYGON
                 else [r for poly in g.parts for r in poly])
        out = [f"Region {len(rings)}"]
        for r in rings:
            pts = _mif_coords(r)
            out.append(str(len(pts)))
            out.extend(pts)
        return "\n".join(out)
    if g.kind == geom.WKB_MULTIPOINT:
        pts = _mif_coords(g.parts)
        return "Multipoint %d\n%s" % (len(pts), "\n".join(pts))
    raise ValueError(f"cannot write WKB kind {g.kind} to MIF")


def _mid_field(v, miftype: str) -> str:
    if v is None:
        return '""' if miftype.startswith("Char") else ""
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, str):
        return '"%s"' % v.replace('"', '""')
    if isinstance(v, float):
        return repr(float(v))
    return str(v)


def write_mif(df, out_path: str):
    """Single .mif/.mid pair sink (one dataset is one deliverable, so
    this funnels through the driver partition-by-partition like the
    KML/GPX sinks; use the GeoParquet/GeoJSONSeq sinks for distributed
    many-part output). ``geometry`` must hold WKB; other columns map
    Char/Integer/Float/Logical by Spark type."""
    out_path = local_path(out_path)
    fields = [f for f in df.schema.fields if f.name != "geometry"]

    def miftype(f) -> str:
        t = f.dataType.simpleString()
        if t in ("int", "bigint", "smallint"):
            return "Integer"
        if t in ("double", "float"):
            return "Float"
        if t == "boolean":
            return "Logical"
        return "Char (254)"

    mid_path = os.path.splitext(out_path)[0] + ".mid"
    with open(out_path, "w") as fm, open(mid_path, "w") as fd:
        fm.write('Version 300\nCharset "Neutral"\nDelimiter ","\n')
        fm.write(f"Columns {len(fields)}\n")
        for f in fields:
            fm.write(f"  {f.name} {miftype(f)}\n")
        fm.write("Data\n\n")
        for row in df.toLocalIterator():
            wkb = row["geometry"]
            fm.write(
                ("None" if wkb is None else _geometry_mif(bytes(wkb)))
                + "\n"
            )
            fd.write(",".join(
                _mid_field(row[f.name], miftype(f)) for f in fields
            ) + "\n")
    return [out_path, mid_path]
