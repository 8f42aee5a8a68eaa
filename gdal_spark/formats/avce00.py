"""Arc/Info E00 coverage export (AVCE00) read driver.

Reference semantics: ogr/ogrsf_frmts/avc/ (the AVCE00 library) —
re-derived from the published E00 format description
(avce00.maptools.org "Arc/Info Export (E00) Format Analysis"):

- an export is an ASCII section stream: ``EXP 0 path`` then ARC /
  CNT / LAB / PAL / TOL / PRJ / IFO sections each terminated by a
  ``-1`` record (``EXP 1`` marks the unsupported compressed form,
  rejected like the reference does);
- ARC records: (arc#, user#, fnode, tnode, lpoly, rpoly, npoints)
  then npoints x/y pairs, two per line, in %14.7E single precision;
- LAB records: (label#, poly#, x, y) + two extra coordinate pairs;
  CNT records: (npoints? centroid) per polygon;
- PAL records: (narcs, xmin, ymin, xmax, ymax) then (arc#, fnode,
  adjpoly) triplets, three per line; a NEGATIVE arc id records the
  topological direction, but the emitted ring chains RAW arc
  directions by endpoint matching (the reference's observable
  vertex order); polygon 1 is the universe polygon (skipped, as
  the reference does);
- IFO tables: header ``NAME.PAT … nfields nfields reclen nrecs``,
  per-field definition lines (name, size, offset, output
  width[.decimals], type — 50 integer / 60 binary float / 40 text
  float / 20 character / 10 date), then records as fixed-width
  concatenations wrapped at 80 columns: type-50 ints print in 6/11
  columns (size 2/4), type-60 floats in 14 (size 4) or 24
  (size 8), type-20 strings in their declared size;
- the PAT table joins PAL/LAB features by record index (the
  reference's layer model: PAL carries ArcIds + PAT columns, a
  point coverage's LAB carries the PAT columns).

Spark shape: one task per .e00 file (a coverage library is many
exports), long-format feature rows (layer, fid, wkb, attributes).
"""

from __future__ import annotations

import os
import struct

from ._util import glob_paths, scan_files


def _wkb_point(x, y):
    return struct.pack("<BIdd", 1, 1, x, y)


def _wkb_linestring(pts):
    return (struct.pack("<BII", 1, 2, len(pts)) +
            b"".join(struct.pack("<dd", x, y) for x, y in pts))


def _wkb_polygon(rings):
    body = struct.pack("<I", len(rings))
    for r in rings:
        body += struct.pack("<I", len(r)) + \
            b"".join(struct.pack("<dd", x, y) for x, y in r)
    return struct.pack("<BI", 1, 3) + body


class _Lines:
    def __init__(self, text):
        self.lines = text.splitlines()
        self.i = 0

    def next(self):
        line = self.lines[self.i]
        self.i += 1
        return line

    def peek(self):
        return self.lines[self.i]

    def eof(self):
        return self.i >= len(self.lines)


def _ints(line):
    return [int(t) for t in line.split()]


def _floats(line):
    return [float(t) for t in line.split()]


def _read_pairs(L, n):
    pts = []
    while len(pts) < n:
        vals = _floats(L.next())
        for i in range(0, len(vals), 2):
            pts.append((vals[i], vals[i + 1]))
    return pts[:n]


def _parse_arc(L):
    arcs = {}
    while True:
        hdr = _ints(L.next())
        if hdr[0] == -1:
            break
        arc_id, user_id, fnode, tnode, lpoly, rpoly, npts = hdr[:7]
        pts = _read_pairs(L, npts)
        arcs[arc_id] = {"user_id": user_id, "fnode": fnode,
                        "tnode": tnode, "lpoly": lpoly,
                        "rpoly": rpoly, "pts": pts}
    return arcs


def _parse_lab(L):
    labs = []
    while True:
        toks = L.next().split()
        if int(toks[0]) == -1:
            break
        lab_id, poly_id = int(toks[0]), int(toks[1])
        x, y = float(toks[2]), float(toks[3])
        L.next()  # two extra coordinate pairs
        labs.append({"id": lab_id, "poly": poly_id, "x": x, "y": y})
    return labs


def _parse_cnt(L):
    cnts = []
    while True:
        toks = L.next().split()
        if int(toks[0]) == -1:
            break
        npts = int(toks[0])
        cnts.append((float(toks[1]), float(toks[2])))
        # label ids follow, one per line, npts of them
        k = npts
        while k > 0:
            k -= len(L.next().split())
    return cnts


def _parse_pal(L):
    pals = []
    while True:
        toks = L.next().split()
        if int(toks[0]) == -1:
            break
        narcs = int(toks[0])
        # bbox may continue on the same line
        need = narcs * 3
        vals = []
        while len(vals) < need:
            vals += _ints(L.next())
        triplets = [(vals[i], vals[i + 1], vals[i + 2])
                    for i in range(0, need, 3)]
        pals.append({"narcs": narcs,
                     "arcs": [t[0] for t in triplets]})
    return pals


_INT_W = {2: 6, 4: 11}
_FLT_W = {4: 14, 8: 24}


def _parse_ifo(L):
    tables = {}
    while not L.eof():
        hdr = L.next()
        if hdr.strip().startswith("EOI") or hdr.strip() == "-1":
            break
        parts = hdr.split()
        if not parts:
            continue
        name = parts[0]
        nums = [p for p in parts[1:] if
                p.lstrip("-").isdigit()]
        if len(nums) < 3:
            continue
        nfields = int(nums[0])
        nrecs = int(nums[-1])
        fields = []
        for _ in range(nfields):
            fl = L.next()
            fname = fl[:16].strip()
            rest = fl[16:].split()
            size = int(rest[0].split("-")[0])
            ftype = None
            # the type code is the 4th numeric group (e.g. 50-1)
            groups = fl[16:].replace("-1", " ").split()
            try:
                ftype = int(groups[3])
            except (IndexError, ValueError):
                ftype = 20
            if ftype in (50, 60, 20, 40, 10):
                pass
            else:
                # pattern like '8 2 60' (width, decimals, type)
                ftype = 60
            fields.append({"name": fname, "size": size,
                           "type": ftype})
        widths = []
        for f in fields:
            if f["type"] == 50:
                widths.append(_INT_W.get(f["size"], 11))
            elif f["type"] == 60:
                widths.append(_FLT_W.get(f["size"], 14))
            elif f["type"] == 40:
                widths.append(14)
            else:
                widths.append(f["size"])
        recw = sum(widths)
        rows = []
        for _ in range(nrecs):
            buf = ""
            while len(buf) < recw:
                buf += L.next().ljust(80)[:80]
            vals = []
            p = 0
            for f, w in zip(fields, widths):
                raw = buf[p:p + w]
                p += w
                if f["type"] == 50:
                    try:
                        vals.append(int(raw))
                    except ValueError:
                        vals.append(None)
                elif f["type"] in (60, 40):
                    try:
                        vals.append(float(raw))
                    except ValueError:
                        vals.append(None)
                else:
                    vals.append(raw.strip())
            rows.append(dict(zip([f["name"] for f in fields],
                                 vals)))
        tables[name] = {"fields": [f["name"] for f in fields],
                        "rows": rows}
    return tables


def parse_e00(text: str):
    """E00 text -> dict of sections (arcs, labs, cnts, pals,
    tables)."""
    if text.startswith("EXP  1") or text.startswith("EXP 1"):
        raise ValueError(
            "E00: compressed export (EXP 1) is not supported "
            "(the reference rejects it too)")
    if not text.lstrip().startswith("EXP"):
        raise ValueError("E00: missing EXP header")
    L = _Lines(text)
    L.next()  # EXP line
    out = {"arcs": {}, "labs": [], "cnts": [], "pals": [],
           "tables": {}}
    while not L.eof():
        line = L.next()
        tok = line.split()[0] if line.split() else ""
        if tok == "ARC":
            out["arcs"] = _parse_arc(L)
        elif tok == "LAB":
            out["labs"] = _parse_lab(L)
        elif tok == "CNT":
            out["cnts"] = _parse_cnt(L)
        elif tok == "PAL":
            out["pals"] = _parse_pal(L)
        elif tok == "IFO":
            out["tables"] = _parse_ifo(L)
        elif tok == "EOS":
            break
    return out


def e00_features(text: str):
    """E00 text -> list of feature dicts (layer, fid, wkb, attrs),
    the reference's layer model."""
    cov = parse_e00(text)
    feats = []
    pat = None
    for name, t in cov["tables"].items():
        if name.upper().endswith(".PAT"):
            pat = t
    # ARC layer
    for arc_id in sorted(cov["arcs"]):
        a = cov["arcs"][arc_id]
        feats.append({
            "layer": "ARC", "fid": arc_id,
            "wkb": _wkb_linestring(a["pts"]),
            "attrs": {"UserID": str(a["user_id"]),
                      "FNODE": str(a["fnode"]),
                      "TNODE": str(a["tnode"])},
        })
    # LAB layer (point coverages join the PAT by record index)
    for i, lab in enumerate(cov["labs"]):
        attrs = {"ValueId": str(lab["id"])}
        if pat and i < len(pat["rows"]):
            for k, v in pat["rows"][i].items():
                attrs[k] = "" if v is None else str(v)
        feats.append({
            "layer": "LAB", "fid": lab["id"],
            "wkb": _wkb_point(lab["x"], lab["y"]),
            "attrs": attrs,
        })
    # PAL layer: skip the universe polygon (#1), assemble rings by
    # walking the arc list (negative id = reversed)
    for pi, pal in enumerate(cov["pals"]):
        if pi == 0:
            continue
        # the reference chains RAW arc directions by endpoint
        # matching (the arc-id sign records topology, not the walk
        # direction of the emitted ring)
        ring = []
        arc_ids = []
        for aid in pal["arcs"]:
            if aid == 0:
                continue
            arc = cov["arcs"].get(abs(aid))
            if arc is None:
                continue
            pts = list(arc["pts"])
            if ring and ring[-1] == pts[-1]:
                pts = pts[::-1]
            if ring and ring[-1] == pts[0]:
                ring.extend(pts[1:])
            else:
                ring.extend(pts)
            arc_ids.append(aid)
        if not ring:
            continue
        if ring[0] != ring[-1]:
            ring.append(ring[0])
        attrs = {"ArcIds": ",".join(str(a) for a in arc_ids)}
        if pat and pi + 1 <= len(pat["rows"]):
            for k, v in pat["rows"][pi].items():
                attrs[k] = "" if v is None else str(v)
        feats.append({
            "layer": "PAL", "fid": pi + 1,
            "wkb": _wkb_polygon([ring]),
            "attrs": attrs,
        })
    return feats


def scan_avce00(spark, path_glob: str):
    """Glob of .e00 exports -> feature rows, one task per file."""
    schema = ("layer string, fid int, geometry binary, "
              "attributes map<string,string>, source string")

    def read(r):
        with open(r.path, encoding="latin-1") as f:
            text = f.read()
        stem = os.path.basename(r.path)
        return [{"layer": ft["layer"], "fid": ft["fid"],
                 "geometry": ft["wkb"], "attributes": ft["attrs"],
                 "source": stem}
                for ft in e00_features(text)]

    return scan_files(spark, glob_paths(path_glob), read, schema)
