"""IHO S-57 ENC (Electronic Navigational Chart) read driver.

Reference semantics: ogr/ogrsf_frmts/s57/ (S57Reader) — re-derived
here from the published IHO S-57 edition 3.1 standard (Part 3, the
data structure chapters) on top of the from-scratch ISO 8211 reader
(``formats.iso8211``):

- a cell is one ISO 8211 file: a DSID/DSSI record (dataset id +
  lexical levels AALL/NALL), a DSPM record carrying the coordinate
  and sounding multiplication factors COMF/SOMF and the compilation
  scale CSCL, then vector records (VRID: RCNM 110 isolated node /
  120 connected node / 130 edge / 140 face) and feature records
  (FRID, RCNM 100);
- vector geometry: SG2D repeating (YCOO, XCOO) int32 pairs scaled by
  1/COMF (XCOO -> x/lon, YCOO -> y/lat), SG3D adds VE3D scaled by
  1/SOMF (soundings); an edge's VRPT pointers name its begin
  (TOPI=1) and end (TOPI=2) connected nodes, NAME being the packed
  B(40) bitfield ``RCNM:u8 + RCID:u32le``;
- features: FRID(PRIM 1 point / 2 line / 3 area, OBJL object class,
  GRUP, RVER) + FOID(AGEN, FIDN, FIDS -> the 16-hex-digit LNAM) +
  ATTF/NATF attribute lists (ATTL code -> acronym via the embedded
  IHO catalogue, NATF decoded at DSSI.NALL lexical level) + FSPT
  spatial pointers (NAME, ORNT 2 = reversed, USAG 2 = interior
  boundary, MASK);
- geometry assembly (the reference's S57Reader::AssembleLineGeometry
  contract, re-derived): point features take their node's SG2D/SG3D
  (a multi-sounding SG3D node becomes MULTIPOINT Z); line features
  walk FSPT edges in order — begin node + SG2D + end node, reversed
  when ORNT=2 — splicing consecutive edges that share an endpoint
  into one linestring and starting a new part otherwise
  (MULTILINESTRING when more than one part survives); area features
  do the same walk per USAG ring class and close rings, exterior
  first (POLYGON).

Spark shape: an ENC product is thousands of small cell files (a
NOAA ENC release is ~2k cells, a worldwide commercial folio ~20k);
``scan_s57`` fans out ONE TASK PER CELL over ``mapInPandas``, each
task parsing its file with numpy/stdlib only and emitting plain
rows — layer (object-class acronym), feature ids, an attribute map
and WKB — so a whole folio ingests in one narrow Arrow pass with no
shuffle. Update cells (.001, .002, …) are applied per-base-cell
inside the task (RUIN insert/delete/modify on matching RCNM/RCID,
the reference's ApplyRecordUpdate contract for the common cases).
"""

from __future__ import annotations

import os
import struct

from ._util import glob_paths, local_path, scan_files
from .iso8211 import Iso8211Reader
from .s57_catalog import ATTR_TYPES, ATTRIBUTES, OBJECT_CLASSES

RCNM_FEATURE = 100
RCNM_VI, RCNM_VC, RCNM_VE, RCNM_VF = 110, 120, 130, 140


def _name_ref(raw: bytes):
    """B(40) NAME bitfield -> (RCNM, RCID)."""
    if len(raw) < 5:
        raise ValueError("S57: short NAME pointer")
    return raw[0], struct.unpack("<I", raw[1:5])[0]


# ---------------------------------------------------------------- WKB
def _wkb(geom_type: int, body: bytes) -> bytes:
    return struct.pack("<BI", 1, geom_type) + body


def _pts(coords) -> bytes:
    return b"".join(struct.pack("<dd", x, y) for x, y in coords)


def _wkb_point(x, y):
    return _wkb(1, struct.pack("<dd", x, y))


def _wkb_multipoint_z(pts3):
    body = struct.pack("<I", len(pts3)) + b"".join(
        struct.pack("<BI", 1, 1001) + struct.pack("<ddd", x, y, z)
        for x, y, z in pts3)
    return _wkb(1004, body)


def _wkb_linestring(coords):
    return _wkb(2, struct.pack("<I", len(coords)) + _pts(coords))


def _wkb_multilinestring(lines):
    body = struct.pack("<I", len(lines)) + b"".join(
        _wkb_linestring(c) for c in lines)
    return _wkb(5, body)


def _wkb_polygon(rings):
    body = struct.pack("<I", len(rings)) + b"".join(
        struct.pack("<I", len(r)) + _pts(r) for r in rings)
    return _wkb(3, body)


# ---------------------------------------------------------- cell parse
class _Cell:
    def __init__(self):
        self.comf = 1.0
        self.somf = 1.0
        self.dsid = {}
        self.dspm = {}
        # (rcnm, rcid) -> vector record dict
        self.vectors = {}
        # list of feature dicts
        self.features = []


def _lexical_hooks(cell_state):
    """NATF honours DSSI.NALL (2 -> UCS-2); ATTF honours AALL."""
    return {
        "NATF": lambda: 2 if cell_state.get("NALL", 1) == 2 else 1,
        "ATTF": lambda: 2 if cell_state.get("AALL", 1) == 2 else 1,
    }


def _parse_records(buf: bytes, cell: _Cell, lex_state: dict):
    rdr = Iso8211Reader(buf, lexical_for=_lexical_hooks(lex_state))
    for rec in rdr.records():
        if "DSID" in rec:
            cell.dsid = rec["DSID"][0]
            if "DSSI" in rec:
                dssi = rec["DSSI"][0]
                cell.dsid.update(dssi)
                lex_state["AALL"] = dssi.get("AALL", 1)
                lex_state["NALL"] = dssi.get("NALL", 1)
            continue
        if "DSPM" in rec:
            cell.dspm = rec["DSPM"][0]
            cell.comf = float(cell.dspm.get("COMF", 1) or 1)
            cell.somf = float(cell.dspm.get("SOMF", 1) or 1)
            continue
        if "VRID" in rec:
            vrid = rec["VRID"][0]
            yield ("V", vrid, rec)
            continue
        if "FRID" in rec:
            yield ("F", rec["FRID"][0], rec)


def _vector_from_rec(rec, comf, somf):
    v = {"sg2d": [], "sg3d": [], "vrpt": []}
    for g in rec.get("SG2D", []):
        if "XCOO" in g and "YCOO" in g:
            v["sg2d"].append((g["XCOO"] / comf, g["YCOO"] / comf))
    for g in rec.get("SG3D", []):
        if "XCOO" in g and "YCOO" in g:
            v["sg3d"].append((g["XCOO"] / comf, g["YCOO"] / comf,
                              g.get("VE3D", 0) / somf))
    for g in rec.get("VRPT", []):
        if "NAME" in g:
            rcnm, rcid = _name_ref(g["NAME"])
            v["vrpt"].append({"rcnm": rcnm, "rcid": rcid,
                              "ornt": g.get("ORNT", 1),
                              "usag": g.get("USAG", 1),
                              "topi": g.get("TOPI", 0),
                              "mask": g.get("MASK", 2)})
    return v


def _apply_updates(cell: _Cell, buf: bytes, lex_state: dict):
    """Apply an update cell (.001 …): RUIN 1 insert / 2 delete /
    3 modify on matching (RCNM, RCID). Feature/vector record
    replacement covers the common coordinate/attribute update case;
    partial SGCC/ATTF patching degrades to whole-record replace."""
    for kind, head, rec in _parse_records(buf, cell, lex_state):
        ruin = head.get("RUIN", 1)
        if kind == "V":
            key = (head["RCNM"], head["RCID"])
            if ruin == 2:
                cell.vectors.pop(key, None)
            else:
                cell.vectors[key] = _vector_from_rec(
                    rec, cell.comf, cell.somf)
        else:
            rcid = head.get("RCID")
            if ruin == 2:
                cell.features = [f for f in cell.features
                                 if f["frid"].get("RCID") != rcid]
            else:
                cell.features = [f for f in cell.features
                                 if f["frid"].get("RCID") != rcid]
                cell.features.append({"frid": head, "rec": rec})


def parse_s57(buf: bytes, updates=()):
    """Cell bytes (+ optional update-cell byte blobs, in order) ->
    (cell-info dict, list of feature dicts with assembled WKB)."""
    cell = _Cell()
    lex_state = {}
    for kind, head, rec in _parse_records(buf, cell, lex_state):
        if kind == "V":
            cell.vectors[(head["RCNM"], head["RCID"])] = \
                _vector_from_rec(rec, cell.comf, cell.somf)
        else:
            cell.features.append({"frid": head, "rec": rec})
    for ub in updates:
        _apply_updates(cell, ub, lex_state)

    out = []
    for f in cell.features:
        out.append(_assemble_feature(cell, f["frid"], f["rec"]))
    info = dict(cell.dsid)
    info.update({"COMF": cell.comf, "SOMF": cell.somf,
                 "CSCL": cell.dspm.get("CSCL")})
    return info, out


# ------------------------------------------------------ geometry build
def _edge_points(cell: _Cell, rcid: int, ornt: int):
    """Edge RCID -> full point list begin-node + SG2D + end-node,
    reversed when ORNT==2."""
    edge = cell.vectors.get((RCNM_VE, rcid))
    if edge is None:
        return []
    begin = end = None
    for p in edge["vrpt"]:
        node = cell.vectors.get((p["rcnm"], p["rcid"]))
        if node is None:
            continue
        c = (node["sg2d"] or
             [(x, y) for x, y, _ in node["sg3d"]])
        if not c:
            continue
        if p["topi"] == 1 and begin is None:
            begin = c[0]
        elif p["topi"] == 2:
            end = c[0]
        elif begin is None:
            begin = c[0]
    pts = []
    if begin is not None:
        pts.append(begin)
    pts.extend(edge["sg2d"])
    if end is not None:
        pts.append(end)
    if ornt == 2:
        pts = pts[::-1]
    return pts


def _chain(parts):
    """Splice consecutive edge point-lists sharing an endpoint."""
    chains = []
    cur = []
    for pts in parts:
        if not pts:
            continue
        if not cur:
            cur = list(pts)
        elif cur[-1] == pts[0]:
            cur.extend(pts[1:])
        else:
            chains.append(cur)
            cur = list(pts)
    if cur:
        chains.append(cur)
    return chains


def _build_rings(parts):
    """Greedy endpoint-matching ring builder over raw edge point
    lists: seed each ring with the first unused edge as stored, then
    repeatedly append any remaining edge that connects to the ring's
    end — forward or reversed. Closes and starts a new ring when no
    edge connects (or the ring returns to its start)."""
    pool = [list(p) for p in parts if p]
    rings = []
    while pool:
        cur = pool.pop(0)
        grew = True
        while grew and cur[0] != cur[-1]:
            grew = False
            for i, cand in enumerate(pool):
                if cand[0] == cur[-1]:
                    cur.extend(cand[1:])
                elif cand[-1] == cur[-1]:
                    cur.extend(cand[-2::-1])
                else:
                    continue
                pool.pop(i)
                grew = True
                break
        rings.append(cur)
    return rings


def _assemble_feature(cell: _Cell, frid: dict, rec: dict):
    objl = frid.get("OBJL", 0)
    acronym = OBJECT_CLASSES.get(objl, f"OBJL_{objl}")
    foid = (rec.get("FOID") or [{}])[0]
    agen = foid.get("AGEN", 0)
    fidn = foid.get("FIDN", 0)
    fids = foid.get("FIDS", 0)
    lnam = f"{agen:04X}{fidn:08X}{fids:04X}"

    attrs, natf = {}, {}
    for g in rec.get("ATTF", []):
        code = g.get("ATTL")
        if code is None:
            continue
        attrs[ATTRIBUTES.get(code, f"ATTL_{code}")] = \
            str(g.get("ATVL", "")).rstrip("\x7f")
    for g in rec.get("NATF", []):
        code = g.get("ATTL")
        if code is None:
            continue
        natf[ATTRIBUTES.get(code, f"ATTL_{code}")] = \
            str(g.get("ATVL", "")).rstrip("\x7f")

    fspt = []
    for g in rec.get("FSPT", []):
        if "NAME" not in g:
            continue
        rcnm, rcid = _name_ref(g["NAME"])
        fspt.append({"rcnm": rcnm, "rcid": rcid,
                     "ornt": g.get("ORNT", 1),
                     "usag": g.get("USAG", 1),
                     "mask": g.get("MASK", 2)})

    prim = frid.get("PRIM", 255)
    wkb = None
    if prim == 1:  # point
        pts2, pts3 = [], []
        for p in fspt:
            node = cell.vectors.get((p["rcnm"], p["rcid"]))
            if node is None:
                continue
            pts3.extend(node["sg3d"])
            pts2.extend(node["sg2d"])
        if pts3:
            wkb = _wkb_multipoint_z(pts3)
        elif pts2:
            wkb = _wkb_point(*pts2[0])
    elif prim == 2:  # line
        parts = [_edge_points(cell, p["rcid"], p["ornt"])
                 for p in fspt if p["rcnm"] == RCNM_VE]
        chains = _chain(parts)
        if len(chains) == 1:
            wkb = _wkb_linestring(chains[0])
        elif chains:
            wkb = _wkb_multilinestring(chains)
    elif prim == 3:  # area
        # the reference's OGRBuildPolygonFromEdges contract: chain
        # RAW edge directions by endpoint matching (either end),
        # starting from the first edge as stored — ORNT is not
        # consulted for ring direction
        ext_parts = [_edge_points(cell, p["rcid"], 1)
                     for p in fspt
                     if p["rcnm"] == RCNM_VE and p["usag"] != 2]
        int_parts = [_edge_points(cell, p["rcid"], 1)
                     for p in fspt
                     if p["rcnm"] == RCNM_VE and p["usag"] == 2]
        rings = []
        for chain in (_build_rings(ext_parts) + _build_rings(int_parts)):
            if len(chain) >= 3:
                if chain[0] != chain[-1]:
                    chain.append(chain[0])
                rings.append(chain)
        if rings:
            wkb = _wkb_polygon(rings)

    return {
        "layer": acronym,
        "rcid": frid.get("RCID", 0),
        "prim": prim,
        "grup": frid.get("GRUP", 0),
        "objl": objl,
        "rver": frid.get("RVER", 0),
        "agen": agen, "fidn": fidn, "fids": fids,
        "lnam": lnam,
        "attrs": attrs, "natf": natf,
        "wkb": wkb,
    }


# ------------------------------------------------------------- scan
S57_SCHEMA = ("layer string, rcid int, prim int, grup int, objl int, "
              "rver int, agen int, fidn bigint, fids int, "
              "lnam string, attributes map<string,string>, "
              "natf map<string,string>, geometry binary, "
              "source string")


def _cell_groups(paths, discover_updates=True):
    """Group base cells (.000) with their update files (.001, …).
    Updates sitting next to a base cell are discovered on disk even
    when the glob only matched the .000 files (the ENC convention:
    updates always live beside their base)."""
    import glob as _glob

    groups = {}
    for p in sorted(paths):
        stem, ext = os.path.splitext(p)
        if ext and ext[1:].isdigit() and int(ext[1:]) > 0:
            groups.setdefault(stem, {"base": None,
                                     "updates": set()})["updates"].add(p)
        else:
            groups.setdefault(stem, {"base": None,
                                     "updates": set()})["base"] = p
    if discover_updates:
        for stem, g in groups.items():
            if g["base"] is None:
                continue
            for up in _glob.glob(stem + ".[0-9][0-9][0-9]"):
                ext = os.path.splitext(up)[1][1:]
                if ext.isdigit() and int(ext) > 0:
                    g["updates"].add(up)
    return [(g["base"], sorted(g["updates"]))
            for g in groups.values() if g["base"]]


def scan_s57(spark, path_glob: str, apply_updates: bool = True):
    """Glob of ENC cells (.000) -> features DataFrame, ONE TASK PER
    CELL; update cells next to their base are applied in-task."""
    groups = _cell_groups(glob_paths(path_glob))
    if not groups:
        raise FileNotFoundError(f"no base cells in {path_glob}")

    def read(r):
        with open(r.base, "rb") as f:
            buf = f.read()
        ub = []
        if apply_updates and r.updates:
            for up in r.updates.split(";"):
                with open(up, "rb") as f:
                    ub.append(f.read())
        stem = os.path.basename(r.base)
        info, feats = parse_s57(buf, updates=ub)
        rows = [{
            "layer": "DSID", "rcid": int(info.get("RCID", 0)),
            "prim": 255, "grup": 0, "objl": 0,
            "rver": 0, "agen": int(info.get("AGEN", 0) or 0),
            "fidn": 0, "fids": 0, "lnam": "",
            "attributes": {k: str(v) for k, v in info.items()
                           if v is not None},
            "natf": {}, "geometry": None, "source": stem,
        }]
        for ft in feats:
            rows.append({
                "layer": ft["layer"], "rcid": ft["rcid"],
                "prim": ft["prim"], "grup": ft["grup"],
                "objl": ft["objl"], "rver": ft["rver"],
                "agen": ft["agen"], "fidn": ft["fidn"],
                "fids": ft["fids"], "lnam": ft["lnam"],
                "attributes": ft["attrs"], "natf": ft["natf"],
                "geometry": ft["wkb"], "source": stem,
            })
        return rows

    tasks = [(b, ";".join(u)) for b, u in groups]
    return scan_files(spark, None, read, S57_SCHEMA,
                      tasks=("base string, updates string", tasks))


# ------------------------------------------------------------- writer
# S-57 data descriptive field model (IHO S-57 Part 3 field tables),
# matching what the reader's DDR parse expects
def _writer_specs():
    from .iso8211_writer import FieldSpec

    return [
        FieldSpec("0001", "ISO/IEC 8211 Record Identifier", [],
                  "(b12)", controls="0500;&   "),
        FieldSpec("DSID", "Data set identification field",
                  ["RCNM", "RCID", "EXPP", "INTU", "DSNM", "EDTN",
                   "UPDN", "UADT", "ISDT", "STED", "PRSP", "PSDN",
                   "PRED", "PROF", "AGEN", "COMT"],
                  "(b11,b14,2b11,3A,2A(8),R(4),b11,2A,b11,b12,A)"),
        FieldSpec("DSSI", "Data set structure information field",
                  ["DSTR", "AALL", "NALL", "NOMR", "NOCR", "NOGR",
                   "NOLR", "NOIN", "NOCN", "NOED", "NOFA"],
                  "(3b11,8b14)"),
        FieldSpec("DSPM", "Data set parameter field",
                  ["RCNM", "RCID", "HDAT", "VDAT", "SDAT", "CSCL",
                   "DUNI", "HUNI", "PUNI", "COUN", "COMF", "SOMF",
                   "COMT"],
                  "(b11,b14,3b11,b14,4b11,2b14,A)"),
        FieldSpec("VRID", "Vector record identifier field",
                  ["RCNM", "RCID", "RVER", "RUIN"],
                  "(b11,b14,b12,b11)"),
        FieldSpec("SG2D", "2-D coordinate field",
                  ["YCOO", "XCOO"], "(2b24)", repeating=True),
        FieldSpec("SG3D", "3-D coordinate field",
                  ["YCOO", "XCOO", "VE3D"], "(3b24)",
                  repeating=True),
        FieldSpec("VRPT", "Vector record pointer field",
                  ["NAME", "ORNT", "USAG", "TOPI", "MASK"],
                  "(B(40),4b11)", repeating=True),
        FieldSpec("FRID", "Feature record identifier field",
                  ["RCNM", "RCID", "PRIM", "GRUP", "OBJL", "RVER",
                   "RUIN"],
                  "(b11,b14,2b11,2b12,b11)"),
        FieldSpec("FOID", "Feature object identifier field",
                  ["AGEN", "FIDN", "FIDS"], "(b12,b14,b12)"),
        FieldSpec("ATTF", "Feature record attribute field",
                  ["ATTL", "ATVL"], "(b12,A)", repeating=True),
        FieldSpec("FSPT", "Feature record to spatial record "
                  "pointer field",
                  ["NAME", "ORNT", "USAG", "MASK"],
                  "(B(40),3b11)", repeating=True),
    ]


_WRITER_TREE = [("0001", "DSID"), ("DSID", "DSSI"),
                ("0001", "DSPM"), ("0001", "VRID"),
                ("VRID", "SG2D"), ("VRID", "SG3D"),
                ("VRID", "VRPT"), ("0001", "FRID"),
                ("FRID", "FOID"), ("FRID", "ATTF"),
                ("FRID", "FSPT")]

_ACRONYM_TO_OBJL = {v: k for k, v in OBJECT_CLASSES.items()}
_ACRONYM_TO_ATTL = {v: k for k, v in ATTRIBUTES.items()}


def _name_bytes(rcnm: int, rcid: int) -> bytes:
    return bytes([rcnm]) + struct.pack("<I", rcid)


class _CellWriter:
    def __init__(self, dsnm, comf, somf, agen=550):
        self.dsnm = dsnm
        self.comf = comf
        self.somf = somf
        self.agen = agen
        self.vectors = []    # (rcnm, rcid, fields)
        self.features = []
        self.rcid = {110: 0, 120: 0, 130: 0}
        self.frid = 0
        self.fidn = 0

    def _coord2(self, x, y):
        return {"YCOO": int(round(y * self.comf)),
                "XCOO": int(round(x * self.comf))}

    def add_node(self, pts2=None, pts3=None, connected=False):
        rcnm = 120 if connected else 110
        self.rcid[rcnm] += 1
        rcid = self.rcid[rcnm]
        fields = []
        if pts3:
            fields.append(("SG3D", [dict(self._coord2(x, y),
                                         VE3D=int(round(z *
                                                        self.somf)))
                                    for x, y, z in pts3]))
        elif pts2:
            fields.append(("SG2D", [self._coord2(x, y)
                                    for x, y in pts2]))
        self.vectors.append((rcnm, rcid, fields))
        return rcnm, rcid

    def add_edge(self, pts):
        """Full point list -> begin/end connected nodes + edge."""
        begin = self.add_node(pts2=[pts[0]], connected=True)
        if pts[-1] == pts[0]:
            end = begin
        else:
            end = self.add_node(pts2=[pts[-1]], connected=True)
        self.rcid[130] += 1
        rcid = self.rcid[130]
        fields = [("VRPT", [
            {"NAME": _name_bytes(*begin), "ORNT": 255, "USAG": 255,
             "TOPI": 1, "MASK": 255},
            {"NAME": _name_bytes(*end), "ORNT": 255, "USAG": 255,
             "TOPI": 2, "MASK": 255},
        ])]
        interior = pts[1:-1]
        if interior:
            fields.append(("SG2D", [self._coord2(x, y)
                                    for x, y in interior]))
        self.vectors.append((130, rcid, fields))
        return 130, rcid

    def add_feature(self, acronym, prim, attrs, fspt, grup=1,
                    rcid=None):
        self.frid += 1
        self.fidn += 1
        objl = _ACRONYM_TO_OBJL.get(acronym, 0)
        attf = []
        for k, v in (attrs or {}).items():
            code = _ACRONYM_TO_ATTL.get(k)
            if code is not None:
                attf.append({"ATTL": code, "ATVL": str(v)})
        self.features.append({
            "rcid": rcid if rcid is not None else self.frid,
            "prim": prim, "grup": grup, "objl": objl,
            "attf": attf, "fspt": fspt,
        })

    def serialize(self) -> bytes:
        from .iso8211_writer import (
            build_ddr,
            build_dr,
            encode_subfields,
        )

        specs = {s.tag: s for s in _writer_specs()}
        out = bytearray(build_ddr(list(specs.values()),
                                  _WRITER_TREE))
        recid = 0

        def rec(fields):
            nonlocal recid
            recid += 1
            data = [("0001", encode_subfields(
                specs["0001"], [{"0001": recid}]))]
            for tag, groups in fields:
                data.append((tag, encode_subfields(specs[tag],
                                                   groups)))
            return build_dr(data)

        nin = sum(1 for r, _, _ in self.vectors if r == 110)
        ncn = sum(1 for r, _, _ in self.vectors if r == 120)
        ned = sum(1 for r, _, _ in self.vectors if r == 130)
        out += rec([
            ("DSID", [{"RCNM": 10, "RCID": 1, "EXPP": 1, "INTU": 4,
                       "DSNM": self.dsnm, "EDTN": "1", "UPDN": "0",
                       "UADT": "20260101", "ISDT": "20260101",
                       "STED": "03.1", "PRSP": 1, "PSDN": "",
                       "PRED": "2.0", "PROF": 1,
                       "AGEN": self.agen, "COMT": ""}]),
            ("DSSI", [{"DSTR": 2, "AALL": 1, "NALL": 1,
                       "NOMR": len(self.features), "NOCR": 0,
                       "NOGR": len(self.features), "NOLR": 0,
                       "NOIN": nin, "NOCN": ncn, "NOED": ned,
                       "NOFA": 0}]),
        ])
        out += rec([
            ("DSPM", [{"RCNM": 20, "RCID": 1, "HDAT": 2,
                       "VDAT": 17, "SDAT": 23, "CSCL": 25000,
                       "DUNI": 1, "HUNI": 1, "PUNI": 1, "COUN": 1,
                       "COMF": self.comf, "SOMF": self.somf,
                       "COMT": ""}]),
        ])
        for rcnm, rcid, fields in self.vectors:
            out += rec([("VRID", [{"RCNM": rcnm, "RCID": rcid,
                                   "RVER": 1, "RUIN": 1}])] +
                       fields)
        for ft in self.features:
            fields = [
                ("FRID", [{"RCNM": 100, "RCID": ft["rcid"],
                           "PRIM": ft["prim"],
                           "GRUP": ft["grup"],
                           "OBJL": ft["objl"], "RVER": 1,
                           "RUIN": 1}]),
                ("FOID", [{"AGEN": self.agen,
                           "FIDN": 0x10000 + ft["rcid"],
                           "FIDS": ft["rcid"]}]),
            ]
            if ft["attf"]:
                fields.append(("ATTF", ft["attf"]))
            if ft["fspt"]:
                fields.append(("FSPT", ft["fspt"]))
            out += rec(fields)
        return bytes(out)


def _wkb_coords(wkb: bytes):
    """Parse the writer-supported WKB subset -> (kind, parts)."""
    t = struct.unpack_from("<I", wkb, 1)[0]
    if t == 1:
        return "point", [struct.unpack_from("<dd", wkb, 5)]
    if t == 2:
        n = struct.unpack_from("<I", wkb, 5)[0]
        return "line", [[struct.unpack_from("<dd", wkb, 9 + 16 * k)
                         for k in range(n)]]
    if t == 5:
        n = struct.unpack_from("<I", wkb, 5)[0]
        off = 9
        parts = []
        for _ in range(n):
            m = struct.unpack_from("<I", wkb, off + 5)[0]
            parts.append([struct.unpack_from("<dd", wkb,
                                             off + 9 + 16 * k)
                          for k in range(m)])
            off += 9 + 16 * m
        return "line", parts
    if t == 3:
        nr = struct.unpack_from("<I", wkb, 5)[0]
        off = 9
        rings = []
        for _ in range(nr):
            m = struct.unpack_from("<I", wkb, off)[0]
            rings.append([struct.unpack_from("<dd", wkb,
                                             off + 4 + 16 * k)
                          for k in range(m)])
            off += 4 + 16 * m
        return "area", rings
    if t == 1004:
        n = struct.unpack_from("<I", wkb, 5)[0]
        pts = []
        off = 9
        for _ in range(n):
            pts.append(struct.unpack_from("<ddd", wkb, off + 5))
            off += 29
        return "soundings", [pts]
    raise ValueError(f"S57 writer: unsupported WKB type {t}")


def write_s57(features, path: str, dsnm=None, comf=10000000,
              somf=10, agen=550):
    """Feature dicts (layer, prim hint ignored — derived from WKB,
    attrs dict, wkb) -> one .000 ENC cell at `path` (the writer's
    simple topology: one edge per linestring/ring, unshared
    endpoint nodes, the reference's RETURN_PRIMITIVES=ON shape)."""
    path = local_path(path)
    w = _CellWriter(dsnm or os.path.basename(path), comf, somf,
                    agen)
    for ft in features:
        kind, parts = _wkb_coords(ft["wkb"])
        attrs = ft.get("attrs") or {}
        if kind == "point":
            node = w.add_node(pts2=parts)
            fspt = [{"NAME": _name_bytes(*node), "ORNT": 255,
                     "USAG": 255, "MASK": 255}]
            w.add_feature(ft["layer"], 1, attrs, fspt,
                          rcid=ft.get("rcid"))
        elif kind == "soundings":
            node = w.add_node(pts3=parts[0])
            fspt = [{"NAME": _name_bytes(*node), "ORNT": 255,
                     "USAG": 255, "MASK": 255}]
            w.add_feature(ft["layer"], 1, attrs, fspt,
                          rcid=ft.get("rcid"))
        elif kind == "line":
            fspt = []
            for pts in parts:
                edge = w.add_edge(pts)
                fspt.append({"NAME": _name_bytes(*edge), "ORNT": 1,
                             "USAG": 255, "MASK": 255})
            w.add_feature(ft["layer"], 2, attrs, fspt,
                          rcid=ft.get("rcid"))
        else:  # area
            fspt = []
            for ri, ring in enumerate(parts):
                edge = w.add_edge(ring)
                fspt.append({"NAME": _name_bytes(*edge), "ORNT": 1,
                             "USAG": 1 if ri == 0 else 2,
                             "MASK": 255})
            w.add_feature(ft["layer"], 3, attrs, fspt,
                          rcid=ft.get("rcid"))
    buf = w.serialize()
    with open(path, "wb") as f:
        f.write(buf)
    return buf
