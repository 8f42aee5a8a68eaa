"""NIMA ADRG (ARC Digitized Raster Graphics) read driver.

Reference semantics: frmts/adrg/adrgdataset.cpp — re-derived from
the published MIL-A-89007 ADRG specification on top of the
from-scratch ISO 8211 reader (``formats.iso8211``):

- the ``.GEN`` general-information file is ISO 8211: the GIN record
  (001.RTY == "GIN") carries DSI (PRT "ADRG", NAM), GEN (SCA, ZNA,
  ARV/BRV pixel counts per 360°, LSO ``±dddmmss.ss`` / PSO
  ``±ddmmss.ss`` origin strings), SPR (NFL/NFC tile grid, PNC/PNL
  128x128 tiles, BAD = the ``.IMG`` payload name, TIF flag) and —
  when TIF == Y — a TIM tile-index list of 5-char ASCII slots where
  0 marks an empty (zero) tile;
- the ``.IMG`` payload is an ISO 8211 wrapper whose data begins
  after the "IMG" field marker (field terminator + tag scan, then
  space padding — the reference's byte-walk, replicated exactly);
  pixels are 128x128 tiles, R/G/B planes sequential within each
  tile (tile block = 3·128² bytes);
- georeferencing by zone: ZNA 9/18 are the polar ARC zones on the
  6378137 authalic sphere (azimuthal equidistant,
  x = 111319.4907933·(90∓PSO)·sin(LSO), cell 40075016.68558/ARV),
  every other zone is geographic (gt = (LSO, 360/ARV, 0, PSO, 0,
  -360/BRV)) — conformance-pinned against the reference's quoted
  ZNA9/ZNA18 geotransforms at 1e-5.

Spark shape: one task per GEN/IMG pair (an ADRG product is a CD of
many distribution rectangles), standard images-table rows per band.
"""

from __future__ import annotations

import math
import os

import numpy as np

from ._util import glob_paths, raster_row, scan_files
from .iso8211 import Iso8211Reader

TILE = 128


def _coord(s: str, lat: bool) -> float:
    s = s.strip()
    sign = -1.0 if s[0] == "-" else 1.0
    s = s[1:]
    nd = 2 if lat else 3
    d = int(s[:nd])
    m = int(s[nd:nd + 2])
    sec = float(s[nd + 2:])
    return sign * (d + m / 60.0 + sec / 3600.0)


def parse_gen(buf: bytes):
    """.GEN bytes -> list of image descriptors (one per GIN record)."""
    rdr = Iso8211Reader(buf)
    out = []
    for rec in rdr.records():
        rty = (rec.get("001") or [{}])[0].get("RTY")
        if rty != "GIN":
            continue
        dsi = (rec.get("DSI") or [{}])[0]
        gen = (rec.get("GEN") or [{}])[0]
        spr = (rec.get("SPR") or [{}])[0]
        if str(gen.get("STR", "")).strip() != "3":
            continue
        d = {
            "nam": dsi.get("NAM", "").strip(),
            "sca": int(gen.get("SCA", 0) or 0),
            "zna": int(gen.get("ZNA", 0) or 0),
            "arv": int(gen.get("ARV", 0) or 0),
            "brv": int(gen.get("BRV", 0) or 0),
            "lso": _coord(gen["LSO"], lat=False),
            "pso": _coord(gen["PSO"], lat=True),
            "nfl": int(spr.get("NFL", 0) or 0),
            "nfc": int(spr.get("NFC", 0) or 0),
            "pnc": int(spr.get("PNC", 0) or 0),
            "pnl": int(spr.get("PNL", 0) or 0),
            "bad": str(spr.get("BAD", "")).split()[0],
            "tif": str(spr.get("TIF", "N")).startswith("Y"),
            "tile_index": None,
        }
        if d["tif"]:
            tims = rec.get("TIM") or []
            idx = [int(g.get("TSI", 0) or 0) for g in tims]
            d["tile_index"] = idx
        out.append(d)
    return out


def _img_data_offset(buf: bytes) -> int:
    """Replicates the reference's IMG-field byte walk."""
    p = 0
    n = len(buf)
    while p < n:
        if buf[p] == 0x1E and buf[p + 1:p + 4] == b"IMG":
            q = p + 1 + 3 + 4 + 3
            while q < n and buf[q] == 0x20:
                q += 1
            return q + 1
        p += 1
    raise ValueError("ADRG: no IMG field in payload file")


def _gt_for(d: dict):
    zna, arv, brv = d["zna"], d["arv"], d["brv"]
    lso, pso = d["lso"], d["pso"]
    if zna == 9:  # north polar ARC zone
        cell = 40075016.68558 / arv
        return (111319.4907933 * (90.0 - pso) *
                math.sin(lso * math.pi / 180.0), cell, 0.0,
                -111319.4907933 * (90.0 - pso) *
                math.cos(lso * math.pi / 180.0), 0.0, -cell)
    if zna == 18:  # south polar
        cell = 40075016.68558 / arv
        return (111319.4907933 * (90.0 + pso) *
                math.sin(lso * math.pi / 180.0), cell, 0.0,
                111319.4907933 * (90.0 + pso) *
                math.cos(lso * math.pi / 180.0), 0.0, -cell)
    return (lso, 360.0 / arv, 0.0, pso, 0.0, -360.0 / brv)


def parse_adrg(gen_buf: bytes, img_buf: bytes, which: int = 0):
    """GEN + IMG bytes -> ((h, w, 3) uint8 RGB, gt, info dict)."""
    descs = parse_gen(gen_buf)
    if not descs:
        raise ValueError("ADRG: no GIN record in GEN file")
    d = descs[which]
    if d["pnc"] != TILE or d["pnl"] != TILE:
        raise ValueError("ADRG: only 128x128 tiles are defined")
    off0 = _img_data_offset(img_buf)
    nfl, nfc = d["nfl"], d["nfc"]
    h, w = nfl * TILE, nfc * TILE
    out = np.zeros((h, w, 3), np.uint8)
    tsize = TILE * TILE * 3
    for ty in range(nfl):
        for tx in range(nfc):
            nblock = ty * nfc + tx
            if d["tile_index"] is not None:
                idx = d["tile_index"][nblock] \
                    if nblock < len(d["tile_index"]) else 0
                if idx == 0:
                    continue
                toff = off0 + (idx - 1) * tsize
            else:
                toff = off0 + nblock * tsize
            for b in range(3):
                plane = np.frombuffer(
                    img_buf, np.uint8, count=TILE * TILE,
                    offset=toff + b * TILE * TILE)
                out[ty * TILE:(ty + 1) * TILE,
                    tx * TILE:(tx + 1) * TILE, b] = \
                    plane.reshape(TILE, TILE)
    return out, _gt_for(d), d


def scan_adrg(spark, path_glob: str):
    """Glob of .GEN files -> images-table rows (3 bands per
    distribution rectangle), one task per GEN/IMG pair."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "band int, zna int, nam string, source string")

    def read(r):
        with open(r.path, "rb") as f:
            gen = f.read()
        base = os.path.dirname(r.path)
        stem = os.path.basename(r.path)
        rows = []
        for wi, d in enumerate(parse_gen(gen)):
            img_path = None
            for cand in os.listdir(base):
                if cand.lower() == d["bad"].lower():
                    img_path = os.path.join(base, cand)
                    break
            if img_path is None:
                continue
            with open(img_path, "rb") as f:
                img = f.read()
            rgb, gt, _ = parse_adrg(gen, img, wi)
            srid = 4326 if d["zna"] not in (9, 18) else 0
            rows += [raster_row(f"{stem}:{wi}#{b}", rgb[:, :, b], gt,
                                srid, band=b, zna=d["zna"], nam=d["nam"],
                                source=stem)
                     for b in range(3)]
        return rows

    return scan_files(spark, glob_paths(path_glob), read, schema)
