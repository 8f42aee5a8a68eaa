"""NGA SRP (Standard Raster Product: ASRP / USRP) read driver.

Reference semantics: frmts/adrg/srpdataset.cpp — re-derived from
the published ASRP (DGIWG) and USRP (MIL-PRF-89038) specifications
on top of the from-scratch ISO 8211 reader:

- the ``.GEN`` GIN record carries DSI (PRT "ASRP"/"USRP", NAM),
  GEN (SCA scale, ZNA zone, PSP, and EITHER the USRP metre grid
  LSO/PSO origins + LOD/LAD cell sizes, OR the ASRP arc-second
  LSO/PSO with ARV/BRV pixels-per-360°) and SPR (NFL/NFC 128x128
  tile grid, PCB compression code, PVB bits, BAD payload name,
  TIF/TIM tile index);
- georeferencing: USRP -> (LSO, LOD, 0, PSO, 0, -LAD) in the UTM
  zone ZNA (EPSG 326xx/327xx); ASRP -> geographic from the
  arc-second origins (/3600) with 360/ARV cells; ZNA 9/18 are the
  same polar ARC formulas as ADRG;
- the ``.IMG`` payload: data after the "IMG" field marker (the
  ADRG byte walk), 128x128 single-band tiles — PCB 0 uncompressed,
  PCB 8 (count, value) byte-pair RLE, PCB 4 nibble RLE (4-bit
  count, 8-bit value straddling bytes, rows flushed to byte
  boundaries) — each tile independently compressed with its
  offset from the TIM index when TIF=Y;
- the sibling ``.QAL`` quality file (ISO 8211) carries the COL
  color table (CCD index -> NSR/NSG/NSB).

Spark shape: one task per GEN/IMG pair, palette-indexed
images-table rows with the color table carried as JSON.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np

from ._util import glob_paths, raster_row, scan_files
from .adrg import _img_data_offset
from .iso8211 import Iso8211Reader

TILE = 128


def _f(v, default=0.0):
    try:
        return float(str(v).strip())
    except (TypeError, ValueError):
        return default


def parse_srp_gen(buf: bytes):
    """.GEN bytes -> product descriptor dict."""
    rdr = Iso8211Reader(buf)
    for rec in rdr.records():
        rty = (rec.get("001") or [{}])[0].get("RTY")
        if rty != "GIN":
            continue
        dsi = (rec.get("DSI") or [{}])[0]
        gen = (rec.get("GEN") or [{}])[0]
        spr = (rec.get("SPR") or [{}])[0]
        d = {
            "product": str(dsi.get("PRT", "")).strip(),
            "nam": str(dsi.get("NAM", "")).strip(),
            "sca": int(_f(gen.get("SCA", 0))),
            "zna": int(_f(gen.get("ZNA", 0))),
            "psp": _f(gen.get("PSP", 0)),
            "lso": _f(gen.get("LSO", 0)),
            "pso": _f(gen.get("PSO", 0)),
            "lod": _f(gen.get("LOD", 0)),
            "lad": _f(gen.get("LAD", 0)),
            "arv": int(_f(gen.get("ARV", 0))),
            "brv": int(_f(gen.get("BRV", 0))),
            "nfl": int(_f(spr.get("NFL", 0))),
            "nfc": int(_f(spr.get("NFC", 0))),
            "pcb": int(_f(spr.get("PCB", 0))),
            "pvb": int(_f(spr.get("PVB", 8))),
            "bad": str(spr.get("BAD", "")).split()[0],
            "tif": str(spr.get("TIF", "N")).startswith("Y"),
            "tile_index": None,
        }
        tims = rec.get("TIM") or []
        if d["tif"] and tims:
            d["tile_index"] = [int(_f(g.get("TSI", 0)))
                               for g in tims]
        return d
    raise ValueError("SRP: no GIN record in GEN file")


def _gt_for(d):
    if d["product"] == "USRP" or (d["lod"] and d["lad"]):
        return (d["lso"], d["lod"], 0.0, d["pso"], 0.0, -d["lad"])
    lso, pso = d["lso"] / 3600.0, d["pso"] / 3600.0
    if d["zna"] == 9:
        cell = 40075016.68558 / d["arv"]
        return (111319.4907933 * (90.0 - pso) *
                math.sin(lso * math.pi / 180.0), cell, 0.0,
                -111319.4907933 * (90.0 - pso) *
                math.cos(lso * math.pi / 180.0), 0.0, -cell)
    if d["zna"] == 18:
        cell = 40075016.68558 / d["arv"]
        return (111319.4907933 * (90.0 + pso) *
                math.sin(lso * math.pi / 180.0), cell, 0.0,
                111319.4907933 * (90.0 + pso) *
                math.cos(lso * math.pi / 180.0), 0.0, -cell)
    return (lso, 360.0 / d["arv"], 0.0, pso, 0.0, -360.0 / d["brv"])


def _decode_tile(data: bytes, pcb: int) -> np.ndarray:
    if pcb == 0:
        return np.frombuffer(data, np.uint8,
                             count=TILE * TILE).reshape(TILE, TILE)
    out = np.zeros(TILE * TILE, np.uint8)
    i = 0
    ipix = 0
    half = False
    n = len(data)
    while ipix < TILE * TILE and i < n:
        if pcb == 8:
            if i + 2 > n:
                break
            count = data[i]
            value = data[i + 1]
            i += 2
        else:  # pcb == 4: nibble counts
            if (ipix % TILE) == 0 and half:
                i += 1
                half = False
                continue
            if half:
                count = data[i] & 0xF
                value = data[i + 1]
                i += 2
                half = False
            else:
                count = data[i] >> 4
                value = ((data[i] & 0xF) << 4) | (data[i + 1] >> 4)
                half = True
                i += 1
        count = min(count, TILE * TILE - ipix)
        out[ipix:ipix + count] = value
        ipix += count
    return out.reshape(TILE, TILE)


def parse_srp(gen_buf: bytes, img_buf: bytes, qal_buf: bytes = None):
    """GEN + IMG (+ QAL) bytes -> ((h, w) uint8, gt, color table
    list, descriptor)."""
    d = parse_srp_gen(gen_buf)
    off0 = _img_data_offset(img_buf)
    nfl, nfc = d["nfl"], d["nfc"]
    out = np.zeros((nfl * TILE, nfc * TILE), np.uint8)
    # tile payloads: uncompressed tiles are fixed-size; compressed
    # ones are located via the TIM index (1-based block slots for
    # PCB 0; byte offsets semantics follow the fixed-size model the
    # reference uses for PCB 0 and per-tile scan for RLE)
    if d["pcb"] == 0:
        tsize = TILE * TILE
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
                out[ty * TILE:(ty + 1) * TILE,
                    tx * TILE:(tx + 1) * TILE] = _decode_tile(
                        img_buf[toff:toff + tsize], 0)
    else:
        # RLE: single-tile products decode from the data start;
        # multi-tile RLE needs the TIM byte offsets
        if nfl * nfc == 1:
            out[:, :] = _decode_tile(img_buf[off0:], d["pcb"])
        else:
            offs = d["tile_index"] or []
            for nblock in range(nfl * nfc):
                ty, tx = divmod(nblock, nfc)
                if nblock >= len(offs) or offs[nblock] == 0:
                    continue
                toff = off0 + offs[nblock] - 1
                out[ty * TILE:(ty + 1) * TILE,
                    tx * TILE:(tx + 1) * TILE] = _decode_tile(
                        img_buf[toff:], d["pcb"])
    ct = []
    if qal_buf:
        ct = parse_srp_qal(qal_buf)
    return out, _gt_for(d), ct, d


def parse_srp_qal(buf: bytes):
    """.QAL bytes -> [(index, r, g, b), ...]."""
    rdr = Iso8211Reader(buf)
    out = []
    for rec in rdr.records():
        for g in rec.get("COL", []):
            try:
                out.append((int(_f(g.get("CCD"))),
                            int(_f(g.get("NSR"))),
                            int(_f(g.get("NSG"))),
                            int(_f(g.get("NSB")))))
            except (TypeError, ValueError):
                continue
    return out


def scan_srp(spark, path_glob: str):
    """Glob of .GEN files -> images-table rows, one task per
    product."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "zna int, nam string, product string, sca int, "
              "color_table string, source string")

    def read(r):
        with open(r.path, "rb") as f:
            gen = f.read()
        d = parse_srp_gen(gen)
        base = os.path.dirname(r.path)
        img = qal = None
        for cand in os.listdir(base):
            if cand.lower() == d["bad"].lower():
                with open(os.path.join(base, cand), "rb") as f:
                    img = f.read()
            if cand.lower() == d["bad"].lower()[:-3] + "qal":
                with open(os.path.join(base, cand), "rb") as f:
                    qal = f.read()
        if img is None:
            return []
        arr, gt, ct, _ = parse_srp(gen, img, qal)
        zna = d["zna"]
        srid = 0
        if d["product"] == "USRP" and 1 <= abs(zna) <= 60:
            srid = (32600 + zna) if zna > 0 else (32700 - zna)
        elif d["product"] == "ASRP" and zna not in (9, 18):
            srid = 4326
        stem = os.path.basename(r.path)
        return [raster_row(stem, arr, gt, srid, zna=zna, nam=d["nam"],
                           product=d["product"], sca=d["sca"],
                           color_table=json.dumps(ct), source=stem)]

    return scan_files(spark, glob_paths(path_glob), read, schema)
