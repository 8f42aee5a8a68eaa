"""Esri Compact Cache V2 (bundled tile cache / .tpkx) read driver.

Reference semantics: frmts/esric/esric_dataset.cpp — re-derived
from the published Esri compact cache V2 bundle specification:

- a cache is ``conf.xml`` (CacheInfo: TileCacheInfo SRS + LODInfos,
  TileCols/Rows, PacketSize, TileImageInfo CacheTileFormat) with
  bundles under ``_alllayers/L{lod:02d}/R{row:04x}C{col:04x}.bundle``
  — or a ``.tpkx`` ZIP whose ``root.json`` carries the same facts
  (tileInfo/lods, storageInfo packetSize, tileImageInfo format)
  with bundles under ``tile/``;
- a V2 bundle is a 64-byte header (record count @4, 40 @32, index
  size 128·128·8 @60) followed by 128x128 little-endian u64 slots:
  ``offset = v & 0xffffffffff`` (40 bits), ``size = v >> 40``;
  zero-size slots and missing bundle files are transparent tiles;
- tiles are PNG or JPEG payloads decoded here by the engine's own
  from-spec codecs; a level-L world grid is 2^L x 2^L tiles of
  256px on the standard web-mercator scheme, geotransformed from
  the tile origin at the LOD resolution.

Spark shape: ``scan_esric`` fans out ONE TASK PER BUNDLE (a large
cache is tens of thousands of bundles of 128x128 tiles) and emits
one RGBA row per bundle; ``read_esric_level`` is the in-task /
test-side full-level compositor.
"""

from __future__ import annotations

import io
import json
import math
import os
import re
import struct
import tarfile
import xml.etree.ElementTree as ET
import zipfile

import numpy as np

from ._util import local_path, raster_row, scan_files

BSZ = 128
WEB_MERC_ORIGIN = 20037508.342787


class _Source:
    """File access over a directory, .tar, or .tpkx zip."""

    def __init__(self, path: str):
        path = local_path(path)
        self.kind = "dir"
        if path.lower().endswith((".tpkx", ".zip")):
            self.zf = zipfile.ZipFile(path)
            self.kind = "zip"
            self.names = {n.lower(): n for n in self.zf.namelist()}
        elif path.lower().endswith(".tar"):
            self.tf = tarfile.open(path)
            self.kind = "tar"
            self.names = {m.name.lower(): m.name
                          for m in self.tf.getmembers()}
        else:
            self.base = path

    def read(self, rel: str):
        rel = rel.replace("\\", "/")
        if self.kind == "zip" or self.kind == "tar":
            key = None
            for cand in self.names:
                if cand.endswith(rel.lower()):
                    key = self.names[cand]
                    break
            if key is None:
                return None
            if self.kind == "zip":
                return self.zf.read(key)
            return self.tf.extractfile(key).read()
        p = os.path.join(self.base, rel)
        if not os.path.exists(p):
            return None
        with open(p, "rb") as f:
            return f.read()


def _parse_conf(src: _Source):
    xml = src.read("conf.xml")
    if xml is not None:
        root = ET.fromstring(xml.decode("utf-8", "replace"))
        def t(path, default=None):
            el = root.find(path)
            return el.text if el is not None else default
        lods = []
        for lod in root.iter():
            if lod.tag.endswith("LODInfo"):
                lv = res = None
                for ch in lod:
                    if ch.tag.endswith("LevelID"):
                        lv = int(ch.text)
                    if ch.tag.endswith("Resolution"):
                        res = float(ch.text)
                lods.append((lv, res))
        tsz = 256
        for el in root.iter():
            if el.tag.endswith("TileCols"):
                tsz = int(el.text)
        fmt = "PNG"
        for el in root.iter():
            if el.tag.endswith("CacheTileFormat"):
                fmt = el.text.strip()
        ox = oy = None
        for el in root.iter():
            if el.tag.endswith("TileOrigin"):
                for ch in el:
                    if ch.tag.endswith("X"):
                        ox = float(ch.text)
                    if ch.tag.endswith("Y"):
                        oy = float(ch.text)
        return {"lods": dict(lods), "tsz": tsz, "fmt": fmt,
                "origin": (ox if ox is not None else
                           -WEB_MERC_ORIGIN,
                           oy if oy is not None else
                           WEB_MERC_ORIGIN),
                "layout": "_alllayers", "min_lod": 0}
    rj = src.read("root.json")
    if rj is None:
        raise ValueError("ESRIC: neither conf.xml nor root.json")
    doc = json.loads(rj)
    lods = {int(d["level"]): float(d["resolution"])
            for d in doc["tileInfo"]["lods"]}
    origin = doc["tileInfo"]["origin"]
    return {"lods": lods,
            "tsz": int(doc["tileInfo"].get("cols", 256)),
            "fmt": doc.get("tileImageInfo", {}).get("format",
                                                    "png").upper(),
            "origin": (float(origin["x"]), float(origin["y"])),
            "layout": "tile",
            "min_lod": int(doc.get("minLOD", 0))}


def _read_bundle_index(data: bytes):
    if data is None or len(data) < 64 + BSZ * BSZ * 8:
        return None
    if struct.unpack_from("<I", data, 32)[0] != 40:
        return None
    return np.frombuffer(data, "<u8", count=BSZ * BSZ, offset=64)


def _decode_tile(payload: bytes, tsz: int):
    from .. import codecs

    if payload[:2] == b"\xff\xd8":
        from ..jpeg import decode_jpeg

        arr = decode_jpeg(payload)
    else:
        arr = codecs.decode_png(payload)
    if arr.ndim == 2:
        arr = np.stack([arr] * 3 + [np.full_like(arr, 255)], axis=2)
    elif arr.shape[2] == 2:  # gray + alpha
        arr = np.stack([arr[:, :, 0]] * 3 + [arr[:, :, 1]], axis=2)
    elif arr.shape[2] == 3:
        arr = np.dstack([arr,
                         np.full(arr.shape[:2], 255, np.uint8)])
    return arr[:tsz, :tsz].astype(np.uint8)


def _bundle_canvas(src, conf, lod: int, by: int, bx: int):
    """RGBA pixels of the bundle whose top-left tile is (by, bx): the
    bundle is read once and every tile is sliced from that buffer;
    missing tiles (or a missing bundle) stay zero."""
    tsz = conf["tsz"]
    nt = 1 << lod
    span = min(BSZ, nt - by), min(BSZ, nt - bx)
    canvas = np.zeros((span[0] * tsz, span[1] * tsz, 4), np.uint8)
    data = src.read(f"{conf['layout']}/L{lod:02d}/"
                    f"R{by:04x}C{bx:04x}.bundle")
    idx = _read_bundle_index(data)
    if idx is None:
        return canvas
    for ty in range(span[0]):
        for tx in range(span[1]):
            v = int(idx[ty * BSZ + tx])
            size = v >> 40
            off = v & 0xFFFFFFFFFF
            if size == 0:
                continue
            tile = _decode_tile(data[off:off + size], tsz)
            canvas[ty * tsz:ty * tsz + tile.shape[0],
                   tx * tsz:tx * tsz + tile.shape[1], :] = tile
    return canvas


def read_esric_level(path: str, lod: int):
    """Cache path (dir with conf.xml / .tar / .tpkx) + LOD ->
    ((n, n, 4) uint8 RGBA world grid, gt)."""
    src = _Source(path)
    conf = _parse_conf(src)
    tsz = conf["tsz"]
    ntiles = 1 << lod
    n = ntiles * tsz
    out = np.zeros((n, n, 4), np.uint8)
    res = conf["lods"].get(lod)
    for by in range(0, ntiles, BSZ):
        for bx in range(0, ntiles, BSZ):
            canvas = _bundle_canvas(src, conf, lod, by, bx)
            out[by * tsz:by * tsz + canvas.shape[0],
                bx * tsz:bx * tsz + canvas.shape[1], :] = canvas
    ox, oy = conf["origin"]
    if res is None:
        res = 2 * WEB_MERC_ORIGIN / n
    gt = (ox, res, 0.0, oy, 0.0, -res)
    return out, gt


def scan_esric(spark, path: str, lod: int):
    """Cache + LOD -> RGBA images-table rows, ONE TASK PER BUNDLE."""
    src = _Source(local_path(path))
    conf = _parse_conf(src)
    ntiles = 1 << lod
    tasks = []
    for by in range(0, ntiles, BSZ):
        for bx in range(0, ntiles, BSZ):
            tasks.append((path, lod, by, bx))
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "source string")

    def read(r):
        s = _Source(local_path(r.path))
        c = _parse_conf(s)
        tsz = c["tsz"]
        canvas = _bundle_canvas(s, c, r.lod, r.by, r.bx)
        res = c["lods"].get(r.lod,
                            2 * WEB_MERC_ORIGIN / ((1 << r.lod) * tsz))
        ox, oy = c["origin"]
        gt = (ox + r.bx * tsz * res, res, 0.0,
              oy - r.by * tsz * res, 0.0, -res)
        return [raster_row(f"L{r.lod:02d}R{r.by:04x}C{r.bx:04x}", canvas,
                           gt, 3857,
                           source=os.path.basename(r.path.rstrip("/")))]

    return scan_files(spark, None, read, schema,
                      tasks=("path string, lod int, by int, bx int", tasks))
