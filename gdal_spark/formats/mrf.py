"""Esri/NASA Meta Raster Format (MRF) read driver.

Reference semantics: frmts/mrf/ (marfa_dataset + LERCV1) —
re-derived from the published MRF specification (the NASA GIBS /
Esri MRF format description) and the public LERC v1 codestream:

- a dataset is an ``.mrf`` XML (``MRF_META/Raster``: Size,
  PageSize, Compression (defaulting to PNG, the reference's default), DataType; ``GeoTags/BoundingBox``), an
  ``.idx`` of big-endian (u64 offset, u64 size) per page, and a
  data file whose extension names the compression (.til NONE,
  .ppg PNG, .pjg JPEG, .pzp DEFLATE, .ptf TIF, .lrc LERC);
- NONE pages are raw page-size arrays; PNG/JPEG/TIF pages decode
  through the engine's own codecs; DEFLATE pages are zlib;
- LERC v1 ("CntZImage " magic, version 11): a two-part stream —
  the valid-pixel mask (RLE-compressed MSB-first bitmask with
  -32768 EOT and negative repeat counts) and the Z part, a tile
  grid of blocks flagged raw/constant-0/constant-min/bit-stuffed,
  each bit-stuffed block holding (value-min)/(2·maxZError) quanta
  in ``numBits`` big-chunk accumulator order with variable-width
  (4/2/1-byte, selected by the flag's top two bits) minimums —
  replicated exactly from the published algorithm;
- pages are cropped to the raster size and scaled to the declared
  data type.

Spark shape: one task per page (an MRF cache is millions of
pages); ``read_mrf`` is the in-task / test-side whole-raster
compositor.
"""

from __future__ import annotations

import os
import struct
import xml.etree.ElementTree as ET
import zlib

import numpy as np

from ._util import glob_paths, local_path, raster_row, scan_files

_EXT = {"NONE": ".til", "PNG": ".ppg", "PPNG": ".ppg",
        "JPEG": ".pjg", "JPNG": ".pjg", "DEFLATE": ".pzp",
        "TIF": ".ptf", "LERC": ".lrc"}

_DTYPES = {"Byte": np.uint8, "UInt16": "<u2", "Int16": "<i2",
           "Int32": "<i4", "UInt32": "<u4", "Float32": "<f4",
           "Float64": "<f8", "Int64": "<i8", "UInt64": "<u8"}

_STIB67 = (4, 2, 1, 0)


# ------------------------------------------------------------ LERC v1
def _rle_mask(data: bytes, nbytes: int):
    out = bytearray()
    p = 0
    sz = nbytes
    while sz > 0:
        count = struct.unpack_from("<h", data, p)[0]
        p += 2
        if count < 0:
            b = data[p]
            p += 1
            sz += count
            out += bytes([b]) * (-count)
        else:
            out += data[p:p + count]
            p += count
            sz -= count
    eot = struct.unpack_from("<h", data, p)[0]
    if eot != -32768:
        raise ValueError("LERC1: bad mask EOT")
    return bytes(out)


def _read_flt(data: bytes, p: int, n: int) -> float:
    if n == 4:
        return struct.unpack_from("<f", data, p)[0]
    if n == 2:
        return float(struct.unpack_from("<h", data, p)[0])
    return float(struct.unpack_from("<b", data, p)[0])


def _blockread(data: bytes, p: int):
    """Bit-stuffed block -> (values list, new offset)."""
    numbits = data[p]
    n = _STIB67[numbits >> 6]
    numbits &= 63
    p += 1
    numel = int.from_bytes(data[p:p + n], "little")
    p += n
    if numbits == 0:
        return [0] * numel, p
    numbytes = (numel * numbits + 7) // 8
    vals = []
    bits = 0
    acc = 0
    q = p
    remaining = numbytes
    for _ in range(numel):
        if bits >= numbits:
            vals.append((acc >> (32 - numbits)) & 0xFFFFFFFF)
            acc = (acc << numbits) & 0xFFFFFFFF
            bits -= numbits
            continue
        val = 0
        if bits:
            val = (acc >> (32 - bits)) << (numbits - bits)
        nb = min(remaining, 4)
        chunk = data[q:q + nb]
        q += nb
        remaining -= nb
        acc = int.from_bytes(chunk.ljust(4, b"\x00")[:4], "little") \
            if nb == 4 else \
            int.from_bytes(b"\x00" * (4 - nb) + chunk, "little")
        bits += 32 - numbits
        val |= acc >> bits
        vals.append(val & 0xFFFFFFFF)
        acc = (acc << (32 - bits)) & 0xFFFFFFFF
    return vals, p + numbytes


def decode_lerc1(data: bytes) -> np.ndarray:
    """LERC v1 codestream -> (h, w) float32 with NaN at invalid."""
    if data[:10] != b"CntZImage ":
        raise ValueError("LERC1: bad magic (LERC2 not supported)")
    p = 10
    version, ztype, height, width = struct.unpack_from("<iiii",
                                                       data, p)
    p += 16
    max_err = struct.unpack_from("<d", data, p)[0]
    p += 8
    if version != 11 or ztype != 8:
        raise ValueError("LERC1: unsupported version/type")
    mask = np.ones(height * width, bool)
    out = np.zeros((height, width), np.float32)
    for zpart in (False, True):
        ntv, nth, numbytes = struct.unpack_from("<iii", data, p)
        p += 12
        maxval = struct.unpack_from("<f", data, p)[0]
        p += 4
        if not zpart:
            if numbytes == 0:
                mask[:] = maxval != 0.0
            else:
                raw = _rle_mask(data[p:], (height * width + 7) // 8)
                bits = np.unpackbits(
                    np.frombuffer(raw, np.uint8))[:height * width]
                mask = bits.astype(bool)
            p += numbytes
            continue
        # Z part: tile grid
        q = p
        tile_h = height // ntv
        tile_w = width // nth
        m2 = mask.reshape(height, width)
        for r0 in range(0, height, tile_h):
            r1 = min(height, r0 + tile_h)
            for c0 in range(0, width, tile_w):
                c1 = min(width, c0 + tile_w)
                flag = data[q]
                q += 1
                n = _STIB67[flag >> 6]
                flag &= 63
                if flag == 2:  # all zero
                    out[r0:r1, c0:c1] = 0.0
                    continue
                if flag == 0:  # stored floats at valid pixels
                    for rr in range(r0, r1):
                        for cc in range(c0, c1):
                            if m2[rr, cc]:
                                out[rr, cc] = struct.unpack_from(
                                    "<f", data, q)[0]
                                q += 4
                    continue
                minval = _read_flt(data, q, n)
                q += n
                if flag == 3:  # constant min
                    out[r0:r1, c0:c1] = minval
                    continue
                vals, q = _blockread(data, q)
                quanta = max_err * 2
                i = 0
                for rr in range(r0, r1):
                    for cc in range(c0, c1):
                        if m2[rr, cc]:
                            out[rr, cc] = min(
                                maxval, minval + quanta * vals[i])
                            i += 1
        p += numbytes
    out[~mask.reshape(height, width)] = np.nan
    return out


# --------------------------------------------------------------- MRF
def parse_mrf_meta(xml_text: str):
    root = ET.fromstring(xml_text)
    size = root.find(".//Raster/Size")
    page = root.find(".//Raster/PageSize")
    comp = root.find(".//Raster/Compression")
    dt = root.find(".//Raster/DataType")
    bbox = root.find(".//GeoTags/BoundingBox")
    meta = {
        "w": int(size.get("x")), "h": int(size.get("y")),
        "c": int(size.get("c", 1)),
        "pw": int(page.get("x", 512)) if page is not None else 512,
        "ph": int(page.get("y", 512)) if page is not None else 512,
        "compression": (comp.text.strip().upper()
                        if comp is not None else "PNG"),
        "dtype": np.dtype(_DTYPES[dt.text.strip()])
        if dt is not None else np.dtype(np.uint8),
    }
    if bbox is not None:
        minx = float(bbox.get("minx"))
        maxy = float(bbox.get("maxy"))
        maxx = float(bbox.get("maxx"))
        miny = float(bbox.get("miny"))
        meta["gt"] = (minx, (maxx - minx) / meta["w"], 0.0,
                      maxy, 0.0, -(maxy - miny) / meta["h"])
    else:
        meta["gt"] = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    return meta


def _decode_page(data: bytes, meta):
    comp = meta["compression"]
    pw, ph = meta["pw"], meta["ph"]
    dt = meta["dtype"]
    if comp == "NONE":
        return np.frombuffer(data, dt,
                             count=pw * ph).reshape(ph, pw)
    if comp in ("PNG", "PPNG"):
        from .. import codecs

        arr = codecs.decode_png(data)
        return arr if arr.ndim == 2 else arr[:, :, 0]
    if comp in ("JPEG", "JPNG"):
        from ..jpeg import decode_jpeg

        arr = decode_jpeg(data)
        return arr if arr.ndim == 2 else arr[:, :, 0]
    if comp == "DEFLATE":
        raw = zlib.decompress(data)
        return np.frombuffer(raw, dt, count=pw * ph).reshape(ph, pw)
    if comp == "TIF":
        from .gtiff import parse_gtiff

        arr = parse_gtiff(data)[0]
        return arr if arr.ndim == 2 else arr[:, :, 0]
    if comp == "LERC":
        z = decode_lerc1(data)
        z = np.nan_to_num(z, nan=0.0)
        if np.issubdtype(dt, np.integer):
            return np.round(z).astype(dt)
        return z.astype(dt)
    raise ValueError(f"MRF: unsupported compression {comp}")


def read_mrf(mrf_path: str):
    """.mrf path -> ((h, w) array, gt, meta)."""
    mrf_path = local_path(mrf_path)
    with open(mrf_path, encoding="utf-8") as f:
        meta = parse_mrf_meta(f.read())
    stem = os.path.splitext(mrf_path)[0]
    with open(stem + ".idx", "rb") as f:
        idx = np.frombuffer(f.read(), ">u8")
    ext = _EXT[meta["compression"]]
    data_path = stem + ext
    if not os.path.exists(data_path):
        base = os.path.dirname(mrf_path)
        sname = os.path.basename(stem)
        for cand in os.listdir(base):
            cstem, cext = os.path.splitext(cand)
            if cstem == sname and cext not in (".mrf", ".idx"):
                data_path = os.path.join(base, cand)
                break
    with open(data_path, "rb") as f:
        payload = f.read()
    w, h = meta["w"], meta["h"]
    pw, ph = meta["pw"], meta["ph"]
    px = (w + pw - 1) // pw
    out = np.zeros((h, w), dtype=meta["dtype"])
    npages = idx.shape[0] // 2
    for pi in range(npages):
        off = int(idx[2 * pi])
        size = int(idx[2 * pi + 1])
        if size == 0:
            continue
        py, pxx = divmod(pi, px)
        tile = _decode_page(payload[off:off + size], meta)
        y0, x0 = py * ph, pxx * pw
        hh = min(ph, h - y0)
        ww = min(pw, w - x0)
        if hh <= 0 or ww <= 0:
            continue
        out[y0:y0 + hh, x0:x0 + ww] = tile[:hh, :ww].astype(
            meta["dtype"])
    return out, meta["gt"], meta


def scan_mrf(spark, path_glob: str):
    """Glob of .mrf files -> images-table rows, one task per
    dataset."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "compression string, source string")

    def read(r):
        arr, gt, meta = read_mrf(r.path)
        name = (os.path.basename(os.path.dirname(r.path)) + "/"
                + os.path.basename(r.path))
        return [raster_row(name, arr, gt, 0,
                           compression=meta["compression"], source=name)]

    return scan_files(spark, glob_paths(path_glob), read, schema)
