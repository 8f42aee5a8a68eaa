"""Panorama/Raster Matrix Format (RMF: .rsw raster / .mtw DEM)
read driver.

Reference semantics: frmts/rmf/ — re-derived from the published RMF
format description (the GIS Panorama raster matrix layout):

- 320-byte header: ``RSW\\0`` / ``MTW\\0`` signature (``\\0WSR``
  marks a big-endian file whose multi-byte fields are swapped),
  version at 4 (0x0201 scales every stored offset by 256), bit
  depth @52, height/width @56/60, tile grid @64..84 (X/Y tile
  counts, tile dims, last-tile dims), color table @96/100, tile
  table @104/108, EPSG @132, georef doubles @136..207 (scale,
  resolution, pixel size, LOWER-left Y then X), compression byte
  @208, nodata double @296;
- the tile table is (offset, size) u32 pairs, row-major
  ``y*nXTiles + x``; zero offsets are unwritten (nodata) tiles;
- RSW pixel layouts: 24-bit BGR (band 1 = byte 2 — the reference's
  ``iDstBand = nBands - nBand``), 16-bit 5-5-5 packed RGB expanded
  ``(v&0x7c00)>>7 / (v&0x3e0)>>2 / (v&0x1f)<<3``, 8/4/1-bit
  palette-indexed (4-bit low-nibble-first, 1-bit MSB-first) with
  the RGBA color table; MTW payloads are raw 8/16/32/64-bit
  elevation (Byte/Int16/Int32/Float64);
- compression 1 is the RMF 12-bit hash-table LZW (mid-square
  hashing, table-index codes — NOT the sequential-code TIFF/GIF
  variant; the decoder must rebuild the identical hash table),
  replicated here from the published algorithm; compression 2
  (JPEG tiles) decodes through the engine's own from-spec JPEG
  codec.

Spark shape: one task per .rsw/.mtw file, images-table rows per
band.
"""

from __future__ import annotations

import os
import struct

import numpy as np

from ._util import glob_paths, raster_row, scan_files

NO_PRED = 0xFFFF
TABSIZE = 4096


# ------------------------------------------------------- RMF LZW
def _lzw_update(tab, pred, follow):
    f = follow - 256 if follow >= 128 else follow
    local = ((pred + f) & 0xFFFFFFFF) | 0x0800
    local = ((local * local) & 0xFFFFFFFF) >> 6 & 0x0FFF
    nxt = local
    if tab[local][0]:
        while True:
            nxt = tab[local][1]
            if nxt == 0:
                break
            local = nxt
        nxt = (local + 101) & 0x0FFF
        while tab[nxt][0]:
            nxt += 1
            if nxt >= TABSIZE:
                nxt = 0
        tab[local] = (tab[local][0], nxt, tab[local][2],
                      tab[local][3])
    tab[nxt] = (True, 0, pred, follow)


def _lzw_tab():
    tab = [(False, 0, 0, 0)] * TABSIZE
    for code in range(256):
        _lzw_update(tab, NO_PRED, code)
    return tab


def rmf_lzw_decompress(data: bytes, out_size: int) -> bytes:
    """The RMF hash-table LZW decoder (12-bit table-index codes)."""
    if len(data) < 2:
        return b""
    tab = _lzw_tab()
    out = bytearray()
    p = 0
    n = len(data)
    code = (data[p] << 4) & 0xFF0
    p += 1
    code += (data[p] >> 4) & 0x00F
    old_code = code
    bitsleft = True
    fin_char = tab[code][3]
    out.append(fin_char)
    count = TABSIZE - 256
    while p < n and len(out) < out_size:
        if bitsleft:
            code = ((data[p] & 0x0F) << 8) & 0xF00
            p += 1
            if p >= n:
                break
            code += data[p]
            p += 1
            bitsleft = False
        else:
            code = (data[p] << 4) & 0xFF0
            p += 1
            if p >= n:
                break
            code += (data[p] >> 4) & 0x00F
            bitsleft = True
        in_code = code
        new_code = False
        last_char = 0
        if not tab[code][0]:
            code = old_code
            last_char = fin_char
            new_code = True
        stack = []
        while tab[code][2] != NO_PRED:
            stack.append(tab[code][3])
            code = tab[code][2]
        fin_char = tab[code][3]
        out.append(fin_char)
        out.extend(reversed(stack))
        if new_code:
            fin_char = last_char
            out.append(fin_char)
        if count > 0:
            count -= 1
            _lzw_update(tab, old_code, fin_char)
        old_code = in_code
    return bytes(out[:out_size])


# ------------------------------------------------------------ header
def parse_rmf(buf: bytes):
    """.rsw/.mtw bytes -> (bands list, gt, info dict)."""
    sig = buf[:4]
    if sig == b"MTW\x00":
        mtw, be = True, False
    elif sig == b"RSW\x00":
        mtw, be = False, False
    elif sig == b"\x00WSR":
        mtw, be = False, True
    else:
        raise ValueError("RMF: bad signature")
    e = ">" if be else "<"

    def u32(o):
        return struct.unpack_from(e + "I", buf, o)[0]

    def f64(o):
        return struct.unpack_from(e + "d", buf, o)[0]

    version = u32(4)
    scale = 256 if version >= 0x0201 else 1
    bits = u32(52)
    h, w = u32(56), u32(60)
    nxt, nyt = u32(64), u32(68)
    tile_h, tile_w = u32(72), u32(76)
    last_h, last_w = u32(80), u32(84)
    clr_off, clr_size = u32(96), u32(100)
    tt_off, tt_size = u32(104), u32(108)
    epsg = struct.unpack_from(e + "i", buf, 132)[0]
    pixel_size = f64(152)
    lly, llx = f64(160), f64(168)
    compression = buf[208]
    georef_flag = buf[244]
    nodata = f64(296)

    tiles = np.frombuffer(buf, e + "u4", count=tt_size // 4,
                          offset=tt_off * scale
                          if version >= 0x0201 else tt_off)
    # color table (RGBA records, alpha ignored by the reference)
    ctable = None
    if not mtw and bits in (1, 4, 8) and clr_size:
        nct = 1 << bits
        raw = np.frombuffer(buf, np.uint8, count=nct * 4,
                            offset=clr_off * scale
                            if version >= 0x0201 else clr_off)
        ctable = raw.reshape(nct, 4)[:, :3].copy()

    if mtw:
        dt = {8: np.uint8, 16: e + "i2", 32: e + "i4",
              64: e + "f8"}[bits]
        nbands = 1
    else:
        nbands = 3 if bits in (16, 24, 32) else 1
        dt = np.uint8

    planes = [np.zeros((h, w), dtype=np.dtype(dt).newbyteorder("="))
              for _ in range(nbands)]
    if not mtw and nbands == 1:
        pass
    for ty in range(nyt):
        for tx in range(nxt):
            nt = ty * nxt + tx
            if 2 * nt + 1 >= tiles.shape[0]:
                continue
            toff = int(tiles[2 * nt]) * (scale if version >= 0x0201
                                         else 1)
            tbytes = int(tiles[2 * nt + 1])
            if toff == 0 or tbytes == 0:
                continue
            rw = last_w if (tx == nxt - 1 and last_w) else tile_w
            rh = last_h if (ty == nyt - 1 and last_h) else tile_h
            rw = min(rw, w - tx * tile_w)
            rh = min(rh, h - ty * tile_h)
            raw_bytes = rw * rh * bits // 8
            data = buf[toff:toff + tbytes]
            if compression == 1 and tbytes < rw * rh * max(bits, 8) \
                    // 8 + 1 and tbytes != raw_bytes:
                data = rmf_lzw_decompress(data, raw_bytes)
            elif compression == 1 and tbytes != raw_bytes:
                data = rmf_lzw_decompress(data, raw_bytes)
            elif compression == 2:
                from ..jpeg import decode_jpeg

                jp = decode_jpeg(data)
                if jp.ndim == 2:
                    jp = jp[:, :, None]
                for b in range(nbands):
                    planes[b][ty * tile_h:ty * tile_h + rh,
                              tx * tile_w:tx * tile_w + rw] = \
                        jp[:rh, :rw, min(b, jp.shape[2] - 1)]
                continue
            data = data[:raw_bytes]
            if len(data) < raw_bytes:
                data = data + b"\x00" * (raw_bytes - len(data))
            if mtw or (bits == 8 and nbands == 1):
                tile = np.frombuffer(data, dt,
                                     count=rw * rh).reshape(rh, rw)
                planes[0][ty * tile_h:ty * tile_h + rh,
                          tx * tile_w:tx * tile_w + rw] = \
                    tile.astype(planes[0].dtype)
            elif bits == 24:
                tile = np.frombuffer(data, np.uint8,
                                     count=rw * rh * 3) \
                    .reshape(rh, rw, 3)
                for b in range(3):
                    # band 1 = byte index 2 (BGR storage)
                    planes[b][ty * tile_h:ty * tile_h + rh,
                              tx * tile_w:tx * tile_w + rw] = \
                        tile[:, :, 2 - b]
            elif bits == 32:
                tile = np.frombuffer(data, np.uint8,
                                     count=rw * rh * 4) \
                    .reshape(rh, rw, 4)
                for b in range(3):
                    planes[b][ty * tile_h:ty * tile_h + rh,
                              tx * tile_w:tx * tile_w + rw] = \
                        tile[:, :, 2 - b]
            elif bits == 16:
                v = np.frombuffer(data, e + "u2",
                                  count=rw * rh).reshape(rh, rw) \
                    .astype(np.uint32)
                chans = [((v & 0x7C00) >> 7), ((v & 0x03E0) >> 2),
                         ((v & 0x1F) << 3)]
                for b in range(3):
                    planes[b][ty * tile_h:ty * tile_h + rh,
                              tx * tile_w:tx * tile_w + rw] = \
                        chans[b].astype(np.uint8)
            elif bits == 4:
                src = np.frombuffer(data, np.uint8,
                                    count=(rw * rh + 1) // 2)
                pix = np.zeros(rw * rh, np.uint8)
                idx = np.arange(rw * rh)
                by = src[idx // 2]
                pix = np.where(idx % 2 == 1, (by & 0xF0) >> 4,
                               by & 0x0F).astype(np.uint8)
                planes[0][ty * tile_h:ty * tile_h + rh,
                          tx * tile_w:tx * tile_w + rw] = \
                    pix.reshape(rh, rw)
            elif bits == 1:
                nbytes_line = (rw + 7) // 8
                src = np.frombuffer(
                    data, np.uint8,
                    count=nbytes_line * rh).reshape(rh, nbytes_line)
                bitsarr = np.unpackbits(src, axis=1)[:, :rw]
                planes[0][ty * tile_h:ty * tile_h + rh,
                          tx * tile_w:tx * tile_w + rw] = bitsarr
            else:
                raise ValueError(f"RMF: bit depth {bits}")
    if georef_flag:
        gt = (llx, pixel_size, 0.0, lly + h * pixel_size, 0.0,
              -pixel_size)
    else:
        gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    info = {"mtw": mtw, "bits": int(bits), "epsg": int(epsg),
            "nodata": nodata if mtw else None,
            "compression": int(compression),
            "color_table": ctable}
    return planes, gt, info


def scan_rmf(spark, path_glob: str):
    """Glob of .rsw/.mtw files -> images-table rows (one per
    band)."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "nodata double, band int, source string")

    def read(r):
        with open(r.path, "rb") as f:
            buf = f.read()
        stem = os.path.basename(r.path)
        bands, gt, info = parse_rmf(buf)
        return [raster_row(f"{stem}#{b}", arr, gt, info["epsg"],
                           info["nodata"], band=b, source=stem)
                for b, arr in enumerate(bands)]

    return scan_files(spark, glob_paths(path_glob), read, schema)
