"""GIF (CompuServe GIF87a/89a) codec + driver, written from the
published GIF89a specification.

Reference semantics: frmts/gif/{gifdataset.cpp,biggifdataset.cpp}
(which delegate to giflib; the wire format here is from the spec):

- header ``GIF87a``/``GIF89a``; logical screen descriptor (LE
  uint16 w/h, flags byte: bit7 global color table, bits0-2 its
  size as 2^(n+1) entries, 3-byte RGB entries);
- blocks: ``0x21`` extensions (``0xF9`` Graphic Control Extension
  carrying the transparent index, ``0xFF`` application e.g. XMP,
  ``0xFE`` comment — all length-prefixed sub-block chains),
  ``0x2C`` image descriptor (left/top/w/h, flags: bit7 local color
  table, bit6 interlace), ``0x3B`` trailer;
- image data: one byte LZW minimum code size, then sub-blocks of
  LZW codes packed LSB-FIRST (unlike TIFF's MSB-first variant):
  initial width min+1, CLEAR = 1<<min resets the table, EOI =
  CLEAR+1, width grows after code 2^w-1 is assigned, capped at 12
  bits (no early-change — again unlike TIFF);
- interlace de-scrambles in the four standard passes (rows 0/8,
  4/8, 2/4, 1/2);
- like the reference, band 1 is the PALETTE INDEX raster with the
  color table alongside (bug407.gif pinned at the reference's
  checksum 57921 over indices) and the GCE transparent index is
  the band nodata.

Spark shape: one task per file both ways; the sink is the usual
task-per-row writer (gray ramp or supplied palette, optional
interlace, GIF89a + GCE when nodata is set).
"""

from __future__ import annotations

import os
import struct

import numpy as np

from ._util import glob_paths, raster_row, scan_files, write_files


def _skip_subblocks(buf: bytes, off: int) -> int:
    while True:
        if off >= len(buf):
            raise ValueError("GIF: truncated sub-block chain")
        n = buf[off]
        off += 1
        if n == 0:
            return off
        off += n


def _read_subblocks(buf: bytes, off: int):
    out = []
    while True:
        if off >= len(buf):
            raise ValueError("GIF: truncated sub-block chain")
        n = buf[off]
        off += 1
        if n == 0:
            return b"".join(out), off
        out.append(buf[off:off + n])
        off += n


def _lzw_decode(data: bytes, min_code: int, npix: int) -> np.ndarray:
    """GIF-variant LZW: LSB-first packing, no early-change."""
    clear = 1 << min_code
    eoi = clear + 1
    # dictionary as (prefix_code, last_byte); roots are -1
    prefix = np.full(4096, -1, np.int32)
    suffix = np.zeros(4096, np.uint8)
    for i in range(clear):
        suffix[i] = i
    out = np.empty(npix, np.uint8)
    nout = 0
    width = min_code + 1
    next_code = eoi + 1
    bitbuf = 0
    nbits = 0
    pos = 0
    prev = -1
    stack = bytearray(4097)
    data_len = len(data)
    while nout < npix:
        while nbits < width:
            if pos >= data_len:
                # truncated stream: zero-fill remainder
                out[nout:] = 0
                return out
            bitbuf |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        nbits -= width
        if code == clear:
            width = min_code + 1
            next_code = eoi + 1
            prev = -1
            continue
        if code == eoi:
            out[nout:] = 0
            return out
        if prev < 0:
            out[nout] = suffix[code]
            nout += 1
            prev = code
            continue
        # emit string for code (KwKwK case: code == next_code)
        c = code
        sp = 0
        if c >= next_code:
            if c != next_code:
                raise ValueError("GIF: corrupt LZW stream")
            stack[sp] = 0  # placeholder, filled below
            sp = 1
            c = prev
        while c >= clear + 2:
            stack[sp] = suffix[c]
            sp += 1
            c = prefix[c]
        first = suffix[c]
        stack[sp] = first
        sp += 1
        if code >= next_code:
            stack[0] = first
        n = min(sp, npix - nout)
        out[nout:nout + n] = np.frombuffer(
            bytes(stack[:sp][::-1]), np.uint8)[:n]
        nout += n
        if next_code < 4096:
            prefix[next_code] = prev
            suffix[next_code] = first
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = code
    return out


def _deinterlace(arr: np.ndarray) -> np.ndarray:
    h = arr.shape[0]
    order = (list(range(0, h, 8)) + list(range(4, h, 8))
             + list(range(2, h, 4)) + list(range(1, h, 2)))
    out = np.empty_like(arr)
    out[order] = arr
    return out


def parse_gif(buf: bytes):
    """GIF bytes -> (index arr (h, w) uint8, palette (n, 3) uint8,
    transparent-index-or-None, xmp-or-None). First image only (like
    the reference's single-band dataset)."""
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF file")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", buf, 6)
    off = 13
    palette = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        palette = np.frombuffer(
            buf, np.uint8, count=3 * n, offset=off).reshape(n, 3).copy()
        off += 3 * n
    transparent = None
    xmp = None
    while off < len(buf):
        b = buf[off]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = buf[off + 1]
            off += 2
            if label == 0xF9:  # graphic control
                n = buf[off]
                if n >= 4 and buf[off + 1] & 0x01:
                    transparent = buf[off + 4]
                off = _skip_subblocks(buf, off)
            elif label == 0xFF:  # application
                blk, off = _read_subblocks(buf, off)
                if blk.startswith(b"XMP DataXMP"):
                    # XMP convention: payload follows the app id, with
                    # a 258-byte "magic trailer" to survive sub-block
                    # framing
                    xmp = blk[11:-257].decode("utf-8", "replace")
            else:
                off = _skip_subblocks(buf, off)
            continue
        if b == 0x2C:  # image descriptor
            _left, _top, w, h, iflags = struct.unpack_from(
                "<HHHHB", buf, off + 1)
            off += 10
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                palette = np.frombuffer(
                    buf, np.uint8, count=3 * n,
                    offset=off).reshape(n, 3).copy()
                off += 3 * n
            min_code = buf[off]
            off += 1
            data, off = _read_subblocks(buf, off)
            arr = _lzw_decode(data, min_code, w * h).reshape(h, w)
            if iflags & 0x40:
                arr = _deinterlace(arr)
            if palette is None:
                palette = np.stack([np.arange(256, dtype=np.uint8)] * 3,
                                   axis=1)
            return arr, palette, transparent, xmp
        raise ValueError(f"GIF: unknown block 0x{b:02x}")
    raise ValueError("GIF: no image descriptor")


def decode_gif(buf: bytes) -> np.ndarray:
    """GIF bytes -> RGB uint8 (palette expanded, codec-style)."""
    arr, palette, _t, _x = parse_gif(buf)
    return palette[arr]


def _lzw_encode(indices: np.ndarray, min_code: int) -> bytes:
    clear = 1 << min_code
    eoi = clear + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code + 1
    out = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code):
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    emit(clear)
    data = indices.tobytes()
    cur = b""
    for ch in data:
        nxt = cur + bytes([ch])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            # the decoder registers entries one code LATE, so it
            # widens when ITS next_code (= ours - 1) hits 1<<width
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        else:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code + 1
        cur = bytes([ch])
    if cur:
        emit(table[cur])
    emit(eoi)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def format_gif(arr: np.ndarray, palette: np.ndarray | None = None,
               transparent: int | None = None,
               interlace: bool = False) -> bytes:
    """Index array (h, w) uint8 (+ optional (n,3) palette, default
    gray ramp) -> GIF bytes (89a + GCE when transparent is set,
    87a otherwise, like the reference writer)."""
    arr = np.asarray(arr)
    if arr.ndim != 2 or arr.dtype != np.uint8:
        raise ValueError("GIF writer: (h, w) uint8 index raster only")
    h, w = arr.shape
    if palette is None:
        palette = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    palette = np.asarray(palette, np.uint8)
    n = len(palette)
    bits = max(1, int(n - 1).bit_length())
    full = 1 << bits
    pal = np.zeros((full, 3), np.uint8)
    pal[:n] = palette
    ver = b"GIF89a" if transparent is not None else b"GIF87a"
    out = [ver, struct.pack("<HHBBB", w, h,
                            0x80 | (bits - 1), 0, 0), pal.tobytes()]
    if transparent is not None:
        out.append(b"\x21\xf9\x04\x01\x00\x00"
                   + bytes([int(transparent)]) + b"\x00")
    iflags = 0x40 if interlace else 0
    out.append(b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, iflags))
    min_code = max(2, bits)
    body = arr
    if interlace:
        hh = arr.shape[0]
        order = (list(range(0, hh, 8)) + list(range(4, hh, 8))
                 + list(range(2, hh, 4)) + list(range(1, hh, 2)))
        body = arr[order]
    data = _lzw_encode(body.reshape(-1), min_code)
    out.append(bytes([min_code]))
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(bytes([len(chunk)]) + chunk)
    out.append(b"\x00\x3b")
    return b"".join(out)


def _pal_str(palette: np.ndarray) -> str:
    return ",".join("%02x%02x%02x" % tuple(c) for c in palette)


def pal_from_str(s: str) -> np.ndarray:
    vals = [int(t, 16) for t in s.split(",")]
    return np.array([[v >> 16, (v >> 8) & 0xFF, v & 0xFF]
                     for v in vals], np.uint8)


def scan_gif(spark, path_glob: str, srid: int = 0):
    """Glob of .gif files -> images-table rows (index band +
    palette column, GCE transparent index as nodata), one task per
    file. World files are NOT consulted (use formats.sidecar)."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "nodata double, palette string")

    def read(r):
        with open(r.path, "rb") as f:
            buf = f.read()
        arr, palette, transparent, _ = parse_gif(buf)
        stem = os.path.splitext(os.path.basename(r.path))[0]
        return [raster_row(
            stem, arr, (0.0, 1.0, 0.0, 0.0, 0.0, -1.0), int(srid),
            None if transparent is None else float(transparent),
            palette=_pal_str(palette))]

    return scan_files(spark, glob_paths(path_glob), read, schema)


def write_gif(df, out_dir: str, interlace: bool = False) -> list[str]:
    """Images-table rows (uint8 single band; optional palette
    column) -> one .gif per row, written by the task that holds the
    row. nodata becomes the GCE transparent index."""
    def dump_row(r, arr, gt, nd, out_dir):
        if arr.ndim == 3:
            arr = arr[:, :, 0]
        palette = getattr(r, "palette", None)
        pal = pal_from_str(palette) if isinstance(palette, str) else None
        path = os.path.join(out_dir, f"{r.image_id}.gif")
        with open(path, "wb") as f:
            f.write(format_gif(arr.astype(np.uint8), pal,
                               transparent=None if nd is None else int(nd),
                               interlace=interlace))
        return path

    return write_files(df, out_dir, dump_row)
