"""Truevision TGA (TARGA) codec + driver, written from the published
Truevision TGA 2.0 specification.

Reference semantics: frmts/tga/tgadataset.cpp:

- 18-byte header: id-length, colormap-type, image-type (1 colormap /
  2 truecolor / 3 gray, +8 = RLE), colormap spec (first-entry u16,
  length u16, entry-size u8 of 15/16/24/32), origin, LE u16 w/h,
  pixel depth (8/16/24/32), image descriptor (bits0-3 attribute
  bits, bit5 top-to-bottom origin — default is BOTTOM-UP, flipped
  to north-up on read);
- after the header: the ID string (surfaced as IMAGE_ID metadata),
  the BGR(A) colormap, then pixels; colormapped images stay INDEX
  band + palette like the reference (ucm8/ccm8 pinned on the
  reference's index checksums), truecolor unpacks BGR(A) -> RGB(A),
  16-bit ARGB1555 expands each 5-bit channel as ``v << 3`` (the
  reference's exact expansion, no low-bit replication);
- RLE packets: high bit = run-of-one-pixel (count low7+1), else
  raw; runs MAY CROSS SCANLINES (pinned on the ffmpeg test1g
  fixture);
- the TGA 2.0 footer (``TRUEVISION-XFILE.`` tail) locates the 495-
  byte extension area: AUTHOR_NAME at +2 (40 chars), COMMENTS as
  four 81-char lines at +43, both space-trimmed like the reference.

Spark shape: one task per file both ways; the sink is the usual
task-per-row writer (gray / RGB / RGBA / palette, optional RLE,
bottom-up order).
"""

from __future__ import annotations

import os
import struct

import numpy as np

from ._util import glob_paths, raster_row, scan_files, write_files


def _expand_5bit(vals: np.ndarray) -> np.ndarray:
    """ARGB1555 uint16 -> (n, 3) uint8 RGB, the reference's << 3."""
    r = ((vals >> 10) & 31).astype(np.uint8) << 3
    g = ((vals >> 5) & 31).astype(np.uint8) << 3
    b = (vals & 31).astype(np.uint8) << 3
    return np.stack([r, g, b], axis=-1)


def _rle_decode(buf: bytes, off: int, npix: int, bpp: int) -> bytes:
    out = bytearray(npix * bpp)
    pos = 0
    end = npix * bpp
    while pos < end:
        if off >= len(buf):
            break  # truncated: zero-fill
        pkt = buf[off]
        off += 1
        count = (pkt & 0x7F) + 1
        if pkt & 0x80:
            px = buf[off:off + bpp]
            off += bpp
            chunk = px * count
        else:
            chunk = buf[off:off + count * bpp]
            off += count * bpp
        n = min(len(chunk), end - pos)
        out[pos:pos + n] = chunk[:n]
        pos += n
    return bytes(out)


def parse_tga(buf: bytes):
    """TGA bytes -> (arr north-up (h, w) index/gray or (h, w, 3/4)
    RGB(A), palette-or-None (n, 3) uint8, meta dict with IMAGE_ID /
    AUTHOR_NAME / COMMENTS when present)."""
    if len(buf) < 18:
        raise ValueError("not a TGA file")
    (idlen, cmap_type, img_type, cm_first, cm_len, cm_size,
     _xo, _yo, w, h, depth, desc) = struct.unpack_from(
        "<BBBHHBHHHHBB", buf, 0)
    if img_type not in (1, 2, 3, 9, 10, 11) or w == 0 or h == 0:
        raise ValueError("not a TGA file (bad image type)")
    rle = img_type >= 9
    base = img_type - 8 if rle else img_type
    off = 18
    meta = {}
    if idlen:
        meta["IMAGE_ID"] = buf[off:off + idlen].decode(
            "latin-1").rstrip("\0 ")
        off += idlen
    palette = None
    if cmap_type == 1:
        nbytes = cm_len * ((cm_size + 7) // 8)
        raw = buf[off:off + nbytes]
        off += nbytes
        if cm_size in (15, 16):
            vals = np.frombuffer(raw, "<u2", count=cm_len)
            palette = _expand_5bit(vals)
        elif cm_size == 24:
            bgr = np.frombuffer(raw, np.uint8).reshape(cm_len, 3)
            palette = bgr[:, ::-1].copy()
        elif cm_size == 32:
            bgra = np.frombuffer(raw, np.uint8).reshape(cm_len, 4)
            palette = bgra[:, [2, 1, 0]].copy()
        else:
            raise ValueError(f"TGA: colormap entry size {cm_size}")
        if cm_first:
            pad = np.zeros((cm_first, 3), np.uint8)
            palette = np.vstack([pad, palette])
    bpp = (depth + 7) // 8
    npix = w * h
    if rle:
        raw = _rle_decode(buf, off, npix, bpp)
    else:
        raw = buf[off:off + npix * bpp]
        if len(raw) < npix * bpp:
            raw = raw + b"\0" * (npix * bpp - len(raw))
    if base in (1, 3):
        if depth != 8:
            raise ValueError(f"TGA: {depth}-bit gray/index unsupported")
        arr = np.frombuffer(raw, np.uint8).reshape(h, w).copy()
    elif depth in (15, 16):
        vals = np.frombuffer(raw, "<u2", count=npix)
        arr = _expand_5bit(vals).reshape(h, w, 3)
    elif depth == 24:
        arr = np.frombuffer(raw, np.uint8).reshape(h, w, 3)[:, :, ::-1]
        arr = np.ascontiguousarray(arr)
    elif depth == 32:
        a4 = np.frombuffer(raw, np.uint8).reshape(h, w, 4)
        arr = np.ascontiguousarray(a4[:, :, [2, 1, 0, 3]])
    else:
        raise ValueError(f"TGA: depth {depth} unsupported")
    if not (desc & 0x20):  # bottom-up default
        arr = np.ascontiguousarray(arr[::-1])

    # TGA 2.0 footer -> extension area
    if len(buf) >= 26 and buf[-18:] == b"TRUEVISION-XFILE.\x00":
        ext_off = struct.unpack_from("<I", buf, len(buf) - 26)[0]
        if ext_off and ext_off + 495 <= len(buf):
            ext = buf[ext_off:ext_off + 495]
            if struct.unpack_from("<H", ext, 0)[0] >= 495:
                if ext[2] not in (0x20, 0):
                    meta["AUTHOR_NAME"] = ext[2:42].split(b"\0")[0] \
                        .decode("latin-1").rstrip(" ")
                if ext[43] not in (0x20, 0):
                    lines = []
                    for i in range(4):
                        seg = ext[43 + 81 * i:43 + 81 * i + 80]
                        if seg[:1] == b"\0":
                            break
                        lines.append(seg.split(b"\0")[0]
                                     .decode("latin-1").rstrip(" "))
                    meta["COMMENTS"] = "\n".join(lines)
    return arr, palette, meta


def decode_tga(buf: bytes) -> np.ndarray:
    """TGA bytes -> gray/RGB(A) uint8 (palette expanded)."""
    arr, palette, _ = parse_tga(buf)
    if palette is not None and arr.ndim == 2:
        return palette[arr]
    return arr


def _rle_encode(raw: bytes, bpp: int) -> bytes:
    out = bytearray()
    n = len(raw) // bpp
    i = 0
    while i < n:
        # count run length
        run = 1
        while (run < 128 and i + run < n
               and raw[(i + run) * bpp:(i + run + 1) * bpp]
               == raw[i * bpp:(i + 1) * bpp]):
            run += 1
        if run >= 2:
            out.append(0x80 | (run - 1))
            out += raw[i * bpp:(i + 1) * bpp]
            i += run
            continue
        # literal stretch until next run of >= 2
        j = i + 1
        while (j < n and j - i < 128
               and not (j + 1 < n
                        and raw[j * bpp:(j + 1) * bpp]
                        == raw[(j + 1) * bpp:(j + 2) * bpp])):
            j += 1
        out.append(j - i - 1)
        out += raw[i * bpp:j * bpp]
        i = j
    return bytes(out)


def format_tga(arr: np.ndarray, palette: np.ndarray | None = None,
               rle: bool = False) -> bytes:
    """North-up uint8 array (h, w) gray/index or (h, w, 3/4)
    RGB(A) -> TGA bytes (bottom-up order like most writers)."""
    arr = np.asarray(arr)
    if arr.dtype != np.uint8:
        raise ValueError("TGA writer: uint8 only")
    h, w = arr.shape[:2]
    nch = 1 if arr.ndim == 2 else arr.shape[2]
    if palette is not None:
        if nch != 1:
            raise ValueError("TGA writer: palette needs an index band")
        img_type, depth = 1, 8
        palette = np.asarray(palette, np.uint8)
        cmap = np.ascontiguousarray(palette[:, ::-1]).tobytes()
        cm_len, cm_size, cmap_type = len(palette), 24, 1
    elif nch == 1:
        img_type, depth = 3, 8
        cmap, cm_len, cm_size, cmap_type = b"", 0, 0, 0
    elif nch == 3:
        img_type, depth = 2, 24
        cmap, cm_len, cm_size, cmap_type = b"", 0, 0, 0
    elif nch == 4:
        img_type, depth = 2, 32
        cmap, cm_len, cm_size, cmap_type = b"", 0, 0, 0
    else:
        raise ValueError(f"TGA writer: {nch} channels unsupported")
    body = arr[::-1]  # bottom-up
    if nch == 3:
        body = body[:, :, ::-1]
    elif nch == 4:
        body = body[:, :, [2, 1, 0, 3]]
    raw = np.ascontiguousarray(body).tobytes()
    desc = 0x08 if nch == 4 else 0
    if rle:
        img_type += 8
        raw = _rle_encode(raw, (depth + 7) // 8)
    head = struct.pack("<BBBHHBHHHHBB", 0, cmap_type, img_type,
                       0, cm_len, cm_size, 0, 0, w, h, depth, desc)
    return head + cmap + raw


def scan_tga(spark, path_glob: str, srid: int = 0):
    """Glob of .tga files -> images-table rows (index or RGB(A)
    channels; palette column when colormapped), one task per file."""
    from .gif import _pal_str

    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "nodata double, palette string, meta string")

    def read(r):
        with open(r.path, "rb") as f:
            buf = f.read()
        arr, palette, meta = parse_tga(buf)
        stem = os.path.splitext(os.path.basename(r.path))[0]
        return [raster_row(
            stem, arr, (0.0, 1.0, 0.0, 0.0, 0.0, -1.0), int(srid),
            palette=None if palette is None else _pal_str(palette),
            meta="|".join(f"{k}={v}" for k, v in sorted(meta.items())))]

    return scan_files(spark, glob_paths(path_glob), read, schema)


def write_tga(df, out_dir: str, rle: bool = False) -> list[str]:
    """Images-table rows -> one .tga per row, written by the task
    that holds the row."""
    from .gif import pal_from_str

    def dump_row(r, arr, gt, nd, out_dir):
        palette = getattr(r, "palette", None)
        pal = pal_from_str(palette) if isinstance(palette, str) else None
        path = os.path.join(out_dir, f"{r.image_id}.tga")
        with open(path, "wb") as f:
            f.write(format_tga(arr.astype(np.uint8), pal, rle=rle))
        return path

    return write_files(df, out_dir, dump_row)
