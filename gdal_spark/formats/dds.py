"""DirectDraw Surface (.dds) driver with S3TC/DXT block codecs.

Reference semantics: frmts/dds/ddsdataset.cpp (read side; the
reference's encoder is the vendored crunch library) — re-derived
from the published DDS_HEADER/DDS_PIXELFORMAT layout (Microsoft
DDS programming guide) and the public S3TC specification:

- 4-byte ``DDS `` magic + 124-byte header: height@12, width@16,
  pitch/linear size@20, mipmap count@28; DDS_PIXELFORMAT at 76 —
  flags@80 (0x4 fourCC / 0x40 RGB / 0x1 alpha), fourCC@84
  (``DXT1``/``DXT3``/``DXT5``), bit count@88 and the four channel
  masks@92..104 for uncompressed surfaces; payload at 128;
- uncompressed surfaces: rows top-down at the header pitch, each
  channel extracted by its bit mask (the autotest fixture is
  32-bit BGRA written by ImageMagick);
- DXT1: 8-byte blocks of two RGB565 endpoints (expanded the
  canonical way, ``(v<<3)|(v>>2)``) + 2-bit selectors; c0<=c1
  selects the 3-color + transparent mode; DXT3 prepends 4-bit
  explicit alpha; DXT5 prepends two alpha endpoints + 3-bit
  selectors (6/8-step modes);
- the writer emits spec-valid uncompressed or DXT1/DXT5 surfaces
  (simple min/max endpoint selection — deterministic, PSNR-bounded
  rather than crunch-identical, as documented).

Spark shape: one task per .dds file, RGBA images-table rows.
"""

from __future__ import annotations

import os
import struct

import numpy as np

from ._util import glob_paths, raster_row, scan_files

DDPF_ALPHAPIXELS = 0x1
DDPF_FOURCC = 0x4
DDPF_RGB = 0x40


def _expand565(c: np.ndarray):
    r = (c >> 11) & 0x1F
    g = (c >> 5) & 0x3F
    b = c & 0x1F
    return ((r << 3) | (r >> 2), (g << 2) | (g >> 4),
            (b << 3) | (b >> 2))


def _decode_color_block(c0, c1, sel, dxt1_mode):
    """(n,) endpoints + (n, 16) selectors -> (n, 16, 4) RGBA."""
    n = c0.shape[0]
    r0, g0, b0 = _expand565(c0.astype(np.int64))
    r1, g1, b1 = _expand565(c1.astype(np.int64))
    pal = np.zeros((n, 4, 4), np.int64)
    pal[:, 0] = np.stack([r0, g0, b0, np.full(n, 255)], axis=1)
    pal[:, 1] = np.stack([r1, g1, b1, np.full(n, 255)], axis=1)
    four = (c0 > c1) | (not dxt1_mode)
    # 4-color: 2/3 and 1/3 blends; 3-color: average + transparent
    blend2 = (2 * pal[:, 0, :3] + pal[:, 1, :3]) // 3
    blend3 = (pal[:, 0, :3] + 2 * pal[:, 1, :3]) // 3
    avg = (pal[:, 0, :3] + pal[:, 1, :3]) // 2
    pal[:, 2, :3] = np.where(four[:, None], blend2, avg)
    pal[:, 2, 3] = 255
    pal[:, 3, :3] = np.where(four[:, None], blend3, 0)
    pal[:, 3, 3] = np.where(four, 255, 0)
    return pal[np.arange(n)[:, None], sel]


def _decode_dxt(payload: bytes, w: int, h: int, variant: str):
    bw, bh = (w + 3) // 4, (h + 3) // 4
    n = bw * bh
    bsize = 8 if variant == "DXT1" else 16
    raw = np.frombuffer(payload, np.uint8,
                        count=n * bsize).reshape(n, bsize)
    coff = 0 if variant == "DXT1" else 8
    c0 = raw[:, coff:coff + 2].copy().view("<u2")[:, 0]
    c1 = raw[:, coff + 2:coff + 4].copy().view("<u2")[:, 0]
    bits = raw[:, coff + 4:coff + 8].astype(np.int64)
    code = (bits[:, 0] | (bits[:, 1] << 8) | (bits[:, 2] << 16) |
            (bits[:, 3] << 24))
    sel = np.stack([(code >> (2 * i)) & 3 for i in range(16)],
                   axis=1)
    rgba = _decode_color_block(c0, c1, sel,
                               dxt1_mode=(variant == "DXT1"))
    if variant == "DXT3":
        a = raw[:, 0:8].astype(np.int64)
        a16 = np.zeros((n, 16), np.int64)
        for i in range(16):
            byte = a[:, i // 2]
            nib = (byte >> (4 * (i % 2))) & 0xF
            a16[:, i] = nib * 17
        rgba[:, :, 3] = a16
    elif variant == "DXT5":
        a0 = raw[:, 0].astype(np.int64)
        a1 = raw[:, 1].astype(np.int64)
        abits = np.zeros(n, dtype=object)
        code48 = (raw[:, 2].astype(np.int64) |
                  (raw[:, 3].astype(np.int64) << 8) |
                  (raw[:, 4].astype(np.int64) << 16) |
                  (raw[:, 5].astype(np.int64) << 24) |
                  (raw[:, 6].astype(np.int64) << 32) |
                  (raw[:, 7].astype(np.int64) << 40))
        asel = np.stack([(code48 >> (3 * i)) & 7 for i in range(16)],
                        axis=1)
        apal = np.zeros((n, 8), np.int64)
        apal[:, 0] = a0
        apal[:, 1] = a1
        eight = a0 > a1
        for k in range(6):
            apal[:, 2 + k] = np.where(
                eight,
                ((6 - k) * a0 + (k + 1) * a1) // 7,
                np.where(k < 4,
                         ((4 - k) * a0 + (k + 1) * a1) // 5,
                         np.where(k == 4, 0, 255)))
        rgba[:, :, 3] = apal[np.arange(n)[:, None], asel]
    # scatter blocks to the image
    out = np.zeros((bh * 4, bw * 4, 4), np.uint8)
    rgba = rgba.reshape(bh, bw, 4, 4, 4)
    out = rgba.transpose(0, 2, 1, 3, 4).reshape(bh * 4, bw * 4, 4) \
        .astype(np.uint8)
    return out[:h, :w]


def parse_dds(buf: bytes):
    """.dds bytes -> ((h, w, 4) uint8 RGBA, compression string)."""
    if buf[:4] != b"DDS " or struct.unpack("<I", buf[4:8])[0] != 124:
        raise ValueError("DDS: bad magic/header size")
    h = struct.unpack("<I", buf, )[0] if False else \
        struct.unpack_from("<I", buf, 12)[0]
    w = struct.unpack_from("<I", buf, 16)[0]
    pitch = struct.unpack_from("<I", buf, 20)[0]
    pf_flags = struct.unpack_from("<I", buf, 80)[0]
    fourcc = buf[84:88]
    bitcount = struct.unpack_from("<I", buf, 88)[0]
    masks = struct.unpack_from("<IIII", buf, 92)
    payload = buf[128:]
    if pf_flags & DDPF_FOURCC:
        variant = fourcc.decode("ascii")
        if variant not in ("DXT1", "DXT3", "DXT5"):
            raise ValueError(f"DDS: unsupported fourCC {variant}")
        return _decode_dxt(payload, w, h, variant), variant
    if not pf_flags & DDPF_RGB:
        raise ValueError("DDS: neither fourCC nor RGB surface")
    nbytes = bitcount // 8
    if pitch < w * nbytes or pitch > w * nbytes + 64 or \
            h * pitch > len(payload):
        pitch = w * nbytes
    rows = np.frombuffer(payload, np.uint8,
                         count=h * pitch).reshape(h, pitch)
    pix = rows[:, :w * nbytes].reshape(h, w, nbytes)
    as_u32 = np.zeros((h, w), np.uint32)
    for k in range(nbytes):
        as_u32 |= pix[:, :, k].astype(np.uint32) << (8 * k)
    out = np.zeros((h, w, 4), np.uint8)
    for i, mask in enumerate(masks):
        if mask == 0:
            if i == 3:
                out[:, :, 3] = 255
            continue
        shift = (mask & -mask).bit_length() - 1
        width = int(mask >> shift).bit_length()
        v = (as_u32 & mask) >> shift
        if width < 8:
            v = (v << (8 - width)) | (v >> (2 * width - 8))
        out[:, :, i] = v.astype(np.uint8)
    return out, "NONE"


def _encode565(rgb: np.ndarray) -> np.ndarray:
    r = rgb[..., 0].astype(np.uint16) >> 3
    g = rgb[..., 1].astype(np.uint16) >> 2
    b = rgb[..., 2].astype(np.uint16) >> 3
    return (r << 11) | (g << 5) | b


def format_dds(rgba: np.ndarray, compression: str = "NONE") -> bytes:
    """(h, w, 4) uint8 RGBA -> .dds bytes (NONE / DXT1 / DXT5)."""
    rgba = np.ascontiguousarray(rgba, dtype=np.uint8)
    h, w = rgba.shape[:2]
    if rgba.ndim == 2:
        rgba = np.stack(
            [rgba] * 3 + [np.full((h, w), 255, np.uint8)], axis=2)
    hdr = bytearray(128)
    hdr[0:4] = b"DDS "
    struct.pack_into("<I", hdr, 4, 124)
    flags = 0x1 | 0x2 | 0x4 | 0x1000  # caps|height|width|pixelformat
    struct.pack_into("<I", hdr, 12, h)
    struct.pack_into("<I", hdr, 16, w)
    struct.pack_into("<I", hdr, 76, 32)
    if compression == "NONE":
        struct.pack_into("<I", hdr, 8, flags | 0x8)  # pitch
        struct.pack_into("<I", hdr, 20, w * 4)
        struct.pack_into("<I", hdr, 80,
                         DDPF_RGB | DDPF_ALPHAPIXELS)
        struct.pack_into("<I", hdr, 88, 32)
        struct.pack_into("<IIII", hdr, 92, 0x000000FF, 0x0000FF00,
                         0x00FF0000, 0xFF000000)
        payload = rgba.tobytes()
        return bytes(hdr) + payload
    if compression not in ("DXT1", "DXT5"):
        raise ValueError(f"DDS: unsupported compression "
                         f"{compression}")
    struct.pack_into("<I", hdr, 8, flags | 0x80000)  # linear size
    struct.pack_into("<I", hdr, 80, DDPF_FOURCC)
    hdr[84:88] = compression.encode()
    bw, bh = (w + 3) // 4, (h + 3) // 4
    pad = np.zeros((bh * 4, bw * 4, 4), np.uint8)
    pad[:h, :w] = rgba
    pad[h:, :w] = pad[h - 1:h, :w] if h else 0
    pad[:, w:] = pad[:, w - 1:w] if w else 0
    blocks = pad.reshape(bh, 4, bw, 4, 4).transpose(0, 2, 1, 3, 4) \
        .reshape(bh * bw, 16, 4).astype(np.int64)
    rgb = blocks[:, :, :3]
    # endpoints: min/max by luminance
    lum = rgb @ np.array([299, 587, 114])
    lo = rgb[np.arange(len(rgb)), lum.argmin(axis=1)]
    hi = rgb[np.arange(len(rgb)), lum.argmax(axis=1)]
    c_hi = _encode565(hi)
    c_lo = _encode565(lo)
    swap = c_hi <= c_lo
    c0 = np.where(swap, c_lo, c_hi)
    c1 = np.where(swap, c_hi, c_lo)
    eq = c0 == c1
    p0r, p0g, p0b = _expand565(c0.astype(np.int64))
    p1r, p1g, p1b = _expand565(c1.astype(np.int64))
    pal = np.zeros((len(rgb), 4, 3), np.int64)
    pal[:, 0] = np.stack([p0r, p0g, p0b], axis=1)
    pal[:, 1] = np.stack([p1r, p1g, p1b], axis=1)
    pal[:, 2] = (2 * pal[:, 0] + pal[:, 1]) // 3
    pal[:, 3] = (pal[:, 0] + 2 * pal[:, 1]) // 3
    d = ((rgb[:, :, None, :] - pal[:, None, :, :]) ** 2).sum(axis=3)
    sel = d.argmin(axis=2)
    sel[eq] = 0
    code = np.zeros(len(rgb), np.int64)
    for i in range(16):
        code |= sel[:, i].astype(np.int64) << (2 * i)
    out = bytearray(hdr)
    alpha = blocks[:, :, 3]
    for bi in range(len(rgb)):
        if compression == "DXT5":
            a0 = int(alpha[bi].max())
            a1 = int(alpha[bi].min())
            if a0 == a1:
                asel = np.zeros(16, np.int64)
            else:
                apal = np.array(
                    [a0, a1] + [((6 - k) * a0 + (k + 1) * a1) // 7
                                for k in range(6)])
                asel = np.abs(
                    alpha[bi][:, None] - apal[None, :]).argmin(axis=1)
            acode = 0
            for i in range(16):
                acode |= int(asel[i]) << (3 * i)
            out += struct.pack("<BB", a0, a1)
            out += acode.to_bytes(6, "little")
        out += struct.pack("<HH", int(c0[bi]), int(c1[bi]))
        out += struct.pack("<I", int(code[bi]) & 0xFFFFFFFF)
    struct.pack_into("<I", out, 20,
                     len(out) - 128)
    return bytes(out)


def scan_dds(spark, path_glob: str):
    """Glob of .dds files -> RGBA images-table rows, one task per
    file."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, compression string, source string")

    def read(r):
        with open(r.path, "rb") as f:
            buf = f.read()
        stem = os.path.basename(r.path)
        rgba, comp = parse_dds(buf)
        return [raster_row(stem, rgba, None, None, compression=comp,
                           source=stem)]

    return scan_files(spark, glob_paths(path_glob), read, schema)
