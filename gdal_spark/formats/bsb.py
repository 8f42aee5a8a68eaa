"""Maptech/NOAA BSB nautical chart driver (.kap), written from the
published format description (the expired US patent 5,727,090 and
the libbsb documentation).

Reference semantics: frmts/bsb/bsb_read.c:

- ASCII header records (``TOK/val,val,...``); continuation lines
  start with whitespace and splice into the record with a comma
  (the rgbsmall_with_line_break fixture); ``BSB/RA=w,h`` dims,
  ``RGB/index,r,g,b`` palette entries (1-based indices),
  ``KNP``/``KNQ`` projection metadata, ``REF/n,pixel,line,lat,lon``
  GCPs, ``VER`` version;
- the header ends at 0x1A 0x00; one byte of color depth follows
  (1..7 bits; USGS files spell it in ASCII — 0x31..0x38 minus
  0x30 when header bytes were skipped);
- each scanline: a line marker of base-128 digits (bit 7 set on
  every byte but the last; version < 2 numbers from 0, else from
  1), then run bytes until 0x00: value = (byte >> (7-depth)) &
  (2^depth - 1), run count = low (7-depth) bits extended base-128
  through bit-7-continuation bytes, emitting count+1 pixels (runs
  clamp at the row edge); short rows keep reading chunks until
  filled; NOS ``.no1`` siblings subtract 9 from every byte;
- the band is the PALETTE INDEX raster with the RGB color table
  alongside (rgbsmall.kap pinned at the reference's checksum
  30321); truncated files zero-fill remaining rows.

The writer emits the same structure (1-based palette indices only —
a zero first-run byte would read as end-of-line).

Spark shape: one task per file both ways.
"""

from __future__ import annotations

import os

import numpy as np

from ._util import glob_paths, raster_row, scan_files, write_files
from .gif import _pal_str, pal_from_str


def _split_header(raw: bytes):
    """Header bytes -> list of records (continuation lines spliced
    with a comma like the reference)."""
    text = raw.decode("latin-1", "replace")
    records: list[str] = []
    for line in text.replace("\r\n", "\n").split("\n"):
        if not line.strip():
            continue
        if line[0] in " \t" and records:
            records[-1] += "," + line.strip()
        else:
            records.append(line.strip())
    return records


def parse_bsb(buf: bytes):
    """.kap bytes -> (index arr (h, w) uint8, palette (n, 3),
    gcps [(pixel, line, lat, lon)], meta dict)."""
    end = buf.find(b"\x1a\x00")
    if end < 0:
        raise ValueError("not a BSB file (no 0x1A 0x00 terminator)")
    records = _split_header(buf[:end])
    w = h = 0
    pal_entries = {}
    gcps = []
    meta = {}
    version = 2.0
    for rec in records:
        if rec.startswith("!"):
            continue
        if "/" not in rec:
            continue
        tok, body = rec.split("/", 1)
        tok = tok.strip()
        if tok == "BSB" or tok == "NOS":
            for part in body.split(","):
                if part.startswith("RA="):
                    dims = part[3:].split(",")
                    w = int(dims[0])
                elif part.strip().isdigit() and w and not h:
                    h = int(part.strip())
                elif part.startswith("NA="):
                    meta["NA"] = part[3:]
            # RA=w,h spans two comma tokens
            toks = body.split(",")
            for i, part in enumerate(toks):
                if part.startswith("RA=") and i + 1 < len(toks):
                    w = int(part[3:])
                    h = int(toks[i + 1])
        elif tok == "RGB":
            vals = [int(v) for v in body.split(",")[:4]]
            pal_entries[vals[0]] = vals[1:4]
        elif tok == "REF":
            vals = [float(v) for v in body.split(",")[:5]]
            gcps.append((vals[1], vals[2], vals[3], vals[4]))
        elif tok == "VER":
            try:
                version = float(body.split(",")[0])
            except ValueError:
                pass
        elif tok in ("KNP", "KNQ", "CED"):
            meta[tok] = body
    if w <= 0 or h <= 0:
        raise ValueError("BSB: missing RA dimensions")
    # like the reference band, indices shift down by one (file
    # indices are 1-based; missing pixels fill 0), so the returned
    # palette is 0-based: palette[i] = file RGB entry i+1
    npal = max(pal_entries) if pal_entries else 256
    palette = np.zeros((max(npal, 1), 3), np.uint8)
    for idx, rgb in pal_entries.items():
        if idx >= 1:
            palette[idx - 1] = rgb
    pos = end + 2
    depth = buf[pos]
    if not (1 <= depth <= 7) and 0x31 <= depth <= 0x38:
        depth -= 0x30  # the USGS ASCII spelling
    if not (1 <= depth <= 7):
        raise ValueError(f"BSB: bad color depth {depth}")
    pos += 1
    shift = 7 - depth
    vmask = (1 << depth) - 1
    cmask = (1 << shift) - 1
    n = len(buf)

    # optional scanline index table: the trailing uint32 BE points
    # at a table of per-line offsets (the rgbsmall_index fixture)
    offsets = None
    if n >= 8:
        tbl = int.from_bytes(buf[n - 4:n], "big")
        if pos < tbl < n - 4 and (n - 4 - tbl) % 4 == 0:
            cnt = (n - 4 - tbl) // 4
            if cnt >= h:
                cand = [int.from_bytes(buf[tbl + 4 * i:tbl + 4 * i + 4],
                                       "big") for i in range(h)]
                if all(pos <= c < tbl for c in cand) \
                        and cand == sorted(cand):
                    offsets = cand

    arr = np.zeros((h, w), np.uint8)
    for y in range(h):
        if offsets is not None:
            pos = offsets[y]
        if pos >= n:
            break  # truncated: zero-fill
        # line marker: base-128 digits, bit 7 set on all but the
        # last byte; leading zero bytes are skipped like the
        # reference (padding after short rows)
        marker = 0
        first = True
        while pos < n:
            b = buf[pos]
            pos += 1
            if first and y != 0 and b == 0:
                continue
            first = False
            marker = marker * 128 + (b & 0x7F)
            if not (b & 0x80):
                break
        # runs until the 0x00 terminator token; repeat chunks until
        # the row fills (the reference's do-while for short chunks)
        x = 0
        while pos < n:
            b = buf[pos]
            pos += 1
            if b == 0:
                if x >= w:
                    break
                # short chunk: keep reading run tokens
                if pos >= n:
                    break
                continue
            val = (b >> shift) & vmask
            count = b & cmask
            while (b & 0x80) and pos < n:
                b = buf[pos]
                pos += 1
                count = count * 128 + (b & 0x7F)
            if x < w:
                run = min(count + 1, w - x)
                arr[y, x:x + run] = val
                x += run
    # the reference's index downshift (nonzero values -= 1)
    arr[arr > 0] -= 1
    return arr, palette, gcps, meta


def format_bsb(arr: np.ndarray, palette: np.ndarray,
               gcps=None, name: str = "UNKNOWN") -> bytes:
    """0-based index raster + (n, 3) palette (entry i = file RGB
    i+1) -> .kap bytes."""
    arr = np.asarray(arr)
    if arr.ndim != 2 or arr.dtype != np.uint8:
        raise ValueError("BSB writer: (h, w) uint8 index raster only")
    # 0-based band indices -> the file's 1-based run values (a zero
    # run byte would read as end-of-line)
    if arr.max() >= 127:
        raise ValueError("BSB writer: more than 7-bit palette")
    arr = arr + 1
    h, w = arr.shape
    maxv = int(arr.max())
    depth = max(1, maxv.bit_length())
    if depth > 7:
        raise ValueError("BSB writer: more than 7-bit palette")
    lines = ["!Copyright unknown", "VER/2.0",
             f"BSB/NA={name},NU=1,RA={w},{h},DU=254",
             "KNP/SC=25000,GD=WGS84,PR=UNKNOWN"]
    palette = np.asarray(palette, np.uint8)
    for i in range(min(len(palette), (1 << depth) - 1)):
        r, g, b = palette[i]
        lines.append(f"RGB/{i + 1},{r},{g},{b}")
    for j, (px, ln, lat, lon) in enumerate(gcps or []):
        lines.append(f"REF/{j + 1},{px},{ln},{lat},{lon}")
    out = bytearray(("\r\n".join(lines) + "\r\n").encode("latin-1"))
    out += b"\x1a\x00"
    out.append(depth)
    shift = 7 - depth
    cmax = (1 << shift) - 1
    for y in range(h):
        # 1-based line marker in base-128 digits
        marker = y + 1
        digits = []
        while True:
            digits.append(marker & 0x7F)
            marker >>= 7
            if not marker:
                break
        for d in digits[:0:-1]:
            out.append(0x80 | d)
        out.append(digits[0] if len(digits) == 1 else digits[0])
        row = arr[y]
        x = 0
        while x < w:
            val = int(row[x])
            run = 1
            while x + run < w and row[x + run] == val:
                run += 1
            count = run - 1
            # big-endian base-128 digits; top digit fits shift bits
            groups = [count & 0x7F]
            count >>= 7
            while count:
                groups.append(count & 0x7F)
                count >>= 7
            groups = groups[::-1]
            if len(groups) == 1 and groups[0] <= cmax:
                out.append((val << shift) | groups[0])
            else:
                # ensure the top digit fits in the count bits
                while groups[0] > cmax:
                    groups = [groups[0] >> 7] + [groups[0] & 0x7F] \
                        + groups[1:]
                out.append(0x80 | (val << shift) | groups[0])
                for gdig in groups[1:-1]:
                    out.append(0x80 | gdig)
                out.append(groups[-1])
            x += run
        out.append(0x00)
    return bytes(out)


def scan_bsb(spark, path_glob: str, srid: int = 4326):
    """Glob of .kap files -> images-table rows (index band +
    palette + GCP metadata), one task per file."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "nodata double, palette string, gcps string")

    def read(r):
        with open(r.path, "rb") as f:
            buf = f.read()
        arr, palette, gcps, meta = parse_bsb(buf)
        stem = os.path.splitext(os.path.basename(r.path))[0]
        return [raster_row(stem, arr, (0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
                           int(srid), palette=_pal_str(palette),
                           gcps=";".join("%g,%g,%g,%g" % g for g in gcps))]

    return scan_files(spark, glob_paths(path_glob), read, schema)


def write_bsb(df, out_dir: str) -> list[str]:
    """Images-table rows (uint8 index band >= 1 + palette column)
    -> one .kap per row, written by the task that holds the row."""
    def dump_row(r, arr, gt, nd, out_dir):
        if arr.ndim == 3:
            arr = arr[:, :, 0]
        palette = getattr(r, "palette", None)
        pal = (pal_from_str(palette) if isinstance(palette, str)
               else np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1))
        path = os.path.join(out_dir, f"{r.image_id}.kap")
        with open(path, "wb") as f:
            f.write(format_bsb(arr.astype(np.uint8), pal))
        return path

    return write_files(df, out_dir, dump_row)
