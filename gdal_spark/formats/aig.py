"""Esri Arc/Info Binary Grid (AIG) coverage driver.

Reference semantics: frmts/aigrid/{gridlib.c,aigopen.c,
aigdataset.cpp} (the published AIG format description):

- a coverage DIRECTORY (case-insensitive member names): ``hdr.adf``
  (cell type int=1/float=2 @16, the compressed flag @20 — stored
  NEGATED: 0 on disk means compressed, cell sizes as MSB doubles
  @256/264, blocks-per-row/column @288/292, block w/h @296/304),
  ``dblbnd.adf`` (LLX/LLY/URX/URY MSB doubles), ``sta.adf`` (24- or
  32-byte min/max/mean[/stddev]), ``w001001x.adf`` block index
  (100-byte header with the 00 00 27 0A FF FF magic and the file
  length in 2-byte shorts @24; entries = MSB uint32 offset+size
  pairs, both in shorts), ``w001001.adf`` tile data (same 100-byte
  header; per-block u16 size-in-shorts prefix), ``prj.adf``
  projection text;
- raster dims from bounds: ``nPixels = (URX-LLX+cell/2)/cell``;
  blocks tile the raster row-major TOP-DOWN, ``gt = (LLX, cell, 0,
  URY, 0, -cell)``;
- int tile types (magic byte + min-size byte + big-endian min of
  1..4 bytes, sign-extended for sizes 1-3, then data, all values
  min-added with int32 wraparound): 0x00 constant-min, 0x01 1-bit
  MSB-first, 0x04 4-bit high-nibble-first, 0x08 raw 8-bit, 0x10
  raw 16-bit MSB, 0x20 raw 32-bit MSB, 0xE0/0xF0/0xFC/0xF8 RLE
  with 4/2/1-byte repeated values, 0xDF RLE of min (marker < 128),
  0xD7 8-bit literals (marker < 128), 0xCF 16-bit literals (marker
  < 128), any marker > 128 = (256-marker) nodata cells; 0xFF
  (CCITT RLE) tiles fill nodata with a warning like the reference's
  fallback; zero-size blocks are all-nodata;
- float grids: raw MSB float32 after the size prefix (no magic);
  uncompressed int grids likewise go straight to raw 32-bit;
- nodata is ESRI_GRID_NO_DATA = -2147483647; like the reference,
  grids whose sta.adf range fits promote to uint8 (nodata 255) or
  int16 (nodata -32768), floats use -3.4028234663852886e38.

The writer (beyond the reference, which is read-only) emits
spec-valid single-tile coverages: one 0x20 raw block per row band
for ints, raw float blocks for floats, with correct index/header
accounting — readable back through this scan.

Spark shape: one task per coverage directory both ways.
"""

from __future__ import annotations

import os
import struct

import numpy as np

from ._util import glob_paths, local_path, raster_row, scan_files, write_files

NO_DATA_INT = -2147483647
NO_DATA_FLOAT = -3.4028234663852886e38
_IDX_MAGIC = bytes([0x00, 0x00, 0x27, 0x0A, 0xFF, 0xFF, 0xE2, 0x00])


def _member(dirname: str, name: str) -> str | None:
    for cand in os.listdir(dirname):
        if cand.lower() == name:
            return os.path.join(dirname, cand)
    return None


def _read(dirname: str, name: str) -> bytes:
    path = _member(dirname, name)
    if path is None:
        raise ValueError(f"AIG: missing {name} in {dirname}")
    with open(path, "rb") as f:
        return f.read()


def _wrap32(v: int) -> int:
    v &= 0xFFFFFFFF
    return v - 0x100000000 if v >= 0x80000000 else v


def _decode_int_block(body: bytes, bw: int, bh: int) -> np.ndarray:
    """One compressed int block (after the u16 size prefix) ->
    int32 (bh*bw,) values."""
    npix = bw * bh
    out = np.full(npix, NO_DATA_INT, np.int64)
    if len(body) < 2:
        raise ValueError("AIG: block too small")
    magic = body[0]
    minsize = body[1]
    pos = 2
    if minsize > 4:
        raise ValueError("AIG: corrupt minsize")
    if minsize == 4:
        nmin = struct.unpack_from(">i", body, pos)[0]
    else:
        nmin = 0
        for i in range(minsize):
            nmin = nmin * 256 + body[pos + i]
        if minsize and body[2] > 127:
            nmin -= 1 << (8 * minsize)
    pos += minsize
    data = body[pos:]

    def add(vals):
        return np.array([_wrap32(int(v) + nmin) for v in vals], np.int64)

    if magic == 0x08:
        out[:] = add(np.frombuffer(data, np.uint8, count=npix))
    elif magic == 0x04:
        by = np.frombuffer(data, np.uint8, count=(npix + 1) // 2)
        nib = np.empty(2 * len(by), np.uint8)
        nib[0::2] = by >> 4
        nib[1::2] = by & 0x0F
        out[:] = add(nib[:npix])
    elif magic == 0x01:
        by = np.frombuffer(data, np.uint8, count=(npix + 7) // 8)
        bits = np.unpackbits(by)[:npix]
        out[:] = add(bits)
    elif magic == 0x00:
        out[:] = _wrap32(nmin)
    elif magic == 0x10:
        out[:] = add(np.frombuffer(data, ">u2", count=npix))
    elif magic == 0x20:
        out[:] = add(np.frombuffer(data, ">i4", count=npix))
    elif magic == 0xFF:
        # CCITT-coded tile: reference warns + fills nodata
        pass
    elif magic in (0xE0, 0xF0, 0xFC, 0xF8, 0xDF, 0xD7, 0xCF):
        npx = 0
        pos2 = 0
        n = len(data)
        while npx < npix and pos2 < n:
            marker = data[pos2]
            pos2 += 1
            if magic == 0xE0:
                val = _wrap32(struct.unpack_from(">i", data, pos2)[0]
                              + nmin)
                pos2 += 4
                out[npx:npx + marker] = val
                npx += marker
            elif magic == 0xF0:
                val = _wrap32(data[pos2] * 256 + data[pos2 + 1] + nmin)
                pos2 += 2
                out[npx:npx + marker] = val
                npx += marker
            elif magic in (0xFC, 0xF8):
                val = _wrap32(data[pos2] + nmin)
                pos2 += 1
                out[npx:npx + marker] = val
                npx += marker
            elif magic == 0xDF and marker < 128:
                out[npx:npx + marker] = _wrap32(nmin)
                npx += marker
            elif magic == 0xD7 and marker < 128:
                vals = add(np.frombuffer(data, np.uint8, count=marker,
                                         offset=pos2))
                pos2 += marker
                out[npx:npx + marker] = vals
                npx += marker
            elif magic == 0xCF and marker < 128:
                vals = add(np.frombuffer(data, ">u2", count=marker,
                                         offset=pos2))
                pos2 += 2 * marker
                out[npx:npx + marker] = vals
                npx += marker
            elif marker > 128:
                cnt = 256 - marker
                out[npx:npx + cnt] = NO_DATA_INT
                npx += cnt
            else:
                raise ValueError(f"AIG: bad marker under 0x{magic:02x}")
        if npx < npix:
            raise ValueError("AIG: ran out of data in block")
    else:
        # unsupported tile type: nodata like the reference
        pass
    return out


def parse_aig(dirname: str):
    """Coverage directory -> (arr north-up, gt, nodata, proj)."""
    dirname = local_path(dirname).rstrip("/")
    hdr = _read(dirname, "hdr.adf")
    cell_type, comp_flag = struct.unpack_from(">ii", hdr, 16)
    csx, csy = struct.unpack_from(">dd", hdr, 256)
    bpr, bpc, bw = struct.unpack_from(">iii", hdr, 288)
    bh = struct.unpack_from(">i", hdr, 304)[0]
    compressed = not comp_flag
    llx, lly, urx, ury = struct.unpack_from(">dddd",
                                            _read(dirname, "dblbnd.adf"))
    if csx <= 0 or csy <= 0:
        raise ValueError("AIG: illegal cell size")
    w = int((urx - llx + 0.5 * csx) / csx)
    h = int((ury - lly + 0.5 * csy) / csy)
    if w <= 0 or h <= 0 or bw <= 0 or bh <= 0 or bpr <= 0 or bpc <= 0:
        raise ValueError("AIG: invalid dimensions")
    if bpr * bw < w or bpc * bh < h:
        raise ValueError("AIG: multi-tile grids not supported")

    sta = _read(dirname, "sta.adf")
    nstat = len(sta) // 8
    stats = struct.unpack_from(">%dd" % min(4, nstat), sta)
    dmin, dmax = stats[0], stats[1]

    idx = _read(dirname, "w001001x.adf")
    if idx[0:2] != b"\x00\x00" or idx[2] != 0x27 or idx[3] != 0x0A \
            or idx[4] != 0xFF or idx[5] != 0xFF:
        raise ValueError("AIG: corrupt block index magic")
    nlen = struct.unpack_from(">I", idx, 24)[0] * 2
    nblocks = (nlen - 100) // 8
    entries = np.frombuffer(idx, ">u4", count=2 * nblocks, offset=100)
    offsets = entries[0::2].astype(np.int64) * 2
    sizes = entries[1::2].astype(np.int64) * 2

    data = _read(dirname, "w001001.adf")
    is_float = cell_type == 2
    full = np.full((bpc * bh, bpr * bw),
                   np.nan if is_float else NO_DATA_INT,
                   np.float64 if is_float else np.int64)
    for i in range(min(nblocks, bpr * bpc)):
        by, bx = divmod(i, bpr)
        size = int(sizes[i])
        if size == 0:
            continue
        off = int(offsets[i])
        block = data[off:off + size + 2]
        if len(block) < 2 or (block[0] * 256 + block[1]) * 2 != size:
            raise ValueError(f"AIG: corrupt block {i}")
        body = block[2:]
        if is_float:
            vals = np.frombuffer(body, ">f4", count=bw * bh) \
                .astype(np.float64)
        elif not compressed:
            vals = np.frombuffer(body, ">i4", count=bw * bh) \
                .astype(np.int64)
        else:
            vals = _decode_int_block(body, bw, bh)
        full[by * bh:(by + 1) * bh,
             bx * bw:(bx + 1) * bw] = vals.reshape(bh, bw)
    full = full[:h, :w]

    if is_float:
        arr = full.astype(np.float32)
        arr[~np.isfinite(arr)] = NO_DATA_FLOAT
        nodata = NO_DATA_FLOAT
    elif dmin >= 0.0 and dmax <= 254.0:
        arr = np.where(full == NO_DATA_INT, 255, full).astype(np.uint8)
        nodata = 255.0
    elif dmin >= -32767 and dmax <= 32767:
        arr = np.where(full == NO_DATA_INT, -32768, full).astype(np.int16)
        nodata = -32768.0
    else:
        arr = full.astype(np.int32)
        nodata = float(NO_DATA_INT)
    gt = (llx, csx, 0.0, ury, 0.0, -csy)
    proj = ""
    prj = _member(dirname, "prj.adf")
    if prj is not None:
        with open(prj, "r", encoding="latin-1") as f:
            proj = " ".join(f.read().split())
    return arr, gt, nodata, proj


def _adf_header(payload_len: int) -> bytes:
    head = bytearray(100)
    head[0:8] = _IDX_MAGIC
    struct.pack_into(">I", head, 24, (100 + payload_len) // 2)
    return bytes(head)


def format_aig(arr: np.ndarray, gt) -> dict[str, bytes]:
    """North-up (h, w) int32/float32 array + geotransform ->
    {member-name: bytes} for a spec-valid single-tile coverage (one
    raw block per row band)."""
    arr = np.asarray(arr)
    if arr.ndim != 2:
        raise ValueError("AIG writer: single-band (h, w) only")
    if gt[2] or gt[4] or gt[5] >= 0:
        raise ValueError("AIG writer: north-up grids only")
    h, w = arr.shape
    is_float = np.issubdtype(arr.dtype, np.floating)
    cell_type = 2 if is_float else 1
    bw, bh = w, 1  # one block per row
    bpr, bpc = 1, h
    csx, csy = float(gt[1]), float(-gt[5])
    llx = float(gt[0])
    ury = float(gt[3])
    urx = llx + w * csx
    lly = ury - h * csy

    hdr = bytearray(308)
    hdr[0:8] = b"GRID1.2\x00"
    struct.pack_into(">ii", hdr, 16, cell_type, 0)  # 0 -> compressed
    struct.pack_into(">dd", hdr, 256, csx, csy)
    struct.pack_into(">iii", hdr, 288, bpr, bpc, bw)
    struct.pack_into(">i", hdr, 304, bh)

    blocks = []
    for y in range(h):
        if is_float:
            body = np.ascontiguousarray(arr[y]).astype(">f4").tobytes()
        else:
            body = (b"\x20\x00"
                    + np.ascontiguousarray(arr[y]).astype(">i4").tobytes())
        blocks.append(struct.pack(">H", len(body) // 2) + body)
    data = _adf_header(sum(len(b) for b in blocks)) + b"".join(blocks)

    index = bytearray()
    off = 100
    for b in blocks:
        index += struct.pack(">II", off // 2, (len(b) - 2) // 2)
        off += len(b)
    idx = _adf_header(len(index)) + bytes(index)

    valid = arr[arr != NO_DATA_INT] if not is_float else \
        arr[np.isfinite(arr) & (arr != np.float32(NO_DATA_FLOAT))]
    dmin = float(valid.min()) if valid.size else 0.0
    dmax = float(valid.max()) if valid.size else 0.0
    dmean = float(valid.mean()) if valid.size else 0.0
    sta = struct.pack(">dddd", dmin, dmax, dmean, 0.0)
    dblbnd = struct.pack(">dddd", llx, lly, urx, ury)
    return {"hdr.adf": bytes(hdr), "dblbnd.adf": dblbnd,
            "sta.adf": sta, "w001001.adf": data, "w001001x.adf": idx}


def scan_aig(spark, path_glob: str, srid: int = 0):
    """Glob of coverage DIRECTORIES -> images-table rows, one task
    per coverage."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "nodata double, proj string")

    def read(r):
        arr, gt, nodata, proj = parse_aig(r.path)
        return [raster_row(os.path.basename(r.path.rstrip("/")), arr, gt,
                           int(srid), nodata, proj=proj)]

    # a wildcard keeps only directories; a literal path is taken as-is
    pat = local_path(path_glob)
    paths = glob_paths(path_glob,
                       keep=lambda p: p == pat or os.path.isdir(p))
    return scan_files(spark, paths, read, schema)


def write_aig(df, out_dir: str) -> list[str]:
    """Images-table rows -> one coverage directory per row, written
    by the task that holds the row."""
    def dump_row(r, arr, gt, nd, out_dir):
        if arr.ndim == 3:
            arr = arr[:, :, 0]
        if not np.issubdtype(arr.dtype, np.floating):
            arr = arr.astype(np.int32)
        cov = os.path.join(out_dir, r.image_id)
        os.makedirs(cov, exist_ok=True)
        for name, payload in format_aig(arr, gt).items():
            with open(os.path.join(cov, name), "wb") as f:
                f.write(payload)
        return cov

    return write_files(df, out_dir, dump_row)
