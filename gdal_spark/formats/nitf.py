"""NITF (National Imagery Transmission Format) driver, written from
the published MIL-STD-2500C / STDI-0002 standard.

Reference semantics: frmts/nitf/{nitffile.c,nitfimage.c,
nitfdataset.cpp}:

- file header ``NITF02.10`` / ``NSIF01.00`` (same layout) or
  ``NITF02.00``: the fixed field run puts FL@342 for every version
  EXCEPT 2.0 files whose FSDWNG field is ``999998`` (then the
  40-char FSDEVT shifts everything by 40); FL(12) HL(6) NUMI(3)
  then per-image LISH(6)/LI(10) pairs, followed by the graphic/
  label/text/DES/RES segment tables and UDHD/XHD, with segment DATA
  laid out sequentially after the header in table order;
- image subheader: fixed run through ISORCE, NROWS(8) NCOLS(8)
  PVTYPE(3) IREP(8) ICAT(8) ABPP(2) PJUST(1) ICORDS(1) +
  IGEOLO(60) when ICORDS is not blank (2.0 spells blank ICORDS
  ``N`` with no IGEOLO — the reference's quirk), NICOM(1)+80-char
  comments, IC(2) (+COMRAT(4) when compressed/masked), NBANDS(1)
  (0 -> XBANDS(5)), per-band IREPBAND(2) ISUBCAT(6) IFC(1)
  IMFLT(3) NLUTS(1) (+NELUT(5)+LUT bytes), then ISYNC IMODE
  NBPR(4) NBPC(4) NPPBH(4) NPPBV(4) NBPP(2) ...;
- pixel data: IC ``NC``/``NM`` uncompressed, blocked NBPR x NBPC
  blocks of NPPBH x NPPBV, IMODE B (band blocks interleaved
  block-major), P (pixel-interleaved within a block), S (band
  sequential across the whole segment), R (row-interleaved within
  a block); NM prefixes a block mask subheader (IMDATOFF(4)
  BMRLNTH(2) TMRLNTH(2) TPXCDLNTH(2) [+pad code] [+per-block
  offsets, 0xFFFFFFFF = missing block -> zero fill]); NBPP 1
  (MSB-first bit-packed rows within each block), 8/16/32/64 with
  PVTYPE INT/SIG/R big-endian; compressed ICs (C1/C3/C8/...) are
  rejected with a clear error;
- ICORDS G (DMS) / D (decimal) / N,S (UTM) corner strings in
  IGEOLO order UL,UR,LR,LL -> an affine geotransform exactly like
  the reference's corner interpretation (rgb.ntf's quoted gt
  golden: edges at the outer corner, cell = span/size);
- TEXT segment payloads surface as DATA_n metadata (ns3114a golden).

Spark shape: one task per file both ways (one row per image
segment, ``#n`` suffixes past the first); the sink is the usual
task-per-row writer emitting single-block IMODE P ``NITF02.10``
files.
"""

from __future__ import annotations

import os

import numpy as np

from ._raw import read_raw, write_raw
from ._util import glob_paths, raster_row, scan_files, write_files

_PVTYPE = {
    ("INT", 8): "u1", ("INT", 16): "u2", ("INT", 32): "u4",
    ("SIG", 8): "i1", ("SIG", 16): "i2", ("SIG", 32): "i4",
    ("R", 32): "f4", ("R", 64): "f8", ("B", 1): "u1",
    ("INT", 1): "u1",
}


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf, pos=0):
        self.buf = buf
        self.pos = pos

    def s(self, n):
        v = self.buf[self.pos:self.pos + n].decode("latin-1")
        self.pos += n
        return v

    def i(self, n):
        return int(self.s(n).strip() or "0")

    def skip(self, n):
        self.pos += n


def _dms(tok: str, is_lat: bool) -> float:
    if is_lat:
        d, m, s, hemi = tok[:2], tok[2:4], tok[4:6], tok[6]
    else:
        d, m, s, hemi = tok[:3], tok[3:5], tok[5:7], tok[7]
    v = int(d) + int(m) / 60.0 + int(s) / 3600.0
    return -v if hemi in "SW" else v


def parse_file_header(buf: bytes):
    """-> (version, [(subheader_off, subheader_len, data_len)],
    [(text_subhdr_len, text_len)], header_len)."""
    r = _Reader(buf)
    fhdr = r.s(9)
    if fhdr not in ("NITF02.10", "NSIF01.00", "NITF02.00",
                    "NITF01.10"):
        raise ValueError(f"not a NITF file ({fhdr!r})")
    v20 = fhdr in ("NITF02.00", "NITF01.10")
    fl_off = 342
    if v20:
        # FSDWNG '999998' inserts the 40-char FSDEVT field
        fsdwng = buf[280:286].decode("latin-1")
        if fsdwng == "999998":
            fl_off += 40
    r.pos = fl_off
    fl = r.i(12)
    hl = r.i(6)
    if fl <= hl:
        raise ValueError("NITF: header-only file (no image segment)")
    numi = r.i(3)
    images = []
    for _ in range(numi):
        lish = r.i(6)
        li = r.i(10)
        images.append([lish, li])
    nums = r.i(3)
    graphics = [(r.i(4), r.i(6)) for _ in range(nums)]
    numx = r.i(3)  # 2.1 reserved / 2.0 labels
    labels = [(r.i(4), r.i(3)) for _ in range(numx)] if v20 else []
    numt = r.i(3)
    texts = [(r.i(4), r.i(5)) for _ in range(numt)]
    # segments are laid out sequentially after the header
    off = hl
    img_locs = []
    for lish, li in images:
        img_locs.append((off, lish, li))
        off += lish + li
    for lssh, ls in graphics:
        off += lssh + ls
    for llsh, ll in labels:
        off += llsh + ll
    text_locs = []
    for ltsh, lt in texts:
        text_locs.append((off, ltsh, lt))
        off += ltsh + lt
    return fhdr, img_locs, text_locs, hl


def parse_image_subheader(buf: bytes, off: int, version: str):
    """-> dict with dims/dtype/layout/georef fields; r.pos is left
    just past the parsed fields (not used further)."""
    v20 = version in ("NITF02.00", "NITF01.10")
    r = _Reader(buf, off)
    if r.s(2) != "IM":
        raise ValueError("NITF: bad image subheader magic")
    r.skip(10 + 14 + 17 + 80)  # IID1 IDATIM TGTID IID2
    r.skip(1)  # ISCLAS
    if v20:
        r.skip(40 + 40 + 40 + 20 + 20)  # FSCODE..FSCTLN
        dwng = r.s(6)
        if dwng == "999998":
            r.skip(40)
    else:
        r.skip(2 + 11 + 2 + 20 + 2 + 8 + 4 + 1 + 8 + 43 + 1 + 40
               + 1 + 8 + 15)  # 2.1 security block (166)
    r.skip(1)  # ENCRYP
    r.skip(42)  # ISORCE
    nrows = r.i(8)
    ncols = r.i(8)
    pvtype = r.s(3).strip()
    irep = r.s(8).strip()
    r.skip(8)  # ICAT
    abpp = r.i(2)
    r.skip(1)  # PJUST
    icords = r.s(1)
    igeolo = ""
    has_igeolo = (icords not in (" ", "")
                  if not v20 else icords not in (" ", "", "N"))
    if has_igeolo:
        igeolo = r.s(60)
    nicom = r.i(1)
    r.skip(80 * nicom)
    ic = r.s(2)
    if ic not in ("NC", "NM"):
        if ic[0] in ("C", "M", "I"):
            raise ValueError(
                f"NITF: compressed IC={ic!r} not supported")
        raise ValueError(f"NITF: unknown IC {ic!r}")
    # COMRAT is conditional on IC not being NC/NM (spec) — the
    # uncompressed-masked ns3034d fixture pins its absence for NM
    nbands = r.i(1)
    if nbands == 0:
        nbands = r.i(5)
    luts = []
    for _ in range(nbands):
        r.skip(2 + 6 + 1 + 3)  # IREPBAND ISUBCAT IFC IMFLT
        nluts = r.i(1)
        lut = None
        if nluts > 0:
            nelut = r.i(5)
            lut = np.frombuffer(
                buf, np.uint8, count=nluts * nelut,
                offset=r.pos).reshape(nluts, nelut).copy()
            r.skip(nluts * nelut)
        luts.append(lut)
    r.skip(1)  # ISYNC
    imode = r.s(1)
    nbpr = r.i(4)
    nbpc = r.i(4)
    nppbh = r.i(4)
    nppbv = r.i(4)
    nbpp = r.i(2)
    return {
        "nrows": nrows, "ncols": ncols, "pvtype": pvtype,
        "irep": irep, "abpp": abpp, "icords": icords,
        "igeolo": igeolo, "ic": ic, "nbands": nbands,
        "imode": imode, "nbpr": nbpr, "nbpc": nbpc,
        "nppbh": nppbh, "nppbv": nppbv, "nbpp": nbpp, "luts": luts,
    }


def _georef(icords: str, igeolo: str, ncols: int, nrows: int):
    """IGEOLO corners -> gt-or-None (geographic forms only; UTM
    corners carried raw in metadata)."""
    if not igeolo or icords not in ("G", "D"):
        return None
    pts = []
    for i in range(4):
        tok = igeolo[15 * i:15 * (i + 1)]
        if icords == "G":
            lat = _dms(tok[:7], True)
            lon = _dms(tok[7:], False)
        else:
            lat = float(tok[:7])
            lon = float(tok[7:])
        pts.append((lon, lat))
    (ulx, uly), (urx, _ury), (_lrx, lry), (_llx, _lly) = pts
    if ncols <= 1 or nrows <= 1:
        return None
    # the reference's ADJUSTED IGEOLO interpretation (rgb.ntf gt
    # golden): corners are the CENTERS of the corner pixels, so
    # cell = span/(n-1) and the edge backs off half a cell
    gx = (urx - ulx) / (ncols - 1)
    gy = (lry - uly) / (nrows - 1)
    return (ulx - gx / 2.0, gx, 0.0, uly - gy / 2.0, 0.0, gy)


def _read_pixels(buf, off, h):
    """Image-segment data -> (nrows, ncols, nbands) array."""
    code = _PVTYPE.get((h["pvtype"], h["nbpp"]))
    if code is None:
        raise ValueError(
            f"NITF: PVTYPE={h['pvtype']} NBPP={h['nbpp']} unsupported")
    nb = h["nbands"]
    bw, bh = h["nppbh"], h["nppbv"]
    nbpr, nbpc = h["nbpr"], h["nbpc"]
    itemsize = np.dtype(code).itemsize
    if h["nbpp"] == 1:
        block_band_bytes = (bw * bh + 7) // 8
    else:
        block_band_bytes = bw * bh * itemsize

    data_off = off
    nblocks = nbpr * nbpc
    block_offsets = None
    if h["ic"] == "NM":
        imdatoff = int.from_bytes(buf[off:off + 4], "big")
        bmrlnth = int.from_bytes(buf[off + 4:off + 6], "big")
        tmrlnth = int.from_bytes(buf[off + 6:off + 8], "big")
        tpxcdlnth = int.from_bytes(buf[off + 8:off + 10], "big")
        p = off + 10 + (tpxcdlnth + 7) // 8
        nmaskblocks = nblocks * (nb if h["imode"] == "S" else 1)
        if bmrlnth:
            block_offsets = [
                int.from_bytes(buf[p + 4 * i:p + 4 * i + 4], "big")
                for i in range(nmaskblocks)]
            p += 4 * nmaskblocks
        if tmrlnth:
            p += 4 * nmaskblocks
        data_off = off + imdatoff

    full = np.zeros((nbpc * bh, nbpr * bw, nb),
                    np.dtype(code))
    layout = {"P": "bip", "R": "bil"}.get(h["imode"], "bsq")

    def read_block(pos, nbands):
        """nbands bands of one block at pos -> (bh, bw, nbands)."""
        if h["nbpp"] == 1:  # bit-packed bands, one after another
            bits = [np.unpackbits(np.frombuffer(
                buf[p:p + block_band_bytes].ljust(block_band_bytes, b"\0"),
                np.uint8))[:bw * bh] for p in range(
                    pos, pos + nbands * block_band_bytes, block_band_bytes)]
            return np.stack(bits, axis=-1).reshape(bh, bw, nbands)
        return read_raw(buf, ">" + code, bw, bh, nbands, layout,
                        pos).reshape(bh, bw, nbands)

    # B/R/P (or one band): each block holds every band, interleaved
    # per IMODE; S: all blocks of band 1, then all of band 2, ...
    if h["imode"] in ("B", "R", "P") or nb == 1:
        groups = [(slice(None), nb)]
    elif h["imode"] == "S":
        groups = [(slice(b, b + 1), 1) for b in range(nb)]
    else:
        raise ValueError(f"NITF: IMODE {h['imode']!r} unsupported")
    bi = 0
    for bands, n in groups:
        for by in range(nbpc):
            for bx in range(nbpr):
                if block_offsets is None:
                    pos = data_off + bi * block_band_bytes * n
                elif block_offsets[bi] == 0xFFFFFFFF:
                    bi += 1
                    continue
                else:
                    pos = data_off + block_offsets[bi]
                bi += 1
                full[by * bh:(by + 1) * bh,
                     bx * bw:(bx + 1) * bw, bands] = read_block(pos, n)
    arr = full[:h["nrows"], :h["ncols"], :]
    return np.ascontiguousarray(arr[:, :, 0] if nb == 1 else arr)


def parse_nitf(buf: bytes):
    """NITF bytes -> list of (arr, gt-or-None, meta dict) per image
    segment; meta carries icords/igeolo/irep/version and TEXT
    segment payloads (DATA_n)."""
    version, img_locs, text_locs, _hl = parse_file_header(buf)
    texts = {}
    for i, (toff, ltsh, lt) in enumerate(text_locs):
        texts[f"DATA_{i}"] = buf[toff + ltsh:toff + ltsh + lt] \
            .decode("latin-1")
    out = []
    for off, lish, li in img_locs:
        h = parse_image_subheader(buf, off, version)
        arr = _read_pixels(buf, off + lish, h)
        gt = _georef(h["icords"], h["igeolo"], h["ncols"], h["nrows"])
        meta = {"version": version, "irep": h["irep"],
                "icords": h["icords"], "igeolo": h["igeolo"],
                "ic": h["ic"], "imode": h["imode"],
                "abpp": h["abpp"]}
        meta.update(texts)
        out.append((arr, gt, meta))
    if not out:
        raise ValueError("NITF: no image segments")
    return out


def nitf_texts(buf: bytes) -> dict[str, str]:
    """TEXT segment payloads -> {DATA_n: text} (works on image-less
    files like the ns3114a golden)."""
    _v, _imgs, text_locs, _hl = parse_file_header(buf)
    return {
        f"DATA_{i}": buf[toff + ltsh:toff + ltsh + lt].decode("latin-1")
        for i, (toff, ltsh, lt) in enumerate(text_locs)
    }


def format_nitf(arr: np.ndarray, gt=None) -> bytes:
    """North-up (h, w[, nb]) array -> single-block IMODE P
    NITF02.10 bytes (ICORDS D corner georef when gt given)."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    code = arr.dtype.str.lstrip("<>=|")
    pv = {"u1": ("INT", 8), "u2": ("INT", 16), "u4": ("INT", 32),
          "i1": ("SIG", 8), "i2": ("SIG", 16), "i4": ("SIG", 32),
          "f4": ("R", 32), "f8": ("R", 64)}.get(code)
    if pv is None:
        raise ValueError(f"NITF writer: unsupported dtype {arr.dtype}")
    pvtype, nbpp = pv
    icords = " "
    igeolo = b""
    if gt is not None and gt[1]:
        if gt[2] or gt[4] or gt[5] >= 0:
            raise ValueError("NITF writer: north-up grids only")
        # IGEOLO carries the CENTERS of the corner pixels (the
        # reference's adjusted interpretation, mirrored on read)
        ulx, uly = gt[0] + gt[1] / 2.0, gt[3] + gt[5] / 2.0
        urx, ury = gt[0] + (w - 0.5) * gt[1], uly
        lrx, lry = urx, gt[3] + (h - 0.5) * gt[5]
        llx, lly = ulx, lry
        def c(lat, lon):
            return ("%+07.3f%+08.3f" % (lat, lon)).encode()
        icords = "D"
        igeolo = (c(uly, ulx) + c(ury, urx) + c(lry, lrx)
                  + c(lly, llx))
        if len(igeolo) != 60:
            raise ValueError("NITF writer: IGEOLO encoding error")

    sub = bytearray()
    sub += b"IM"
    sub += b"%-10s" % b"GSIMG"
    sub += b"0" * 14              # IDATIM
    sub += b" " * 17              # TGTID
    sub += b" " * 80              # IID2
    sub += b"U"                   # ISCLAS
    sub += b" " * 166             # 2.1 security block
    sub += b"0"                   # ENCRYP
    sub += b" " * 42              # ISORCE
    sub += b"%08d%08d" % (h, w)
    sub += b"%-3s" % pvtype.encode()
    sub += b"%-8s" % (b"MULTI" if nb > 1 else b"MONO")
    sub += b"%-8s" % b"VIS"
    sub += b"%02d" % nbpp
    sub += b"R"                   # PJUST
    sub += icords.encode()
    sub += igeolo
    sub += b"0"                   # NICOM
    sub += b"NC"
    sub += b"%d" % nb if nb <= 9 else b"0%05d" % nb
    for _ in range(nb):
        sub += b"%-2s" % b"M"
        sub += b" " * 6 + b"N" + b" " * 3 + b"0"
    sub += b"0"                   # ISYNC
    sub += b"P" if nb > 1 else b"B"
    sub += b"0001" * 2            # NBPR NBPC
    sub += b"%04d%04d" % (w, h)
    sub += b"%02d" % nbpp
    sub += b"001"                 # IDLVL
    sub += b"000"                 # IALVL
    sub += b"0" * 10              # ILOC
    sub += b"1.0 "                # IMAG
    sub += b"00000"               # UDIDL
    sub += b"00000"               # IXSHDL

    data = write_raw(arr, ">" + code, "bip")  # pixel interleaved

    head = bytearray()
    head += b"NITF02.10"
    head += b"03"                 # CLEVEL
    head += b"BF01"               # STYPE
    head += b"%-10s" % b"GDALSPRK"
    head += b"0" * 14             # FDT
    head += b" " * 80             # FTITLE
    head += b"U"                  # FSCLAS
    head += b" " * 166            # security block
    head += b"00000"              # FSCOP
    head += b"00000"              # FSCPYS
    head += b"0"                  # ENCRYP
    head += b"\x00\x00\x00"       # FBKGC
    head += b" " * 24             # ONAME
    head += b" " * 18             # OPHONE
    # FL(12) HL(6) NUMI(3) LISH LI + zero other segment counts
    tail = b"001" + b"%06d" % len(sub) + b"%010d" % len(data)
    tail += b"000" + b"000" + b"000" + b"000" + b"000"
    tail += b"00000" + b"00000"   # UDHDL XHDL
    hl = len(head) + 12 + 6 + len(tail)
    fl = hl + len(sub) + len(data)
    head += b"%012d" % fl + b"%06d" % hl + tail
    return bytes(head) + bytes(sub) + data


def scan_nitf(spark, path_glob: str, srid: int = 0):
    """Glob of .ntf/.nsf files -> images-table rows, one task per
    file; every image segment becomes a row (``#n`` past the
    first)."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "nodata double, meta string")

    def read(r):
        with open(r.path, "rb") as f:
            buf = f.read()
        stem = os.path.splitext(os.path.basename(r.path))[0]
        rows = []
        for i, (arr, gt, meta) in enumerate(parse_nitf(buf)):
            if gt is None:
                gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
            rows.append(raster_row(
                stem if i == 0 else f"{stem}#{i}", arr, gt, int(srid),
                meta="|".join(f"{k}={v}" for k, v in sorted(meta.items())
                              if k != "igeolo")))
        return rows

    return scan_files(spark, glob_paths(path_glob), read, schema)


def write_nitf(df, out_dir: str) -> list[str]:
    """Images-table rows -> one .ntf per row, written by the task
    that holds the row."""
    def dump_row(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.ntf")
        with open(path, "wb") as f:
            f.write(format_nitf(arr, gt))
        return path

    return write_files(df, out_dir, dump_row)
