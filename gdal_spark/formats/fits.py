"""FITS (Flexible Image Transport System) driver.

Reference semantics: frmts/fits/fitsdataset.cpp (the published FITS
standard, A&A 376, 359 (2001)):

- 2880-byte header blocks of 80-char ``KEY     = value / comment``
  cards terminated by ``END``; data follows in the next 2880-byte
  block, BIG-endian, rows stored BOTTOM-UP (flipped to north-up on
  read); BITPIX 8/16/32/64 integer, -32/-64 IEEE float; NAXIS1 =
  width, NAXIS2 = height, NAXIS3 = bands;
- multi-HDU files: the primary HDU may be headerless metadata
  (NAXIS=0) with image ``XTENSION= 'IMAGE   '`` extensions following
  (the reference exposes them as subdatasets; here every image HDU
  becomes its own row, suffixed ``#n`` past the first);
- BZERO/BSCALE become band offset/scale ("physical = BZERO +
  BSCALE * stored"), except the integer unsigned-shift convention
  (BITPIX 16 with BZERO 32768 -> UInt16, BITPIX 8 with BZERO -128
  -> Int8-as-read) which the reference folds into the dtype;
  BLANK is nodata;
- WCS georef for angular CTYPEs (``*LN-XXX``): ``cd = CDELT x PC``
  (or the CD matrix), ``radfac = pi/180 * A_RADIUS``, ``gt1 =
  cd11*radfac``, ``gt5 = -cd22*radfac``, ``gt0 = CRVAL1*radfac -
  gt1*(CRPIX1-0.5)`` (CRVAL1 > 180 wraps by -180), ``gt3 =
  -gt5*(CRPIX2-0.5)`` (the reference assumes the Y origin at the
  projection center) — pinned on byte_merc.fits' quoted gt golden
  at 1e-3; the ``CTYPE-`` suffix (MER/CAR/SFL/...) + target radii
  carried as structured metadata.

Spark shape: one task per file both ways; the sink is the usual
task-per-row writer emitting single-HDU files (bottom-up big-endian
data, CAR WCS cards inverted from the geotransform).
"""

from __future__ import annotations

import os

import numpy as np

from ._raw import read_raw, write_raw
from ._util import glob_paths, raster_row, scan_files, write_files

BLOCK = 2880
DEG2RAD = np.pi / 180.0


def _parse_cards(block: bytes):
    """One or more header blocks -> ({KEY: raw-value}, ncards) until
    END."""
    cards = {}
    n = 0
    for i in range(0, len(block), 80):
        card = block[i:i + 80].decode("ascii", "replace")
        n += 1
        key = card[:8].strip()
        if key == "END":
            return cards, n
        if not key or key in ("COMMENT", "HISTORY", "CONTINUE"):
            continue
        if card[8:10] != "= ":
            continue
        body = card[10:]
        if body.lstrip().startswith("'"):
            # quoted string, '' doubles; strip trailing comment
            s = body.lstrip()
            out = []
            j = 1
            while j < len(s):
                if s[j] == "'":
                    if j + 1 < len(s) and s[j + 1] == "'":
                        out.append("'")
                        j += 2
                        continue
                    break
                out.append(s[j])
                j += 1
            val = "".join(out).rstrip()
        else:
            val = body.split("/")[0].strip()
        cards.setdefault(key, val)
    return cards, None  # END not found in this block


def _read_header(buf: bytes, off: int):
    """Full (multi-block) header at off -> (cards, data_offset)."""
    cards: dict[str, str] = {}
    pos = off
    while pos < len(buf):
        blk_cards, n = _parse_cards(buf[pos:pos + BLOCK])
        for k, v in blk_cards.items():
            cards.setdefault(k, v)
        pos += BLOCK
        if n is not None:
            return cards, pos
    raise ValueError("FITS: header without END card")


_BITPIX = {8: "u1", 16: "i2", 32: "i4", 64: "i8",
           -32: "f4", -64: "f8"}


def _hdu_arrays(buf: bytes):
    """Walk every HDU -> list of (cards, arr-or-None). Non-image
    HDUs (tables, NAXIS=0) yield arr None."""
    out = []
    off = 0
    first = True
    while off + 80 <= len(buf):
        head = buf[off:off + 8].decode("ascii", "replace")
        if first and head != "SIMPLE  ":
            raise ValueError("FITS: no SIMPLE card")
        if not first and head != "XTENSION":
            break
        cards, data_off = _read_header(buf, off)
        first = False
        bitpix = int(cards.get("BITPIX", "8"))
        naxis = int(cards.get("NAXIS", "0"))
        dims = [int(cards.get(f"NAXIS{i}", "0"))
                for i in range(1, naxis + 1)]
        nelem = 1
        for d in dims:
            nelem *= d
        # tables reserve PCOUNT/GCOUNT extra bytes
        pcount = int(cards.get("PCOUNT", "0"))
        gcount = int(cards.get("GCOUNT", "1"))
        total = (abs(bitpix) // 8 * (pcount + nelem)) * gcount if naxis else 0
        xt = cards.get("XTENSION", "").strip()
        is_image = (naxis >= 2 and all(d > 0 for d in dims)
                    and xt in ("", "IMAGE") and bitpix in _BITPIX)
        arr = None
        if is_image:
            w, h = dims[0], dims[1]
            nb = dims[2] if len(dims) > 2 else 1
            # FITS rows are bottom-up
            arr = read_raw(buf, ">" + _BITPIX[bitpix], w, h, nb, "bsq",
                           data_off, bottom_up=True)
            # unsigned-shift convention folded into the dtype
            bzero = float(cards.get("BZERO", "0") or "0")
            if bitpix == 16 and bzero == 32768.0:
                arr = (arr.astype(np.int32) + 32768).astype(np.uint16)
                cards = dict(cards)
                cards.pop("BZERO", None)
            elif bitpix == 32 and bzero == 2147483648.0:
                arr = (arr.astype(np.int64) + 2147483648).astype(np.uint32)
                cards = dict(cards)
                cards.pop("BZERO", None)
        out.append((cards, arr))
        off = data_off + ((total + BLOCK - 1) // BLOCK) * BLOCK
    return out


def _georef(cards):
    """WCS cards -> (gt-or-None, proj string), the reference's exact
    angular-CTYPE pipeline."""
    ctype1 = cards.get("CTYPE1", "")
    if "LN" not in ctype1:
        return None, ""
    try:
        crpix1 = float(cards["CRPIX1"])
        crpix2 = float(cards["CRPIX2"])
        crval1 = float(cards["CRVAL1"])
        crval2 = float(cards["CRVAL2"])
    except KeyError:
        return None, ""
    a_radius = float(cards.get("A_RADIUS", "0") or "0")
    if a_radius <= 0:
        a_radius = 6378137.0
    c_radius = float(cards.get("C_RADIUS", "0") or "0") or a_radius
    if "CDELT1" in cards:
        cdelt1 = float(cards["CDELT1"])
        cdelt2 = float(cards["CDELT2"])
        pc = [float(cards.get("PC1_1", "1")), float(cards.get("PC1_2", "0")),
              float(cards.get("PC2_1", "0")), float(cards.get("PC2_2", "1"))]
        cd = [cdelt1 * pc[0], cdelt1 * pc[1],
              cdelt2 * pc[2], cdelt2 * pc[3]]
    elif "CD1_1" in cards:
        cd = [float(cards.get("CD1_1", "0")), float(cards.get("CD1_2", "0")),
              float(cards.get("CD2_1", "0")), float(cards.get("CD2_2", "0"))]
    else:
        return None, ""
    radfac = DEG2RAD * a_radius
    gt1 = cd[0] * radfac
    gt2 = cd[1] * radfac
    gt4 = cd[2] * radfac
    gt5 = -cd[3] * radfac
    if crval1 > 180.0:
        crval1 -= 180.0
    gt0 = crval1 * radfac - gt1 * (crpix1 - 0.5)
    gt3 = -gt5 * (crpix2 - 0.5)
    proj_code = ctype1.rsplit("-", 1)[-1] if "-" in ctype1 else ""
    target = cards.get("OBJECT", "").strip()
    proj = "|".join([proj_code, target, repr(a_radius), repr(c_radius),
                     repr(crval1), repr(crval2)])
    return (gt0, gt1, gt2, gt3, gt4, gt5), proj


def parse_fits(buf: bytes):
    """FITS bytes -> list of (arr north-up, gt-or-None, nodata,
    scale, offset, proj, extname) — one tuple per image HDU."""
    out = []
    for cards, arr in _hdu_arrays(buf):
        if arr is None:
            continue
        gt, proj = _georef(cards)
        nodata = None
        if "BLANK" in cards:
            nodata = float(cards["BLANK"].rstrip("."))
        scale = float(cards.get("BSCALE", "1") or "1")
        offset = float(cards.get("BZERO", "0") or "0")
        extname = cards.get("EXTNAME", "").strip()
        out.append((arr, gt, nodata, scale, offset, proj, extname))
    if not out:
        raise ValueError("FITS: no image HDU")
    return out


def _card(key: str, val, comment: str = "") -> bytes:
    if isinstance(val, bool):
        body = "%20s" % ("T" if val else "F")
    elif isinstance(val, str):
        body = "'%-8s'" % val.replace("'", "''")
        body = "%-20s" % body
    elif isinstance(val, float):
        body = "%20s" % repr(val)
    else:
        body = "%20d" % val
    card = "%-8s= %s" % (key, body)
    if comment:
        card += " / " + comment
    return card[:80].ljust(80).encode("ascii")


def format_fits(arr: np.ndarray, gt=None, nodata=None,
                a_radius: float = 6378137.0) -> bytes:
    """North-up (h, w[, nb]) array -> single-HDU FITS bytes
    (bottom-up big-endian data; north-up geotransforms inverted into
    equirectangular CAR WCS cards)."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    code = arr.dtype.str.lstrip("<>=|")
    bitpix = {"u1": 8, "i2": 16, "i4": 32, "i8": 64,
              "f4": -32, "f8": -64}.get(code)
    if bitpix is None:
        raise ValueError(f"FITS writer: unsupported dtype {arr.dtype}")
    cards = [_card("SIMPLE", True, "file does conform to FITS standard"),
             _card("BITPIX", bitpix), _card("NAXIS", 3 if nb > 1 else 2),
             _card("NAXIS1", w), _card("NAXIS2", h)]
    if nb > 1:
        cards.append(_card("NAXIS3", nb))
    if gt is not None and gt[1]:
        if gt[2] or gt[4] or gt[5] >= 0:
            raise ValueError("FITS writer: north-up grids only")
        radfac = DEG2RAD * a_radius
        cd11 = float(gt[1]) / radfac
        # PC2_2 = -1 below, so CDELT2 carries gt5's own sign:
        # reader cd[3] = CDELT2 * PC2_2, gt5 = -cd[3] * radfac
        cd22 = float(gt[5]) / radfac
        crpix1 = -float(gt[0]) / float(gt[1]) + 0.5
        crpix2 = float(gt[3]) / -float(gt[5]) + 0.5
        cards += [
            _card("OBJECT", "Earth"),
            _card("A_RADIUS", float(a_radius)),
            _card("B_RADIUS", float(a_radius)),
            _card("C_RADIUS", float(a_radius)),
            _card("CTYPE1", "EALN-CAR"), _card("CTYPE2", "EALT-CAR"),
            _card("CRVAL1", 0.0), _card("CRVAL2", 0.0),
            _card("CRPIX1", crpix1), _card("CRPIX2", crpix2),
            _card("CDELT1", cd11), _card("CDELT2", cd22),
            _card("PC1_1", 1.0), _card("PC1_2", 0.0),
            _card("PC2_1", -0.0), _card("PC2_2", -1.0),
        ]
    if nodata is not None:
        cards.append(_card("BLANK", float(nodata)))
    header = b"".join(cards) + b"END".ljust(80)
    header = header.ljust(
        ((len(header) + BLOCK - 1) // BLOCK) * BLOCK, b" ")
    data = write_raw(arr, ">" + code, "bsq", bottom_up=True)
    data = data.ljust(((len(data) + BLOCK - 1) // BLOCK) * BLOCK, b"\0")
    return header + data


def scan_fits(spark, path_glob: str, srid: int = 0):
    """Glob of .fits files -> images-table rows, one task per file;
    every image HDU becomes a row (``stem#n`` past the first)."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "nodata double, scale double, offset double, "
              "proj string")

    def read(r):
        with open(r.path, "rb") as f:
            buf = f.read()
        stem = os.path.splitext(os.path.basename(r.path))[0]
        rows = []
        for i, (arr, gt, nodata, scale, offset, proj,
                extname) in enumerate(parse_fits(buf)):
            if gt is None:
                gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
            rows.append(raster_row(stem if i == 0 else f"{stem}#{i}", arr,
                                   gt, int(srid), nodata, scale=scale,
                                   offset=offset, proj=proj))
        return rows

    return scan_files(spark, glob_paths(path_glob), read, schema)


def write_fits(df, out_dir: str) -> list[str]:
    """Images-table rows -> one single-HDU .fits per row, written by
    the task that holds the row."""
    def dump_row(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.fits")
        with open(path, "wb") as f:
            f.write(format_fits(arr, gt, nodata=nd))
        return path

    return write_files(df, out_dir, dump_row)
