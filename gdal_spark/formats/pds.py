"""NASA PDS3 planetary image driver — the label format Mars/Venus/Moon
mission rasters ship in.

Reference driver: frmts/pds/pdsdataset.cpp over
gcore/nasakeywordhandler.cpp (implemented from the published PDS3
standard — no code taken). Observable semantics, pinned on EIGHT
autotest fixtures:

- PVL label parse: ``KEY = value`` statements, ``/* comments */``,
  quoted strings spanning lines, ``(..)``/``{..}`` lists spanning
  lines, ``<UNIT>`` suffixes, ``OBJECT``/``GROUP`` nesting to dotted
  paths, terminated by ``END``.
- ``^IMAGE`` pointers in every reference-supported spelling: record
  number, ``n <BYTES>``, detached ``"FILE.IMG"``, and
  ``("FILE.IMG", n [<BYTES>])`` — record offsets scale by
  RECORD_BYTES (IMAGE.RECORD_BYTES first, then the top-level one,
  0 → 1); the ``OBJECT = FILE`` CRISM indirection and the
  ``UNCOMPRESSED_FILE`` prefix are honored.
- layout: LINES/LINE_SAMPLES/BANDS (or AXIS_NAME+CORE_ITEMS) with
  BAND_STORAGE_TYPE BAND_SEQUENTIAL / LINE_INTERLEAVED /
  PIXEL_INTERLEAVED and LINE_PREFIX_BYTES, using the reference's
  exact pixel/line/band stride formulas; reads past EOF zero-fill
  (every *_truncated fixture's checksum depends on this).
- dtype: SAMPLE_BITS 8/16/32/64 with SAMPLE_TYPE byte order (LSB_* /
  PC_* / VAX_* little, default MSB); default nodata 0 / -32768 /
  -3.4028226550889044521e+38, overridden by MISSING /
  MISSING_CONSTANT incl. the ``16#xxxxxxxx#`` hex-float spelling;
  SCALING_FACTOR/OFFSET as band scale/offset.
- georef (ParseSRS): MAP_SCALE with KM/CM/M unit election,
  LINE/SAMPLE_PROJECTION_OFFSET through the configurable
  shift(0.5)/mult(-1,+1) pipeline (the documented PDS3 defaults; the
  autotest goldens pin -0.5/-0.5 and the MAGELLAN 1.5/1.0/-1.0
  variants), MAP_PROJECTION_ROTATION rotation matrix, projection
  name + target + radii + centers as structured metadata.

Spark shape: one task per LABEL file (detached companions resolved
case-insensitively next to it); a task-per-row writer emits attached
fixed-length-record PDS3 files (the reference driver is read-only).
"""

from __future__ import annotations

import os
import re
import struct

import numpy as np

from ._raw import read_band, write_raw
from ._util import glob_paths, raster_row, scan_files, write_files

OUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
    "gt5 double, srid int, nodata double, scale double, offset double, "
    "proj string"
)

PDS_NULL1 = 0.0
PDS_NULL2 = -32768.0
PDS_NULL3 = -3.4028226550889044521e+38

_WORD_END = re.compile(r"[\s=,(){}]")


class _Cursor:
    def __init__(self, text: str):
        self.t = text
        self.i = 0

    def skip_white(self):
        t, n = self.t, len(self.t)
        while self.i < n:
            c = t[self.i]
            if c in " \t\r\n":
                self.i += 1
            elif t.startswith("/*", self.i):
                j = t.find("*/", self.i + 2)
                self.i = n if j < 0 else j + 2
            else:
                return

    def read_word(self) -> str:
        """One token: quoted strings whole (keeping quotes), otherwise
        up to whitespace/separator; trailing <UNIT> glued on."""
        self.skip_white()
        t, n = self.t, len(self.t)
        if self.i >= n:
            return ""
        c = t[self.i]
        if c in "\"'":
            j = t.find(c, self.i + 1)
            if j < 0:
                j = n - 1
            word = t[self.i:j + 1]
            self.i = j + 1
        else:
            j = self.i
            while j < n and not _WORD_END.match(t[j]):
                j += 1
            word = t[self.i:j]
            self.i = j
        # glue a following <UNIT>
        save = self.i
        self.skip_white()
        if self.i < n and t[self.i] == "<":
            j = t.find(">", self.i)
            if j >= 0:
                word += " " + t[self.i:j + 1]
                self.i = j + 1
            else:
                self.i = save
        else:
            self.i = save if t[save:self.i].strip() else self.i
        return word


def parse_label(text: str) -> dict[str, str]:
    """PVL label -> {dotted.path: raw value string} (first wins,
    matching the reference's use of the first FILE/IMAGE object)."""
    cur = _Cursor(text)
    out: dict[str, str] = {}
    path: list[str] = []
    while True:
        cur.skip_white()
        name = cur.read_word()
        if not name:
            break
        if name.upper() == "END":
            break
        if name.upper() in ("END_OBJECT", "END_GROUP"):
            cur.skip_white()
            if cur.i < len(cur.t) and cur.t[cur.i] == "=":
                cur.i += 1
                cur.read_word()
            if path:
                path.pop()
            continue
        cur.skip_white()
        if cur.i >= len(cur.t) or cur.t[cur.i] != "=":
            continue
        cur.i += 1
        cur.skip_white()
        if cur.i < len(cur.t) and cur.t[cur.i] in "({":
            # bracketed list, possibly nested/multi-line
            depth = 0
            j = cur.i
            t = cur.t
            while j < len(t):
                c = t[j]
                if c in "({":
                    depth += 1
                elif c in ")}":
                    depth -= 1
                    if depth == 0:
                        j += 1
                        break
                elif c in "\"'":
                    k = t.find(c, j + 1)
                    j = k if k > 0 else len(t) - 1
                j += 1
            value = re.sub(r"\s+", " ", t[cur.i:j])
            cur.i = j
            # glue a following <UNIT>
            save = cur.i
            cur.skip_white()
            if cur.i < len(t) and t[cur.i] == "<":
                k = t.find(">", cur.i)
                if k >= 0:
                    value += " " + t[cur.i:k + 1]
                    cur.i = k + 1
                else:
                    cur.i = save
            else:
                cur.i = save
        else:
            value = cur.read_word()
            if value[:1] in "\"'":
                value = re.sub(r"\s+", " ", value)
        uname = name.upper()
        if uname in ("OBJECT", "GROUP"):
            path.append(_clean(value))
            continue
        key = ".".join(path + [name])
        out.setdefault(key, value)
    return out


def _clean(s: str) -> str:
    """Reference CleanString: strip quotes, spaces -> underscores."""
    if len(s) >= 2 and s[0] in "\"'" and s[-1] == s[0]:
        s = s[1:-1]
    return s.replace(" ", "_")


def _kw(kv: dict, path: str, default: str = "") -> str:
    return kv.get(path, default)


def _kw_sub(kv: dict, path: str, idx: int, default: str = "") -> str:
    v = kv.get(path, "")
    if not v.startswith("("):
        return default
    inner = v.strip()[1:-1] if v.strip().endswith(")") else v.strip()[1:]
    parts = []
    depth = 0
    cur = ""
    for ch in inner:
        if ch in "({":
            depth += 1
        elif ch in ")}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    parts.append(cur)
    if 1 <= idx <= len(parts):
        return parts[idx - 1].strip()
    return default


def _kw_unit(kv: dict, path: str, idx: int, default: str = "") -> str:
    v = kv.get(path)
    if v is None:
        return default
    toks = [t for t in re.split(r"[</>]", v)]
    if 1 <= idx <= len(toks):
        return toks[idx - 1].strip()
    return default


def _atof(s: str) -> float:
    m = re.match(r"\s*[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?", s or "")
    return float(m.group(0)) if m else 0.0


def _dtype(kv: dict, prefix: str):
    st = _kw(kv, prefix + "IMAGE.SAMPLE_TYPE")
    st = _clean(st)
    little = st.upper() in (
        "LSB_INTEGER", "LSB", "LSB_UNSIGNED_INTEGER",
        "LSB_SIGNED_INTEGER", "UNSIGNED_INTEGER", "VAX_REAL",
        "VAX_INTEGER", "PC_INTEGER", "PC_REAL",
    )
    bo = "<" if little else ">"
    bits = int(_kw(kv, prefix + "IMAGE.SAMPLE_BITS", "8") or "8")
    if bits == 8:
        return np.dtype("u1"), PDS_NULL1
    if bits == 16:
        if "UNSIGNED" in st.upper():
            return np.dtype(bo + "u2"), PDS_NULL1
        return np.dtype(bo + "i2"), PDS_NULL2
    if bits == 32:
        return np.dtype(bo + "f4"), PDS_NULL3
    if bits == 64:
        return np.dtype(bo + "f8"), PDS_NULL3
    raise ValueError(f"PDS: SAMPLE_BITS {bits} not supported")


def _find_ci(dirname: str, name: str) -> str:
    cand = os.path.join(dirname, name)
    if os.path.exists(cand):
        return cand
    low = name.lower()
    for f in os.listdir(dirname or "."):
        if f.lower() == low:
            return os.path.join(dirname, f)
    return cand


def parse_pds(label_bytes: bytes, label_path: str = "",
              sample_offset_shift: float = 0.5,
              line_offset_shift: float = 0.5,
              sample_offset_mult: float = -1.0,
              line_offset_mult: float = 1.0,
              file_bytes: bytes | None = None):
    """-> (array float64 (h, w[, bands]), gt, nodata, scale, offset,
    proj metadata dict). ``file_bytes`` overrides detached-file
    loading (for in-memory use)."""
    text = label_bytes.decode("latin-1", "replace")
    kv = parse_label(text)

    prefix = ""
    if (not _kw(kv, "IMAGE.LINE_SAMPLES")
            and _kw(kv, "FILE.IMAGE.LINE_SAMPLES")):
        prefix = "FILE."
    if _kw(kv, "UNCOMPRESSED_FILE.IMAGE.LINE_SAMPLES"):
        prefix = "UNCOMPRESSED_FILE."

    enc = _clean(_kw(kv, prefix + "IMAGE.ENCODING_TYPE", "N/A"))
    if enc not in ("N/A", "DCT_DECOMPRESSED"):
        raise ValueError(
            f"PDS: compressed ENCODING_TYPE ({enc}) not supported"
        )

    # ^IMAGE pointer
    pointer = _kw(kv, prefix + "^IMAGE")
    if not pointer:
        raise ValueError("PDS: no ^IMAGE pointer")
    image_path = label_path
    n_rec = 0
    detached_offset = 0
    detached_in_bytes = False
    p = pointer.strip()
    if p.startswith("("):
        fname = _clean(_kw_sub(kv, prefix + "^IMAGE", 1))
        second = _kw_sub(kv, prefix + "^IMAGE", 2, "1")
        detached_offset = max(0, int(_atof(second)) - 1)
        detached_in_bytes = "<BYTES>" in second
        image_path = _find_ci(os.path.dirname(label_path), fname)
    elif p[:1] in "\"'":
        image_path = _find_ci(os.path.dirname(label_path), _clean(p))
    else:
        n_rec = int(_atof(p))

    record_bytes = int(_atof(_kw(kv, prefix + "IMAGE.RECORD_BYTES", "0")))
    if record_bytes == 0:
        record_bytes = int(_atof(_kw(kv, "RECORD_BYTES", "0")))
    if record_bytes < 0:
        raise ValueError("PDS: negative RECORD_BYTES")
    if record_bytes == 0:
        record_bytes = 1

    if n_rec > 0:
        if "<BYTES>" in pointer:
            skip = n_rec - 1
        else:
            skip = (n_rec - 1) * record_bytes
    elif detached_offset > 0:
        skip = (detached_offset if detached_in_bytes
                else detached_offset * record_bytes)
    else:
        skip = 0

    line_prefix = int(_atof(_kw(kv, prefix + "IMAGE.LINE_PREFIX_BYTES",
                                "0")))
    skip += line_prefix

    # layout
    layout = "BSQ"
    axis = _kw(kv, prefix + "IMAGE.AXIS_NAME")
    ik = prefix + "IMAGE"
    if axis.replace(" ", "") == "(SAMPLE,LINE,BAND)":
        cols = int(_atof(_kw_sub(kv, ik + ".CORE_ITEMS", 1)))
        rows = int(_atof(_kw_sub(kv, ik + ".CORE_ITEMS", 2)))
        bands = int(_atof(_kw_sub(kv, ik + ".CORE_ITEMS", 3)))
    elif axis.replace(" ", "") == "(BAND,LINE,SAMPLE)":
        layout = "BIP"
        bands = int(_atof(_kw_sub(kv, ik + ".CORE_ITEMS", 1)))
        rows = int(_atof(_kw_sub(kv, ik + ".CORE_ITEMS", 2)))
        cols = int(_atof(_kw_sub(kv, ik + ".CORE_ITEMS", 3)))
    elif axis.replace(" ", "") == "(SAMPLE,BAND,LINE)":
        layout = "BIL"
        cols = int(_atof(_kw_sub(kv, ik + ".CORE_ITEMS", 1)))
        bands = int(_atof(_kw_sub(kv, ik + ".CORE_ITEMS", 2)))
        rows = int(_atof(_kw_sub(kv, ik + ".CORE_ITEMS", 3)))
    else:
        cols = int(_atof(_kw(kv, ik + ".LINE_SAMPLES", "0")))
        rows = int(_atof(_kw(kv, ik + ".LINES", "0")))
        bands = int(_atof(_kw(kv, ik + ".BANDS", "1")) or 1)
    bst = _kw(kv, prefix + "IMAGE.BAND_STORAGE_TYPE")
    if bst == "BAND_SEQUENTIAL":
        layout = "BSQ"
    elif bst == "PIXEL_INTERLEAVED":
        layout = "BIP"
    elif bst == "LINE_INTERLEAVED":
        layout = "BIL"
    if cols <= 0 or rows <= 0 or bands <= 0:
        raise ValueError("PDS: missing image dimensions")

    dtype, nodata = _dtype(kv, prefix)
    item = dtype.itemsize
    scale = _atof(_kw(kv, prefix + "IMAGE.SCALING_FACTOR", "1.0"))
    offset = _atof(_kw(kv, prefix + "IMAGE.OFFSET", "0.0"))

    missing = (kv.get(prefix + "IMAGE.MISSING")
               or kv.get(prefix + "IMAGE.MISSING_CONSTANT"))
    if missing is not None:
        m = missing.lstrip("\"'")
        if (m[:3].upper() == "16#" and len(m) >= 12 and m[11] == "#"
                and dtype.kind == "f"):
            nodata = float(
                struct.unpack(">f", bytes.fromhex(m[3:11]))[0]
            )
        else:
            nodata = _atof(m)

    # strides (pdsdataset.cpp:1199-1229)
    line_off = line_prefix
    if layout == "BIP":
        pix_off = item * bands
        band_off = item
        line_off += pix_off * cols
    elif layout == "BSQ":
        pix_off = item
        line_off += pix_off * cols
        band_off = line_off * rows
    else:  # BIL
        pix_off = item
        band_off = item * cols
        line_off += band_off * bands

    if file_bytes is not None:
        data = file_bytes
    elif image_path == label_path and not os.path.exists(image_path):
        data = label_bytes  # attached in-memory label
    else:
        with open(image_path, "rb") as f:
            data = f.read()
    # truncated products read as zeros past EOF, like RawRasterBand
    arr = read_band(data, dtype, cols, rows, skip, pix_off, line_off,
                    bands, band_off).astype(np.float64)

    gt, proj = _parse_srs(kv, prefix, sample_offset_shift,
                          line_offset_shift, sample_offset_mult,
                          line_offset_mult)
    return arr, gt, nodata, scale, offset, proj


def _parse_srs(kv, prefix, s_shift, l_shift, s_mult, l_mult):
    """ParseSRS geotransform ladder (pdsdataset.cpp:290-727). NOTE:
    the reference computes the SRS prefix INDEPENDENTLY of the image
    prefix — LDEM_4.LBL keeps IMAGE under UNCOMPRESSED_FILE but its
    IMAGE_MAP_PROJECTION at the top level."""
    del prefix
    imp = "IMAGE_MAP_PROJECTION."
    if (not _kw(kv, "IMAGE_MAP_PROJECTION.MAP_PROJECTION_TYPE")
            and _kw(kv, "UNCOMPRESSED_FILE.IMAGE_MAP_PROJECTION"
                        ".MAP_PROJECTION_TYPE")):
        imp = "UNCOMPRESSED_FILE.IMAGE_MAP_PROJECTION."
    xdim = ydim = 1.0
    v = _kw(kv, imp + "MAP_SCALE")
    if v:
        xdim = _atof(v)
        ydim = -xdim
        unit = _kw_unit(kv, imp + "MAP_SCALE", 2).upper()
        if unit in ("M", "METER", "METERS"):
            pass
        elif unit == "CM":
            xdim /= 100.0
            ydim /= 100.0
        else:
            xdim *= 1000.0
            ydim *= 1000.0
    ulx = uly = 0.5
    v = _kw(kv, imp + "LINE_PROJECTION_OFFSET")
    if v:
        uly = (_atof(v) + l_shift) * -ydim * l_mult
    v = _kw(kv, imp + "SAMPLE_PROJECTION_OFFSET")
    if v:
        ulx = (_atof(v) + s_shift) * xdim * s_mult
    proj = {
        "projection": _clean(_kw(kv, imp + "MAP_PROJECTION_TYPE")),
        "target": _clean(_kw(kv, "TARGET_NAME")),
        "a_radius_m": _atof(_kw(kv, imp + "A_AXIS_RADIUS")) * 1000.0,
        "c_radius_m": _atof(_kw(kv, imp + "C_AXIS_RADIUS")) * 1000.0,
        "center_lat": _atof(_kw(kv, imp + "CENTER_LATITUDE")),
        "center_lon": _atof(_kw(kv, imp + "CENTER_LONGITUDE")),
        "first_std_parallel":
            _atof(_kw(kv, imp + "FIRST_STANDARD_PARALLEL")),
        "second_std_parallel":
            _atof(_kw(kv, imp + "SECOND_STANDARD_PARALLEL")),
        "positive_longitude_direction": _clean(
            _kw(kv, "IMAGE_MAP_PROJECTION.POSITIVE_LONGITUDE_DIRECTION",
                "EAST")
        ),
    }
    if ulx != 0.5 or uly != 0.5 or xdim != 1.0 or ydim != 1.0:
        gt = [ulx, xdim, 0.0, uly, 0.0, ydim]
        rot = _atof(_kw(kv, imp + "MAP_PROJECTION_ROTATION"))
        if rot != 0:
            sin_r = 1.0 if rot == 90 else np.sin(np.deg2rad(rot))
            cos_r = 0.0 if rot == 90 else np.cos(np.deg2rad(rot))
            g1 = cos_r * gt[1] - sin_r * gt[4]
            g2 = cos_r * gt[2] - sin_r * gt[5]
            g0 = cos_r * gt[0] - sin_r * gt[3]
            g4 = sin_r * gt[1] + cos_r * gt[4]
            g5 = sin_r * gt[2] + cos_r * gt[5]
            g3 = sin_r * gt[0] + cos_r * gt[3]
            gt = [g0, g1, g2, g3, g4, g5]
        return tuple(gt), proj
    return (0.0, 1.0, 0.0, 0.0, 0.0, 1.0), proj


_DTYPE_OUT = {
    "u1": ("MSB_UNSIGNED_INTEGER", 8),
    "i2": ("MSB_INTEGER", 16),
    "f4": ("IEEE_REAL", 32),
}


def format_pds(arr: np.ndarray, gt, nodata: float | None = None,
               target: str = "MARS", radius_m: float = 3396000.0,
               dtype: str = "f4") -> bytes:
    """Attached fixed-length-record PDS3 writer (the reference driver
    is read-only; this exists for the engine's own sinks). Writes a
    SIMPLE CYLINDRICAL label whose offsets invert the reference's
    default read pipeline (shift 0.5, mult -1/+1)."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a[:, :, 0]
    h, w = a.shape
    if gt[2] != 0 or gt[4] != 0 or gt[5] >= 0:
        raise ValueError("PDS writer requires a north-up grid")
    st, bits = _DTYPE_OUT[dtype]
    item = np.dtype(dtype).itemsize
    record_bytes = w * item
    body = write_raw(a, ">" + dtype)
    xdim = float(gt[1])
    ydim = float(gt[5])
    # invert: ulx = (soff + 0.5) * xdim * -1 ; uly = (loff+0.5)*-ydim
    soff = float(gt[0]) / (xdim * -1.0) - 0.5
    loff = float(gt[3]) / (-ydim) - 0.5
    def render(image_record: int) -> str:
        lines = [
            "PDS_VERSION_ID                 = PDS3",
            "RECORD_TYPE                    = FIXED_LENGTH",
            f"RECORD_BYTES                   = {record_bytes}",
            f"TARGET_NAME                    = {target}",
            f"^IMAGE                         = {image_record}",
            "OBJECT                         = IMAGE",
            f"  LINES                        = {h}",
            f"  LINE_SAMPLES                 = {w}",
            f"  SAMPLE_TYPE                  = {st}",
            f"  SAMPLE_BITS                  = {bits}",
        ]
        if nodata is not None:
            lines.append(
                f"  MISSING_CONSTANT             = {nodata!r}"
            )
        lines += [
            "END_OBJECT                     = IMAGE",
            "OBJECT                         = IMAGE_MAP_PROJECTION",
            '  MAP_PROJECTION_TYPE          = "SIMPLE CYLINDRICAL"',
            f"  A_AXIS_RADIUS                = {radius_m / 1000.0!r} <KM>",
            f"  C_AXIS_RADIUS                = {radius_m / 1000.0!r} <KM>",
            "  CENTER_LATITUDE              = 0.0",
            "  CENTER_LONGITUDE             = 0.0",
            f"  MAP_SCALE                    = {xdim!r} <M/PIXEL>",
            f"  LINE_PROJECTION_OFFSET       = {loff!r}",
            f"  SAMPLE_PROJECTION_OFFSET     = {soff!r}",
            "END_OBJECT                     = IMAGE_MAP_PROJECTION",
            "END",
        ]
        return "\r\n".join(lines) + "\r\n"

    # the image-record number feeds back into the label length; iterate
    # to the fixed point (converges immediately in practice)
    n_rec = 1
    for _ in range(4):
        label = render(n_rec + 1)
        new_n = (len(label) + record_bytes - 1) // record_bytes
        if new_n == n_rec:
            break
        n_rec = new_n
    label_bytes = label.encode("ascii")
    label_bytes += b" " * (n_rec * record_bytes - len(label_bytes))
    return label_bytes + body


def scan_pds(spark, path_glob: str,
             sample_offset_shift: float = 0.5,
             line_offset_shift: float = 0.5,
             sample_offset_mult: float = -1.0,
             line_offset_mult: float = 1.0):
    """Glob of PDS3 labels (.img attached or .lbl detached) ->
    images-table rows; one task per label, detached companions read by
    the task."""
    def read(r):
        with open(r.path, "rb") as f:
            label = f.read()
        arr, gt, nodata, scale, offset, proj = parse_pds(
            label, label_path=r.path,
            sample_offset_shift=sample_offset_shift,
            line_offset_shift=line_offset_shift,
            sample_offset_mult=sample_offset_mult,
            line_offset_mult=line_offset_mult,
        )
        return [raster_row(
            os.path.splitext(os.path.basename(r.path))[0], arr, gt, 0,
            nodata, scale=scale, offset=offset,
            proj=proj["projection"] + "|" + proj["target"])]

    return scan_files(spark, glob_paths(path_glob), read, OUT_SCHEMA)


def write_pds(df, out_dir: str, dtype: str = "f4",
              target: str = "MARS"):
    """One attached .img per row, task-written."""
    def dump_row(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.img")
        with open(path, "wb") as f:
            f.write(format_pds(np.squeeze(arr), gt, nodata=nd,
                               target=target, dtype=dtype))
        return path

    return write_files(df, out_dir, dump_row)
