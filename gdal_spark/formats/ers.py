"""ERMapper ERS raster driver (.ers ASCII header + raw companion).

Reference semantics: frmts/ers/{ersdataset.cpp,ershdrnode.cpp} (the
published ER Mapper customization guide):

- the header is a ``Node Begin``/``Node End`` tree of
  ``Key = value`` lines; values may be ``"quoted"`` (with ``\\"`` /
  ``\\\\`` escapes), ``{ multi-line arrays }``, or bare; ``#``
  starts a comment outside quotes; ALL lookups are
  case-insensitive (the caseinsensitive.ers autotest);
- the companion data file is ``DataFile`` or the header name minus
  its extension, resolved case-insensitively, read from
  ``HeaderOffset`` (default 0) as BAND-INTERLEAVED-BY-LINE: each
  line holds one row of every band in order (the reference's
  per-band RawRasterBand offsets);
- CellType Unsigned/Signed 8/16/32 BitInteger, IEEE4ByteReal,
  IEEE8ByteReal with ByteOrder MSBFirst (default) / LSBFirst;
  truncated data zero-fills;
- georef: RegistrationCoord Eastings/Northings (or Longitude/
  Latitude in ``d:m:s`` DMS, sign from the degrees field) anchors
  cell (RegistrationCellX, RegistrationCellY) (default 0,0 = top
  left CORNER): ``gt0 = coord_x - cellX*xdim``, ``gt3 = coord_y +
  cellY*ydim``, ``gt5 = -Ydimension``; NullCellValue is nodata;
  Projection/Datum/Units carried as structured metadata
  (GEODETIC|WGS84 etc.);
- per-region statistics (the srtm.ers Stats block) surface as a
  metadata string of MIN|MAX|MEAN|MEDIAN.

Spark shape: one task per header both ways; the sink is the usual
task-per-row writer emitting .ers + BIL companion pairs.
"""

from __future__ import annotations

import os
import re

import numpy as np

from ._raw import read_raw, write_raw
from ._util import glob_paths, raster_row, scan_files, write_files
from .pds import _find_ci

_CELLTYPES = {
    "UNSIGNED8BITINTEGER": "u1", "SIGNED8BITINTEGER": "i1",
    "UNSIGNED16BITINTEGER": "u2", "SIGNED16BITINTEGER": "i2",
    "UNSIGNED32BITINTEGER": "u4", "SIGNED32BITINTEGER": "i4",
    "IEEE4BYTEREAL": "f4", "IEEE8BYTEREAL": "f8",
}
_WTYPES = {v: k for k, v in [
    ("Unsigned8BitInteger", "u1"), ("Signed8BitInteger", "i1"),
    ("Unsigned16BitInteger", "u2"), ("Signed16BitInteger", "i2"),
    ("Unsigned32BitInteger", "u4"), ("Signed32BitInteger", "i4"),
    ("IEEE4ByteReal", "f4"), ("IEEE8ByteReal", "f8")]}


def _strip_comments(text: str) -> str:
    """Remove # comments (outside quoted strings)."""
    out = []
    in_q = False
    i = 0
    n = len(text)
    while i < n:
        c = text[i]
        if in_q:
            if c == "\\" and i + 1 < n:
                out.append(text[i:i + 2])
                i += 2
                continue
            if c == '"':
                in_q = False
            out.append(c)
        else:
            if c == '"':
                in_q = True
                out.append(c)
            elif c == "#":
                while i < n and text[i] != "\n":
                    i += 1
                continue
            else:
                out.append(c)
        i += 1
    return "".join(out)


def _unquote(v: str) -> str:
    v = v.strip()
    if v.startswith("{") and v.endswith("}"):
        v = v[1:-1].strip()
    if v.startswith('"') and v.endswith('"') and len(v) >= 2:
        v = v[1:-1]
    return v.replace('\\"', '"').replace("\\\\", "\\")


def parse_ers_header(text: str) -> dict[str, str]:
    """ERS header text -> {lowercase.dotted.path: value}."""
    text = _strip_comments(text)
    # join multi-line { ... } values
    lines = []
    buf = ""
    depth = 0
    for raw in text.split("\n"):
        buf = buf + ("\n" if buf else "") + raw
        depth = buf.count("{") - buf.count("}")
        if depth <= 0:
            lines.append(buf)
            buf = ""
    if buf:
        lines.append(buf)
    out: dict[str, str] = {}
    path: list[str] = []
    for line in lines:
        s = " ".join(line.split())
        if not s:
            continue
        low = s.lower()
        if low.endswith(" begin"):
            path.append(s[:-6].strip().lower())
            continue
        if low.endswith(" end"):
            if path:
                path.pop()
            continue
        if "=" not in s:
            continue
        key, val = s.split("=", 1)
        dotted = ".".join(path[1:] + [key.strip().lower()])
        out.setdefault(dotted, _unquote(val))
    return out


def _dms(v: str) -> float:
    parts = v.split(":")
    if len(parts) != 3:
        return float(v)
    d = float(parts[0])
    r = abs(d) + float(parts[1]) / 60.0 + float(parts[2]) / 3600.0
    return -r if d < 0 else r


def parse_ers(header_text: str, data: bytes):
    """Header text + companion bytes -> (arr north-up (h, w[, nb]),
    gt-or-None, nodata, proj string, stats string)."""
    kv = parse_ers_header(header_text)
    w = int(kv.get("rasterinfo.nrofcellsperline", "0"))
    h = int(kv.get("rasterinfo.nroflines", "0"))
    nb = int(kv.get("rasterinfo.nrofbands", "1"))
    if w <= 0 or h <= 0:
        raise ValueError("ERS: bad NrOfCellsPerLine/NrOfLines")
    ct = kv.get("rasterinfo.celltype", "Unsigned8BitInteger")
    code = _CELLTYPES.get(ct.replace(" ", "").upper())
    if code is None:
        raise ValueError(f"ERS: unknown CellType {ct!r}")
    endian = ">" if kv.get("byteorder", "MSBFirst").upper().startswith(
        "MSB") else "<"
    off = int(float(kv.get("headeroffset", "0") or "0"))
    arr = read_raw(data, endian + code, w, h, nb, "bil", off)

    xdim = float(kv.get("rasterinfo.cellinfo.xdimension", "1.0"))
    ydim = float(kv.get("rasterinfo.cellinfo.ydimension", "1.0"))
    gt = None
    east = kv.get("rasterinfo.registrationcoord.eastings")
    lon = kv.get("rasterinfo.registrationcoord.longitude")
    if east is not None:
        x0 = float(east)
        y0 = float(kv.get("rasterinfo.registrationcoord.northings", "0"))
        gt = [x0, xdim, 0.0, y0, 0.0, -ydim]
    elif lon is not None and "rasterinfo.cellinfo.xdimension" in kv:
        x0 = _dms(lon)
        y0 = _dms(kv.get("rasterinfo.registrationcoord.latitude", "0"))
        gt = [x0, xdim, 0.0, y0, 0.0, -ydim]
    if gt is not None:
        cx = float(kv.get("rasterinfo.registrationcellx", "0"))
        cy = float(kv.get("rasterinfo.registrationcelly", "0"))
        gt[0] -= cx * gt[1]
        gt[3] -= cy * gt[5]
        gt = tuple(gt)
    nodata = None
    if "rasterinfo.nullcellvalue" in kv:
        nodata = float(re.sub(r"[^0-9eE+.-]", "",
                              kv["rasterinfo.nullcellvalue"]))
    proj = "|".join([
        kv.get("coordinatespace.projection", ""),
        kv.get("coordinatespace.datum", ""),
        kv.get("coordinatespace.units", ""),
    ])
    stats = "|".join([
        kv.get("rasterinfo.regioninfo.stats.minimumvalue", "").strip(),
        kv.get("rasterinfo.regioninfo.stats.maximumvalue", "").strip(),
        kv.get("rasterinfo.regioninfo.stats.meanvalue", "").strip(),
        kv.get("rasterinfo.regioninfo.stats.medianvalue", "").strip(),
    ])
    return arr, gt, nodata, proj, stats


def format_ers(arr: np.ndarray, gt=None, nodata=None,
               projection: str = "RAW", datum: str = "RAW",
               units: str = "METERS"):
    """North-up (h, w[, nb]) array -> (header text, BIL LSBFirst
    companion bytes)."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    code = arr.dtype.str.lstrip("<>=|")
    if code not in _WTYPES:
        raise ValueError(f"ERS writer: unsupported dtype {arr.dtype}")
    lines = [
        "DatasetHeader Begin",
        '\tVersion\t\t= "6.0"',
        "\tDataSetType\t= ERStorage",
        "\tDataType\t= Raster",
        "\tByteOrder\t= LSBFirst",
        "\tCoordinateSpace Begin",
        '\t\tDatum\t\t= "%s"' % datum,
        '\t\tProjection\t= "%s"' % projection,
        "\t\tCoordinateType\t= EN",
        '\t\tUnits\t\t= "%s"' % units,
        "\t\tRotation\t= 0:0:0.0",
        "\tCoordinateSpace End",
        "\tRasterInfo Begin",
        "\t\tCellType\t= %s" % _WTYPES[code],
    ]
    if nodata is not None:
        lines.append("\t\tNullCellValue\t= %r" % float(nodata))
    if gt is not None and gt[1]:
        if gt[2] or gt[4] or gt[5] >= 0:
            raise ValueError("ERS writer: north-up grids only")
        lines += [
            "\t\tCellInfo Begin",
            "\t\t\tXdimension\t= %r" % float(gt[1]),
            "\t\t\tYdimension\t= %r" % float(-gt[5]),
            "\t\tCellInfo End",
        ]
    lines += [
        "\t\tNrOfLines\t= %d" % h,
        "\t\tNrOfCellsPerLine\t= %d" % w,
    ]
    if gt is not None and gt[1]:
        lines += [
            "\t\tRegistrationCoord Begin",
            "\t\t\tEastings\t= %r" % float(gt[0]),
            "\t\t\tNorthings\t= %r" % float(gt[3]),
            "\t\tRegistrationCoord End",
        ]
    lines += ["\t\tNrOfBands\t= %d" % nb]
    for i in range(nb):
        lines += ["\t\tBandId Begin",
                  '\t\t\tValue\t\t= "Band%d"' % (i + 1),
                  "\t\tBandId End"]
    lines += ["\tRasterInfo End", "DatasetHeader End", ""]
    return "\n".join(lines), write_raw(arr, "<" + code, "bil")


def scan_ers(spark, path_glob: str, srid: int = 0):
    """Glob of .ers headers -> images-table rows, one task per
    header (the raw companion is read by the task)."""
    schema = ("image_id string, bytes binary, w int, h int, "
              "fmt string, gt0 double, gt1 double, gt2 double, "
              "gt3 double, gt4 double, gt5 double, srid int, "
              "nodata double, proj string, stats string")

    def read(r):
        with open(r.path, "r", encoding="latin-1") as f:
            text = f.read()
        stem = os.path.basename(r.path)
        stem = stem[:stem.rfind(".")] if "." in stem else stem
        data_path = _find_ci(os.path.dirname(r.path), stem)
        with open(data_path, "rb") as f:
            data = f.read()
        arr, gt, nodata, proj, stats = parse_ers(text, data)
        if gt is None:
            gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
        return [raster_row(stem, arr, gt, int(srid), nodata, proj=proj,
                           stats=stats)]

    return scan_files(spark, glob_paths(path_glob), read, schema)


def write_ers(df, out_dir: str) -> list[str]:
    """Images-table rows -> one .ers + companion pair per row,
    written by the task that holds the row."""
    def dump_row(r, arr, gt, nd, out_dir):
        header, data = format_ers(arr, gt, nodata=nd)
        path = os.path.join(out_dir, f"{r.image_id}.ers")
        with open(path, "w", encoding="ascii") as f:
            f.write(header)
        with open(os.path.join(out_dir, r.image_id), "wb") as f:
            f.write(data)
        return path

    return write_files(df, out_dir, dump_row)
