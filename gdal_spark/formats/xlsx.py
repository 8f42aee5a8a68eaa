"""XLSX (Office Open XML spreadsheet) vector driver — the most common
tabular interchange container real users hold attribute data in.

Reference driver: ogr/ogrsf_frmts/xlsx/ogrxlsxdatasource.cpp
(implemented from the published OOXML SpreadsheetML structure over
stdlib zipfile + ElementTree — no code taken, no external XLSX lib).
The observable semantics reproduced here, each pinned by a reference
autotest fixture in tests/data/xlsx/:

- sheet enumeration through ``xl/workbook.xml`` ``<sheet r:id=...>`` in
  document order, resolved via ``xl/_rels/workbook.xml.rels`` worksheet
  relationships — including ABSOLUTE targets (``/xl/worksheets/...``,
  fixture absolute_sheet_filename.xlsx) and XML element prefixes
  stripped like the reference's GetUnprefixed (with_xml_prefix.xlsx).
- shared strings (``t="s"`` lookup), inline strings (``t="inlineStr"``,
  rich-text runs concatenated — cells_with_inline_formatting.xlsx),
  booleans (``t="b"``), and bare numbers.
- date/time/datetime detection through ``xl/styles.xml``: builtin
  numFmtIds 14-17 date / 18-21 time / 22 datetime, and custom formats
  (id >= 164) classified by DD/YY vs HH in the formatCode, with
  SS.000 flagging millisecond datetimes — exactly the reference's
  startElementStylesCbk ladder. Serial values convert with the
  25569-day 1900→1970 offset and the reference's 1e-3 round-to-second
  snap (datetime.xlsx golden: "2020/04/07 09:58:00" ... "10:42:00").
- header detection (DetectHeaderLine): the first row is a header iff
  every first-row cell is a string, the second row has at least one
  non-empty cell, not every second-row cell is text, and the first row
  is at least as wide; ``headers="FORCE"/"DISABLE"`` override like the
  OGR_XLSX_HEADERS config option (test.xlsx: Feuille7 has 3 data rows
  under DISABLE, 2 under AUTO).
- field typing from the SECOND row (first data row), with empty cells
  deferring to the first non-empty value in that column
  (test_missing_row1_data.xlsx), and the reference's promotion grid on
  later rows: Int→Int64→Real, Date/Time+DateTime→DateTime, anything
  else conflicting → String; ``field_types="STRING"`` disables
  autodetection. Missing trailing columns appear as Field%d
  (not_all_columns_present.xlsx: 30 columns from a row with cells at
  A, AB, AC, AD).
- cells carry their column via the ``r`` attribute (gaps padded with
  empty cells); rows without ``r`` still parse
  (row_without_r_attribute.xlsx).

Spark shape: one .xlsx is one zip container, so the unit of
parallelism is the (file, sheet) pair — ``scan_xlsx`` probes the
schema from the first file driver-side (spreadsheets are small by
construction; the format caps at 2^20 rows) then fans out one task per
pair. ``write_xlsx`` is a single-document sink streamed partition by
partition through the driver, emitting the reference writer's exact
part set ([Content_Types].xml, _rels/.rels, workbook + rels, styles
with numFmts 164-169, sharedStrings, one worksheet per call).
"""

from __future__ import annotations

import datetime as _dt
import io
import os
import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape, quoteattr

import pandas as pd

from ._util import glob_paths, local_path

_SECS_PER_DAY = 86400
_DAYS_1900_1970 = 25569  # reference NUMBER_OF_DAYS_BETWEEN_1900_AND_1970

# field-type lattice (OGR names kept so tests read like the autotest)
STRING, INTEGER, INTEGER64, REAL, DATE, TIME, DATETIME = (
    "string", "integer", "integer64", "real", "date", "time", "datetime",
)

_INT_RE = re.compile(r"^[+-]?\d+$")
_REAL_RE = re.compile(
    r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"
)


def _tag(el_tag: str) -> str:
    """Strip any namespace / prefix — the reference's GetUnprefixed."""
    if "}" in el_tag:
        el_tag = el_tag.split("}", 1)[1]
    if ":" in el_tag:
        el_tag = el_tag.split(":", 1)[1]
    return el_tag


def _attr(el, key: str, default=None):
    for k, v in el.attrib.items():
        if _tag(k) == key:
            return v
    return default


def _col_index(cell_ref: str) -> int | None:
    """'AB12' -> 27 (0-based column). None when no letters present."""
    n = 0
    seen = False
    for ch in cell_ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - 64)
            seen = True
        else:
            break
    return n - 1 if seen else None


def _col_letters(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, r = divmod(idx - 1, 26)
        out = chr(65 + r) + out
    return out


def _value_type(value: str, cell_type: str, autodetect: bool) -> str:
    """The reference's GetOGRFieldType: map (value, cell type) to a
    field type (ogrxlsxdatasource.cpp:586-631 semantics)."""
    if not autodetect or not cell_type:
        return STRING
    if cell_type == "string":
        return STRING
    if cell_type == "float":
        if _INT_RE.match(value):
            v = int(value)
            return INTEGER if -(2**31) <= v < 2**31 else INTEGER64
        if _REAL_RE.match(value):
            return REAL
        return STRING
    if cell_type in ("datetime", "datetime_ms"):
        return DATETIME
    if cell_type == "date":
        return DATE
    if cell_type == "time":
        return TIME
    if cell_type == "bool":
        return INTEGER
    return STRING


def _promote(field_type: str, val_type: str) -> str:
    """Reference's field-type update grid (datasource.cpp:1122-1183)."""
    if field_type == DATETIME and val_type in (DATE, TIME):
        return field_type
    if field_type == REAL and val_type in (INTEGER, INTEGER64):
        return field_type
    if field_type == INTEGER64 and val_type == INTEGER:
        return field_type
    if field_type != STRING and val_type != field_type:
        if field_type in (DATE, TIME) and val_type == DATETIME:
            return DATETIME
        if field_type in (INTEGER, INTEGER64) and val_type == REAL:
            return REAL
        if field_type == INTEGER and val_type == INTEGER64:
            return INTEGER64
        return STRING
    return field_type


def _serial_to_dt(value: str) -> _dt.datetime | None:
    """Excel serial days -> datetime, with the reference's 1e-3
    round-to-second snap and the 365*10000-day sanity bound."""
    try:
        days = float(value)
    except ValueError:
        return None
    if not abs(days) < 365.0 * 10000:
        return None
    secs = days * _SECS_PER_DAY
    if abs(secs - round(secs)) < 1e-3:
        secs = round(secs)
    unix = secs - _DAYS_1900_1970 * _SECS_PER_DAY
    frac = secs - int(secs)
    base = _dt.datetime(1970, 1, 1) + _dt.timedelta(seconds=int(unix))
    return base + _dt.timedelta(seconds=frac)


def _styles_from_xml(data: bytes) -> list[str]:
    """xl/styles.xml -> per-cellXfs-index cell type ('', 'date', 'time',
    'datetime', 'datetime_ms')."""
    root = ET.fromstring(data)
    num_fmts: dict[int, str] = {}
    styles: list[str] = []
    in_xfs = False

    def walk(el):
        nonlocal in_xfs
        t = _tag(el.tag)
        if t == "numFmt":
            code = _attr(el, "formatCode", "") or ""
            fmt_id = int(_attr(el, "numFmtId", "-1"))
            if code and fmt_id >= 164:
                has_date = any(s in code for s in ("DD", "dd", "YY", "yy"))
                has_time = "HH" in code or "hh" in code
                if has_date and has_time:
                    num_fmts[fmt_id] = (
                        "datetime_ms"
                        if "SS.000" in code or "ss.000" in code
                        else "datetime"
                    )
                elif has_date:
                    num_fmts[fmt_id] = "date"
                elif has_time:
                    num_fmts[fmt_id] = "time"
                else:
                    num_fmts[fmt_id] = ""
        elif t == "cellXfs":
            in_xfs = True
            for sub in el:
                if _tag(sub.tag) == "xf":
                    fmt_id = int(_attr(sub, "numFmtId", "-1"))
                    typ = ""
                    if fmt_id >= 0:
                        if fmt_id < 164:
                            if 14 <= fmt_id <= 17:
                                typ = "date"
                            elif 18 <= fmt_id <= 21:
                                typ = "time"
                            elif fmt_id == 22:
                                typ = "datetime"
                        else:
                            typ = num_fmts.get(fmt_id, "")
                    styles.append(typ)
            in_xfs = False
            return
        for sub in el:
            walk(sub)

    walk(root)
    return styles


def _shared_strings(data: bytes) -> list[str]:
    root = ET.fromstring(data)
    out = []
    for si in root:
        if _tag(si.tag) != "si":
            continue
        parts = []
        for el in si.iter():
            if _tag(el.tag) == "t" and el.text:
                parts.append(el.text)
        out.append("".join(parts))
    return out


def _sheet_targets(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """workbook.xml + rels -> [(sheet name, member path)] in document
    order, resolving absolute ('/xl/...') and relative targets."""
    rels: dict[str, str] = {}
    root = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    for rel in root:
        rid = _attr(rel, "Id")
        rtype = _attr(rel, "Type", "") or ""
        target = _attr(rel, "Target")
        if rid and target and "/worksheet" in rtype:
            rels[rid] = target
    sheets = []
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    for el in wb.iter():
        if _tag(el.tag) != "sheet":
            continue
        name = _attr(el, "name", "")
        rid = _attr(el, "id")
        target = rels.get(rid)
        if not target:
            continue
        if target.startswith("/"):
            member = target.lstrip("/")
        else:
            member = "xl/" + target
        sheets.append((name, member))
    return sheets


def _parse_rows(data: bytes, styles: list[str], shared: list[str]):
    """Worksheet XML -> list of (values, cell types) per row, cells
    padded by the r= column reference."""
    root = ET.fromstring(data)
    rows = []
    for row in root.iter():
        if _tag(row.tag) != "row":
            continue
        # a row's r attribute may skip lines; the reference emits an
        # EMPTY feature per skipped line (startElementTable:848-858 —
        # test.xlsx Feuille1 has 17 <row> elements but 26 features)
        r_attr = _attr(row, "r")
        if r_attr is not None:
            line = int(r_attr) - 1
            if line > len(rows) and line - len(rows) <= 10000:
                while len(rows) < line:
                    rows.append(([], []))
        values: list[str] = []
        types: list[str] = []
        for c in row:
            if _tag(c.tag) != "c":
                continue
            ref = _attr(c, "r", "")
            idx = _col_index(ref) if ref else None
            if idx is not None and idx > len(values):
                if idx > 2000:
                    idx = 2000
                while len(values) < idx:
                    values.append("")
                    types.append("")
            ctype = "float"
            s = _attr(c, "s")
            if s is not None:
                si = int(s)
                if 0 <= si < len(styles) and styles[si]:
                    ctype = styles[si]
            t = _attr(c, "t", "")
            value = ""
            if t == "s":
                for sub in c:
                    if _tag(sub.tag) == "v" and sub.text is not None:
                        i = int(sub.text)
                        value = shared[i] if 0 <= i < len(shared) else ""
                ctype = "string"
            elif t == "inlineStr":
                parts = []
                for el in c.iter():
                    if _tag(el.tag) == "t" and el.text:
                        parts.append(el.text)
                value = "".join(parts)
                ctype = "string"
            else:
                if t == "b":
                    ctype = "bool"
                for sub in c:
                    if _tag(sub.tag) == "v" and sub.text is not None:
                        value = sub.text
            values.append(value)
            types.append(ctype)
        rows.append((values, types))
    return rows


def _detect_header(first_types, cur_types, headers: str) -> bool:
    """DetectHeaderLine (datasource.cpp:698-744)."""
    if headers.upper() == "FORCE":
        return True
    if headers.upper() == "DISABLE":
        return False
    candidate = all(t == "string" for t in first_types)
    n_text = sum(1 for t in cur_types if t == "string")
    n_nonempty = sum(1 for t in cur_types if t not in ("", "string"))
    return (
        candidate
        and len(first_types) > 0
        and len(first_types) >= len(cur_types)
        and n_text != len(first_types)
        and n_nonempty != 0
    )


class Sheet:
    def __init__(self, name: str):
        self.name = name
        self.fields: list[str] = []       # names
        self.types: list[str] = []        # field types
        self.unknown: set[int] = set()    # header-typed-from-empty cells
        self.rows: list[tuple[list, list]] = []  # (values, cell types)
        self.has_headers = False


def parse_xlsx(data: bytes, headers: str = "AUTO",
               field_types: str = "AUTO") -> list[Sheet]:
    """Parse every sheet of an .xlsx byte blob with the reference's
    schema-evolution discipline. Values stay raw strings paired with
    their cell types; materialize() converts to Python objects."""
    autodetect = field_types.upper() != "STRING"
    zf = zipfile.ZipFile(io.BytesIO(data))
    names = set(zf.namelist())
    shared = (
        _shared_strings(zf.read("xl/sharedStrings.xml"))
        if "xl/sharedStrings.xml" in names
        else []
    )
    styles = (
        _styles_from_xml(zf.read("xl/styles.xml"))
        if "xl/styles.xml" in names
        else []
    )
    out = []
    for sheet_name, member in _sheet_targets(zf):
        sheet = Sheet(sheet_name)
        raw = _parse_rows(zf.read(member), styles, shared)
        if raw:
            first_values, first_types = raw[0]
            if len(raw) == 1:
                # single-line sheet: the reference always emits it as
                # one Field%d-named feature (endElementTable fallback),
                # even under HEADERS=FORCE
                cur_values, cur_types = [], []
                sheet.has_headers = False
            else:
                cur_values, cur_types = raw[1]
                sheet.has_headers = _detect_header(
                    first_types, cur_types, headers
                )
            if sheet.has_headers:
                for i, name in enumerate(first_values):
                    fname = name if name else f"Field{i + 1}"
                    if i < len(cur_values) and cur_values[i] != "":
                        ftype = _value_type(
                            cur_values[i], cur_types[i], autodetect
                        )
                    else:
                        ftype = STRING
                        sheet.unknown.add(i)
                    sheet.fields.append(fname)
                    sheet.types.append(ftype)
                data_rows = raw[1:]
            else:
                for i, v in enumerate(first_values):
                    sheet.fields.append(f"Field{i + 1}")
                    sheet.types.append(
                        _value_type(v, first_types[i], autodetect)
                    )
                data_rows = raw
            for values, types in data_rows:
                # grow schema for extra columns
                for i in range(len(sheet.fields), len(values)):
                    sheet.fields.append(f"Field{i + 1}")
                    sheet.types.append(
                        _value_type(values[i], types[i], autodetect)
                    )
                if autodetect:
                    for i, v in enumerate(values):
                        if v == "":
                            continue
                        vt = _value_type(v, types[i], autodetect)
                        if i in sheet.unknown:
                            sheet.unknown.discard(i)
                            sheet.types[i] = vt
                        else:
                            sheet.types[i] = _promote(sheet.types[i], vt)
                sheet.rows.append((values, types))
        out.append(sheet)
    # the reference prunes EMPTY TRAILING sheets, "which tend to be
    # there" (Open(), datasource.cpp:371-385) — test.xlsx lists 9
    # sheets but presents 8 layers
    while len(out) > 1 and not out[-1].rows and not out[-1].fields:
        out.pop()
    return out


def materialize(sheet: Sheet) -> list[list]:
    """Convert a parsed sheet's raw rows to typed Python values per the
    final field types (the reference's SetField semantics)."""
    out = []
    nf = len(sheet.fields)
    for values, types in sheet.rows:
        rec: list = [None] * nf
        for i, v in enumerate(values[:nf]):
            if v == "":
                continue
            ftype = sheet.types[i]
            ctype = types[i]
            if ctype in ("date", "time", "datetime", "datetime_ms"):
                dt = _serial_to_dt(v)
                if dt is None:
                    continue
                if ftype == DATE:
                    rec[i] = dt.date()
                elif ftype == TIME:
                    rec[i] = dt.strftime("%H:%M:%S")
                elif ftype == DATETIME:
                    rec[i] = dt
                elif ctype == "time":
                    rec[i] = dt.strftime("%H:%M:%S")
                elif ctype == "date":
                    rec[i] = dt.strftime("%Y/%m/%d")
                else:
                    rec[i] = dt.strftime("%Y/%m/%d %H:%M:%S")
            elif ftype in (INTEGER, INTEGER64):
                try:
                    rec[i] = int(float(v)) if "." in v or "e" in v.lower() \
                        else int(v)
                except ValueError:
                    rec[i] = None
            elif ftype == REAL:
                try:
                    rec[i] = float(v)
                except ValueError:
                    rec[i] = None
            else:
                rec[i] = v
        out.append(rec)
    return out


_SPARK_TYPES = {
    STRING: "string",
    INTEGER: "int",
    INTEGER64: "bigint",
    REAL: "double",
    DATE: "date",
    TIME: "string",
    DATETIME: "timestamp",
}


def scan_xlsx(spark, path_glob: str, sheet: str | None = None,
              headers: str = "AUTO", field_types: str = "AUTO"):
    """Glob of .xlsx files -> one DataFrame over the named sheet (or
    the first sheet); schema probed from the FIRST file driver-side,
    one task per (file, sheet) thereafter."""
    paths = glob_paths(path_glob)
    with open(paths[0], "rb") as f:
        sheets = parse_xlsx(f.read(), headers=headers,
                            field_types=field_types)
    probe = None
    for s in sheets:
        if sheet is None or s.name == sheet:
            probe = s
            break
    if probe is None:
        raise ValueError(f"sheet {sheet!r} not found in {paths[0]}")
    names = list(probe.fields)
    schema = ", ".join(
        f"`{n}` {_SPARK_TYPES[t]}" for n, t in zip(names, probe.types)
    )
    want = probe.name if sheet is None else sheet
    ftypes = list(probe.types)

    tdf = spark.createDataFrame(
        spark.sparkContext.parallelize(paths, len(paths)), "string"
    ).toDF("path")

    def parse(batches):
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                with open(p, "rb") as f:
                    for sh in parse_xlsx(f.read(), headers=headers,
                                         field_types=field_types):
                        if sh.name == want:
                            for rec in materialize(sh):
                                rec = rec[:len(names)]
                                rec += [None] * (len(names) - len(rec))
                                rows.append(rec)
            pdf_out = pd.DataFrame(rows, columns=names)
            for n, t in zip(names, ftypes):
                if t == DATETIME:
                    pdf_out[n] = pd.to_datetime(pdf_out[n])
                elif t in (INTEGER, INTEGER64):
                    pdf_out[n] = pdf_out[n].astype("Int64")
                elif t == REAL:
                    pdf_out[n] = pdf_out[n].astype("float64")
            yield pdf_out

    return tdf.mapInPandas(parse, schema=schema)


_XML_HEADER = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
_MAIN_NS = ('xmlns='
            '"http://schemas.openxmlformats.org/spreadsheetml/2006/main"')
_SCHEMA_OD = "http://schemas.openxmlformats.org/officeDocument/2006"
_SCHEMA_PKG = "http://schemas.openxmlformats.org/package/2006"


def _write_parts(rows_iter, field_names, field_types, sheet_name):
    """Build the zip member dict for one workbook (reference writer
    part set, datasource.cpp:2030-2520)."""
    shared: dict[str, int] = {}
    strings: list[str] = []

    def sstr(s: str) -> int:
        if s in shared:
            return shared[s]
        shared[s] = len(strings)
        strings.append(s)
        return shared[s]

    body = io.StringIO()
    body.write(_XML_HEADER)
    body.write(f'<worksheet {_MAIN_NS} '
               f'xmlns:r="{_SCHEMA_OD}/relationships">\n')
    body.write("<cols>\n")
    for j, t in enumerate(field_types):
        w = 29 if t == DATETIME else 15
        body.write(f'<col min="{j + 1}" max="1024" width="{w}"/>\n')
    body.write("</cols>\n<sheetData>\n")
    irow = 1
    body.write(f'<row r="{irow}">\n')
    for j, name in enumerate(field_names):
        body.write(f'<c r="{_col_letters(j)}{irow}" t="s">'
                   f"<v>{sstr(name)}</v></c>\n")
    body.write("</row>\n")
    irow += 1
    n_rows = 0
    for rec in rows_iter:
        body.write(f'<row r="{irow}">\n')
        for j, (v, t) in enumerate(zip(rec, field_types)):
            if v is None or (isinstance(v, float) and v != v):
                continue
            ref = f'r="{_col_letters(j)}{irow}"'
            if t in (INTEGER, INTEGER64):
                body.write(f"<c {ref}><v>{int(v)}</v></c>\n")
            elif t == REAL:
                body.write(f"<c {ref}><v>{float(v):.17g}</v></c>\n")
            elif t == DATE:
                if isinstance(v, str):
                    v = _dt.date.fromisoformat(v)
                if isinstance(v, _dt.datetime):
                    v = v.date()
                serial = (v - _dt.date(1970, 1, 1)).days + _DAYS_1900_1970
                body.write(f'<c {ref} s="1"><v>{serial}</v></c>\n')
            elif t == DATETIME:
                if isinstance(v, str):
                    v = _dt.datetime.fromisoformat(v)
                if isinstance(v, pd.Timestamp):
                    v = v.to_pydatetime()
                unix = (v - _dt.datetime(1970, 1, 1)).total_seconds()
                serial = unix / _SECS_PER_DAY + _DAYS_1900_1970
                style = "4" if v.microsecond else "2"
                body.write(
                    f'<c {ref} s="{style}"><v>{serial:.17g}</v></c>\n'
                )
            elif t == TIME:
                hh, mm, ss = (int(x) for x in str(v).split(":"))
                serial = (hh * 3600 + mm * 60 + ss) / _SECS_PER_DAY
                body.write(f'<c {ref} s="3"><v>{serial:.17g}</v></c>\n')
            else:
                body.write(f'<c {ref} t="s"><v>{sstr(str(v))}</v></c>\n')
        body.write("</row>\n")
        irow += 1
        n_rows += 1

    body.write("</sheetData>\n</worksheet>\n")

    ct = io.StringIO()
    ct.write(_XML_HEADER)
    ct.write(f'<Types xmlns="{_SCHEMA_PKG}/content-types">\n')
    for part, typ in (
        ("/_rels/.rels",
         "application/vnd.openxmlformats-package.relationships+xml"),
        ("/xl/_rels/workbook.xml.rels",
         "application/vnd.openxmlformats-package.relationships+xml"),
        ("/xl/worksheets/sheet1.xml",
         "application/vnd.openxmlformats-officedocument"
         ".spreadsheetml.worksheet+xml"),
        ("/xl/styles.xml",
         "application/vnd.openxmlformats-officedocument"
         ".spreadsheetml.styles+xml"),
        ("/xl/workbook.xml",
         "application/vnd.openxmlformats-officedocument"
         ".spreadsheetml.sheet.main+xml"),
        ("/xl/sharedStrings.xml",
         "application/vnd.openxmlformats-officedocument"
         ".spreadsheetml.sharedStrings+xml"),
    ):
        ct.write(f'<Override PartName="{part}" ContentType="{typ}"/>\n')
    ct.write("</Types>\n")

    rels = (
        _XML_HEADER
        + f'<Relationships xmlns="{_SCHEMA_PKG}/relationships">\n'
        + f'<Relationship Id="rId1" Type="{_SCHEMA_OD}/relationships'
          '/officeDocument" Target="xl/workbook.xml"/>\n'
        + "</Relationships>\n"
    )
    wb_rels = (
        _XML_HEADER
        + f'<Relationships xmlns="{_SCHEMA_PKG}/relationships">\n'
        + f'<Relationship Id="rId1" Type="{_SCHEMA_OD}/relationships'
          '/worksheet" Target="worksheets/sheet1.xml"/>\n'
        + f'<Relationship Id="rId2" Type="{_SCHEMA_OD}/relationships'
          '/styles" Target="styles.xml"/>\n'
        + f'<Relationship Id="rId3" Type="{_SCHEMA_OD}/relationships'
          '/sharedStrings" Target="sharedStrings.xml"/>\n'
        + "</Relationships>\n"
    )
    wb = (
        _XML_HEADER
        + f'<workbook {_MAIN_NS} xmlns:r="{_SCHEMA_OD}/relationships">\n'
        + "<sheets>\n"
        + f'<sheet name={quoteattr(sheet_name)} sheetId="1" '
          'state="visible" r:id="rId1"/>\n'
        + "</sheets>\n</workbook>\n"
    )
    # reference WriteStyles numFmts: 164 GENERAL, 165 date, 166
    # datetime, 167 time, 168 datetime_ms, 169 bool; cellXfs in that
    # order so s="1" = date, s="2" = datetime, s="3" = time, s="4" = ms
    styles = (
        _XML_HEADER
        + f"<styleSheet {_MAIN_NS}>\n"
        + '<numFmts count="6">\n'
        + '<numFmt formatCode="GENERAL" numFmtId="164"/>\n'
        + '<numFmt formatCode="DD/MM/YY" numFmtId="165"/>\n'
        + '<numFmt formatCode="DD/MM/YYYY\\ HH:MM:SS" numFmtId="166"/>\n'
        + '<numFmt formatCode="HH:MM:SS" numFmtId="167"/>\n'
        + '<numFmt formatCode="DD/MM/YYYY\\ HH:MM:SS.000" numFmtId="168"/>\n'
        + '<numFmt formatCode="&quot;TRUE&quot;;&quot;TRUE&quot;;'
          '&quot;FALSE&quot;" numFmtId="169"/>\n'
        + "</numFmts>\n"
        + '<fonts count="1"><font><name val="Arial"/><family val="2"/>'
          '<sz val="10"/></font></fonts>\n'
        + '<fills count="1"><fill><patternFill patternType="none"/>'
          "</fill></fills>\n"
        + '<borders count="1"><border diagonalDown="false" '
          'diagonalUp="false"><left/><right/><top/><bottom/><diagonal/>'
          "</border></borders>\n"
        + '<cellStyleXfs count="1"><xf numFmtId="164"/></cellStyleXfs>\n'
        + '<cellXfs count="6">\n'
        + '<xf numFmtId="164" xfId="0"/>\n'
        + '<xf numFmtId="165" xfId="0"/>\n'
        + '<xf numFmtId="166" xfId="0"/>\n'
        + '<xf numFmtId="167" xfId="0"/>\n'
        + '<xf numFmtId="168" xfId="0"/>\n'
        + '<xf numFmtId="169" xfId="0"/>\n'
        + "</cellXfs>\n"
        + '<cellStyles count="1"><cellStyle builtinId="0" '
          'customBuiltin="false" name="Normal" xfId="0"/></cellStyles>\n'
        + "</styleSheet>\n"
    )
    sst = io.StringIO()
    sst.write(_XML_HEADER)
    sst.write(f'<sst {_MAIN_NS} count="{len(strings)}" '
              f'uniqueCount="{len(strings)}">\n')
    for s in strings:
        sst.write(f"<si><t>{escape(s)}</t></si>\n")
    sst.write("</sst>\n")

    return {
        "[Content_Types].xml": ct.getvalue(),
        "_rels/.rels": rels,
        "xl/workbook.xml": wb,
        "xl/_rels/workbook.xml.rels": wb_rels,
        "xl/styles.xml": styles,
        "xl/sharedStrings.xml": sst.getvalue(),
        "xl/worksheets/sheet1.xml": body.getvalue(),
    }


def write_xlsx(df, out_path: str, sheet_name: str = "Sheet1"):
    """Single-document .xlsx sink: one workbook is one deliverable, so
    rows stream through the driver partition by partition (the
    KML/GPX/MIF sink shape). Field types map from the Spark schema."""
    from pyspark.sql import types as T

    path = local_path(out_path)
    names = df.schema.fieldNames()
    ftypes = []
    for f in df.schema.fields:
        dt = f.dataType
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
            ftypes.append(INTEGER)
        elif isinstance(dt, T.LongType):
            ftypes.append(INTEGER64)
        elif isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
            ftypes.append(REAL)
        elif isinstance(dt, T.DateType):
            ftypes.append(DATE)
        elif isinstance(dt, T.TimestampType):
            ftypes.append(DATETIME)
        else:
            ftypes.append(STRING)

    def rows():
        for row in df.toLocalIterator():
            yield [row[n] for n in names]

    parts = _write_parts(rows(), names, ftypes, sheet_name)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for member, text in parts.items():
            zf.writestr(member, text)
    return path
