"""ODS (OpenDocument spreadsheet) vector driver — the XLSX twin for
the LibreOffice/OpenOffice ecosystem.

Reference driver: ogr/ogrsf_frmts/ods/ogrodsdatasource.cpp
(implemented from the published OpenDocument v1.2 structure over
stdlib zipfile + ElementTree — no code taken). Observable semantics,
each pinned by a reference autotest fixture in tests/data/ods/:

- sheets are ``table:table`` elements inside ``content.xml`` (also
  accepted bare, un-zipped — the reference's ``ODS:content.xml`` form,
  fixture content_formulas.xml); EMPTY sheets are removed wherever
  they appear (test.ods presents 8 of 9 sheets).
- cell values come from the ``office:value`` / ``office:date-value`` /
  ``office:time-value`` attributes first, else from the concatenated
  ``text:p`` children joined with newlines
  (multiple_text_p_elements.ods: "First line\\nSecond line");
  ``of:=TRUE()``/``of:=FALSE()`` formulas become booleans, any other
  ``of:=`` formula cell falls back to the FORMULA TEXT as its value
  (content_formulas.xml golden: "of:=[.B1]").
- ``table:number-columns-repeated`` expands cells EXCEPT when the
  repeated cell closes the row with an empty value — trailing
  repeated empties are dropped entirely
  (testrepeatedcolatendofrow.ods); ``table:number-rows-repeated``
  replicates whole features, with the reference's 1048576-row
  XLSX-conversion stop and the 10000-repeat bound.
- type detection: float/currency → Integer/Integer64/Real by value,
  percentage → always Real, date → Date when the value is exactly
  ``YYYY-MM-DD`` else DateTime (ISO-8601 values), time → the
  ``PThhHmmMssS`` form plus the reference's kspread-2.1.2 workaround
  (``PThhhhmmMssS`` with the hour doubled), boolean → Integer.
- header detection and the type-promotion grid are shared with the
  XLSX driver (identical in the reference, ogrodsdatasource.cpp:684
  vs ogrxlsxdatasource.cpp:698), EXCEPT that ODS has no
  unknown-type deferral: a column empty on the first data row is
  String forever (test_kspread.ods: the datetime columns read as
  String because kspread writes them as text).

Spark shape: identical to the XLSX driver — schema probed from the
first file driver-side, one task per (file, sheet); the writer is a
single-document sink emitting mimetype + manifest + content.xml with
the reference writer's cell shapes.
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
from .xlsx import (
    DATE, DATETIME, INTEGER, INTEGER64, REAL, STRING, TIME,
    Sheet, _INT_RE, _SPARK_TYPES, _detect_header, _promote, _tag,
)

_PT_RE = re.compile(r"^PT(\d{2})H(\d{2})M(\d{2}(?:\.\d+)?)S")
# kspread 2.1.2 bug: PT{hh}{hh}{mm}M{ss}S with the hour repeated
_PT_KSPREAD_RE = re.compile(r"^PT(\d{2})(\d{2})(\d{2})M(\d{2})S")


def _attr(el, key: str, default=None):
    """Attribute fetch by LOCAL suffix ('office:value' matches both the
    prefixed raw form and ElementTree's {uri}value expansion)."""
    want = key.split(":", 1)[-1]
    for k, v in el.attrib.items():
        if _tag(k) == want:
            return v
    return default


def _value_type(value: str, cell_type: str, autodetect: bool) -> str:
    """GetOGRFieldType (ogrodsdatasource.cpp:587-630)."""
    if not autodetect or not cell_type:
        return STRING
    if cell_type == "string":
        return STRING
    if cell_type in ("float", "currency"):
        if _INT_RE.match(value):
            v = int(value)
            return INTEGER if -(2**31) <= v < 2**31 else INTEGER64
        return REAL
    if cell_type == "percentage":
        return REAL
    if cell_type == "date":
        return DATE if len(value) == 10 else DATETIME
    if cell_type == "time":
        return TIME
    if cell_type == "bool":
        return INTEGER
    return STRING


def _parse_table(table) -> list[tuple[list, list]]:
    """One table:table -> [(values, cell types)] with the reference's
    repeat expansion + trailing-empty-drop discipline."""
    rows: list[tuple[list, list]] = []
    n_cur_line = 0
    for row in table:
        if _tag(row.tag) != "table-row":
            continue
        rows_repeated = int(_attr(row, "number-rows-repeated", "1"))
        if n_cur_line + rows_repeated + 2 >= 1048576:
            break  # typical of a XLSX converted to ODS
        if not (0 < rows_repeated <= 10000):
            break
        values: list[str] = []
        types: list[str] = []
        pending = None  # (value, type, repeat) of the previous cell
        for c in row:
            ct = _tag(c.tag)
            if ct == "covered-table-cell":
                if pending is not None:
                    v, t, n = pending
                    values.extend([v] * n)
                    types.extend([t] * n)
                    pending = None
                values.append("")
                types.append("")
                continue
            if ct != "table-cell":
                continue
            if pending is not None:
                v, t, n = pending
                values.extend([v] * n)
                types.extend([t] * n)
            vtype = _attr(c, "value-type", "") or ""
            value = _attr(c, "value")
            if value is None:
                value = _attr(c, "date-value")
            if value is None:
                value = _attr(c, "time-value", "") or ""
            from_attr = value != ""
            formula = _attr(c, "formula")
            if formula and formula.startswith("of:="):
                if formula == "of:=TRUE()":
                    value, vtype, formula = "1", "bool", None
                elif formula == "of:=FALSE()":
                    value, vtype, formula = "0", "bool", None
                elif not vtype:
                    vtype = "formula"
            else:
                formula = None
            if not from_attr:
                parts = []
                for p in c:
                    if _tag(p.tag) == "p":
                        parts.append("".join(p.itertext()))
                if parts:
                    value = "\n".join(parts)
            if value == "" and formula:
                value = formula
            repeat = int(_attr(c, "number-columns-repeated", "1"))
            if not (0 <= repeat <= 10000):
                repeat = 0
            pending = (value, vtype, repeat)
        # the LAST cell's repeats are dropped when empty
        # (FillRepeatedCells(wasLastCell=True), cpp:930-936)
        if pending is not None and pending[0] != "":
            v, t, n = pending
            values.extend([v] * n)
            types.extend([t] * n)
        for _ in range(rows_repeated):
            rows.append((list(values), list(types)))
        n_cur_line += rows_repeated
    return rows


def parse_ods(data: bytes, headers: str = "AUTO",
              field_types: str = "AUTO") -> list[Sheet]:
    """Parse every sheet of an .ods blob (or a bare content.xml) with
    the reference's schema-evolution discipline."""
    autodetect = field_types.upper() != "STRING"
    if data[:4] == b"PK\x03\x04":
        zf = zipfile.ZipFile(io.BytesIO(data))
        content = zf.read("content.xml")
    else:
        content = data
    root = ET.fromstring(content)
    out = []
    for table in root.iter():
        if _tag(table.tag) != "table":
            continue
        name = _attr(table, "name", "") or ""
        sheet = Sheet(name)
        raw = _parse_table(table)
        if not raw or (len(raw) == 1 and not raw[0][0]):
            continue  # the reference REMOVES empty sheets (cpp:849-853)
        first_values, first_types = raw[0]
        if len(raw) == 1:
            sheet.has_headers = False
            cur_values, cur_types = [], []
        else:
            cur_values, cur_types = raw[1]
            sheet.has_headers = _detect_header(
                first_types, cur_types, headers
            )
        if sheet.has_headers:
            for i, fname in enumerate(first_values):
                fname = fname if fname else f"Field{i + 1}"
                if i < len(cur_values) and cur_values[i] != "":
                    ftype = _value_type(
                        cur_values[i], cur_types[i], autodetect
                    )
                else:
                    ftype = STRING  # no unknown-type deferral in ODS
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
                    sheet.types[i] = _promote(sheet.types[i], vt)
            sheet.rows.append((values, types))
        out.append(sheet)
    return out


def _parse_iso(value: str):
    try:
        return _dt.datetime.fromisoformat(value)
    except ValueError:
        return None


def materialize(sheet: Sheet) -> list[list]:
    """Typed Python rows per the final field types (the reference's
    ODS SetField: ISO dates, PT times, raw text otherwise)."""
    out = []
    nf = len(sheet.fields)
    for values, types in sheet.rows:
        rec: list = [None] * nf
        for i, v in enumerate(values[:nf]):
            if v == "":
                continue
            ftype = sheet.types[i]
            if ftype == DATE:
                dt = _parse_iso(v)
                rec[i] = dt.date() if dt else None
            elif ftype == DATETIME:
                dt = _parse_iso(v)
                rec[i] = dt
            elif ftype == TIME:
                m = _PT_RE.match(v)
                if m:
                    rec[i] = (f"{int(m.group(1)):02d}:"
                              f"{int(m.group(2)):02d}:"
                              f"{int(float(m.group(3))):02d}")
                else:
                    m = _PT_KSPREAD_RE.match(v)
                    if m and m.group(1) == m.group(2):
                        rec[i] = (f"{int(m.group(1)):02d}:"
                                  f"{int(m.group(3)):02d}:"
                                  f"{int(m.group(4)):02d}")
            elif ftype in (INTEGER, INTEGER64):
                try:
                    rec[i] = int(v)
                except ValueError:
                    try:
                        rec[i] = int(float(v))
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


def scan_ods(spark, path_glob: str, sheet: str | None = None,
             headers: str = "AUTO", field_types: str = "AUTO"):
    """Glob of .ods files -> one DataFrame over the named sheet (or the
    first); schema probed from the FIRST file driver-side, one task per
    (file, sheet) thereafter — the XLSX scan shape."""
    paths = glob_paths(path_glob)
    with open(paths[0], "rb") as f:
        sheets = parse_ods(f.read(), headers=headers,
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
                    for sh in parse_ods(f.read(), headers=headers,
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


_OFFICE_NS = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
_TABLE_NS = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
_TEXT_NS = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
_MANIFEST_NS = "urn:oasis:names:tc:opendocument:xmlns:manifest:1.0"
_MIME = "application/vnd.oasis.opendocument.spreadsheet"


def _content_xml(rows_iter, field_names, field_types,
                 sheet_name: str) -> str:
    body = io.StringIO()
    body.write('<?xml version="1.0" encoding="UTF-8"?>\n')
    body.write(
        f'<office:document-content xmlns:office="{_OFFICE_NS}" '
        f'xmlns:table="{_TABLE_NS}" xmlns:text="{_TEXT_NS}" '
        'office:version="1.2">\n<office:body>\n<office:spreadsheet>\n'
    )
    body.write(f"<table:table table:name={quoteattr(sheet_name)}>\n")
    body.write("<table:table-row>\n")
    for name in field_names:
        body.write('<table:table-cell office:value-type="string">'
                   f"<text:p>{escape(str(name))}</text:p>"
                   "</table:table-cell>\n")
    body.write("</table:table-row>\n")
    for rec in rows_iter:
        body.write("<table:table-row>\n")
        for v, t in zip(rec, field_types):
            if v is None or (isinstance(v, float) and v != v):
                body.write("<table:table-cell/>\n")
                continue
            if t in (INTEGER, INTEGER64):
                body.write(
                    '<table:table-cell office:value-type="float" '
                    f'office:value="{int(v)}">'
                    f"<text:p>{int(v)}</text:p></table:table-cell>\n"
                )
            elif t == REAL:
                body.write(
                    '<table:table-cell office:value-type="float" '
                    f'office:value="{float(v):.17g}">'
                    f"<text:p>{float(v):.17g}</text:p>"
                    "</table:table-cell>\n"
                )
            elif t == DATE:
                if isinstance(v, _dt.datetime):
                    v = v.date()
                iso = v.isoformat()
                body.write(
                    '<table:table-cell office:value-type="date" '
                    f'office:date-value="{iso}">'
                    f"<text:p>{iso}</text:p></table:table-cell>\n"
                )
            elif t == DATETIME:
                if isinstance(v, pd.Timestamp):
                    v = v.to_pydatetime()
                iso = v.strftime("%Y-%m-%dT%H:%M:%S")
                body.write(
                    '<table:table-cell office:value-type="date" '
                    f'office:date-value="{iso}">'
                    f"<text:p>{iso}</text:p></table:table-cell>\n"
                )
            elif t == TIME:
                hh, mm, ss = (int(x) for x in str(v).split(":"))
                body.write(
                    '<table:table-cell office:value-type="time" '
                    f'office:time-value="PT{hh:02d}H{mm:02d}M{ss:02d}S">'
                    f"<text:p>{hh:02d}:{mm:02d}:{ss:02d}</text:p>"
                    "</table:table-cell>\n"
                )
            else:
                body.write(
                    '<table:table-cell office:value-type="string">'
                    f"<text:p>{escape(str(v))}</text:p>"
                    "</table:table-cell>\n"
                )
        body.write("</table:table-row>\n")
    body.write("</table:table>\n</office:spreadsheet>\n</office:body>\n"
               "</office:document-content>\n")
    return body.getvalue()


def write_ods(df, out_path: str, sheet_name: str = "Sheet1"):
    """Single-document .ods sink (the XLSX sink shape): mimetype first
    and STORED uncompressed per the OpenDocument package rules, then
    manifest + content.xml."""
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

    content = _content_xml(rows(), names, ftypes, sheet_name)
    manifest = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        f'<manifest:manifest xmlns:manifest="{_MANIFEST_NS}">\n'
        f'<manifest:file-entry manifest:media-type="{_MIME}" '
        'manifest:full-path="/"/>\n'
        '<manifest:file-entry manifest:media-type="text/xml" '
        'manifest:full-path="content.xml"/>\n'
        "</manifest:manifest>\n"
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            zipfile.ZipInfo("mimetype"), _MIME,
            compress_type=zipfile.ZIP_STORED,
        )
        zf.writestr("META-INF/manifest.xml", manifest)
        zf.writestr("content.xml", content)
    return path
