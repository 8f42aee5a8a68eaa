"""ISO/IEC 8211 data descriptive file reader (from the published
ISO/IEC 8211:1994 standard; the reference's counterpart is
frmts/iso8211/ — DDFModule/DDFRecord/DDFFieldDefn).

ISO 8211 is the container format of IHO S-57 ENC cells (and USGS
SDTS): a Data Descriptive Record (DDR) declares, per field tag, the
subfield labels and format controls; every following Data Record (DR)
is a directory of (tag, length, position) entries over a field area
whose bytes are decoded against the DDR's formats.

Structure parsed here (all from the standard):

- 24-byte leader: record length [0:5], interchange level [5],
  leader identifier [6] ('L' DDR / 'D' data / 'R' reuse-directory),
  field control length [10:12] (DDR), base address of field area
  [12:17], entry map sizes — size-of-length [20], size-of-position
  [21], size-of-tag [23];
- directory: fixed-width (tag, length, position) triplets up to the
  field terminator 0x1E; field area follows at the base address;
- DDR field 0000 is the file control field (field tree) — recorded
  but unused; every other DDR field carries field controls, a field
  name, an array descriptor (subfield labels, ``!``-separated, a
  leading ``*`` marking the whole group as repeating) and format
  controls such as ``(b11,b14,2b11,3A,2A(8),R(4),b11,2A)``;
- format controls expand multipliers (``2b11`` -> ``b11,b11``) into
  primitive types: ``A``/``I``/``R``/``C``/``S`` ASCII (variable,
  0x1F/0x1E-terminated, or fixed ``A(n)``), ``B(n)`` an n-bit
  (n/8-byte) opaque bitfield, and the LE binary forms ``b11/b12/b14``
  (unsigned 1/2/4 bytes) and ``b21/b22/b24`` (signed).

The reader is pure-Python/stdlib and returns plain dicts; the S-57
driver (``formats.s57``) layers record semantics on top. Spark never
sees this module directly — drivers call it inside Arrow-batched
scan tasks, one task per cell file.
"""

from __future__ import annotations

import re
import struct
from typing import Iterator

FT = 0x1E  # field terminator
UT = 0x1F  # unit terminator

_FMT_TOKEN = re.compile(
    r"(\d*)"                 # repeat count
    r"([AIRCSbB])"           # type letter
    r"(?:([0-9]{2})|\((\d+)\))?"  # b-subtype digits or (width)
)


def parse_format_controls(spec: str):
    """``(b11,b14,2b11,3A,2A(8))`` -> list of (kind, width) where
    kind is 'A' (ASCII; width None = variable), 'B' (raw bitfield,
    width bytes), 'bu'/'bs' (unsigned/signed LE int, width bytes)."""
    spec = spec.strip()
    if spec.startswith("(") and spec.endswith(")"):
        spec = spec[1:-1]
    out = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        m = _FMT_TOKEN.fullmatch(part)
        if not m:
            raise ValueError(f"ISO8211: unsupported format control {part!r}")
        rep = int(m.group(1)) if m.group(1) else 1
        letter = m.group(2)
        if letter == "b":
            sub = m.group(3)
            if sub is None or len(sub) != 2:
                raise ValueError(f"ISO8211: bad binary form {part!r}")
            sign, width = sub[0], int(sub[1])
            kind = ("bs" if sign == "2" else "bu", width)
        elif letter == "B":
            bits = int(m.group(4) or 0)
            if bits % 8:
                raise ValueError(f"ISO8211: B({bits}) not byte-aligned")
            kind = ("B", bits // 8)
        else:  # A I R C S — ASCII-coded
            w = m.group(4)
            kind = ("A", int(w) if w else None)
        out.extend([kind] * rep)
    if not out:
        raise ValueError(f"ISO8211: empty format controls {spec!r}")
    return out


class FieldDefn:
    """One DDR data descriptive field: subfield labels + formats."""

    __slots__ = ("tag", "name", "labels", "formats", "repeating")

    def __init__(self, tag, name, labels, formats, repeating):
        self.tag = tag
        self.name = name
        self.labels = labels
        self.formats = formats
        self.repeating = repeating


def _parse_leader(buf: bytes, off: int):
    ldr = buf[off:off + 24]
    if len(ldr) < 24:
        raise ValueError("ISO8211: truncated leader")
    reclen = int(ldr[0:5].replace(b" ", b"0") or b"0")
    leader_id = chr(ldr[6])
    base = int(ldr[12:17])
    size_len = int(chr(ldr[20]))
    size_pos = int(chr(ldr[21]))
    size_tag = int(chr(ldr[23]))
    return reclen, leader_id, base, size_len, size_pos, size_tag


def _parse_directory(rec: bytes, base: int, sl: int, sp: int, st: int):
    entries = []
    p = 24
    entry_w = st + sl + sp
    while p + entry_w <= len(rec) and p < base - 1 and rec[p] != FT:
        tag = rec[p:p + st].decode("ascii")
        ln = int(rec[p + st:p + st + sl])
        pos = int(rec[p + st + sl:p + entry_w])
        entries.append((tag, ln, pos))
        p += entry_w
    return entries


def _decode_subfields(data: bytes, defn: FieldDefn, lexical=1):
    """Field data bytes -> list of dicts (one per repeat group)."""
    # strip the trailing field terminator
    if data.endswith(bytes([FT])):
        data = data[:-1]
    groups = []
    p = 0
    n = len(data)
    wide = lexical >= 2
    while p < n:
        row = {}
        for label, (kind, width) in zip(defn.labels, defn.formats):
            if p >= n:
                break
            if kind == "A":
                if width is not None:
                    raw = data[p:p + width]
                    p += width
                else:
                    if wide:
                        # lexical level 2: UCS-2LE text; the S-57
                        # terminators are the UCS-2-encoded pairs
                        # 0x1F 0x00 (UT) and 0x1E 0x00 (FT)
                        q = p
                        while q + 1 < n and not (
                                data[q] in (UT, FT) and data[q + 1] == 0):
                            q += 2
                        raw = data[p:q]
                        p = min(q + 2, n)
                    else:
                        q = data.find(bytes([UT]), p)
                        q = n if q < 0 else q
                        raw = data[p:q]
                        p = min(q + 1, n)
                if wide:
                    row[label] = raw.decode("utf-16-le",
                                            "replace").rstrip("\x00")
                else:
                    row[label] = raw.decode("latin-1")
            elif kind == "B":
                row[label] = bytes(data[p:p + width])
                p += width
            else:
                raw = data[p:p + width]
                p += width
                if len(raw) < width:
                    break
                v = int.from_bytes(raw, "little", signed=(kind == "bs"))
                row[label] = v
        if row:
            groups.append(row)
        if not defn.repeating:
            break
        if not row:
            break
    return groups


class Iso8211Reader:
    """Parse a whole ISO 8211 file held in memory.

    ``records`` iterates DR dicts: {tag: [group-dict, ...], ...} with
    repeated field tags concatenated in order (S-57 never repeats a
    tag within a record except via repeating groups, but the spec
    allows it)."""

    def __init__(self, buf: bytes, lexical_for=None):
        self.buf = buf
        self.defns: dict[str, FieldDefn] = {}
        self.field_tree: list[tuple[str, str]] = []
        #: tag -> lexical level resolver (callable or int); S-57 sets
        #: NATF to level 2 via the DSSI NALL subfield
        self.lexical_for = lexical_for or {}
        self._dr_start = self._parse_ddr()

    # -- DDR ---------------------------------------------------------
    def _parse_ddr(self) -> int:
        buf = self.buf
        reclen, leader_id, base, sl, sp, st = _parse_leader(buf, 0)
        if leader_id != "L":
            raise ValueError("ISO8211: first record is not a DDR")
        fcl = int(buf[10:12])
        rec = buf[:reclen]
        for tag, ln, pos in _parse_directory(rec, base, sl, sp, st):
            data = rec[base + pos:base + pos + ln]
            if set(tag) == {"0"}:
                # file control field: pairs of tags after the controls
                body = data[fcl:]
                if body.endswith(bytes([FT])):
                    body = body[:-1]
                ut = body.find(bytes([UT]))
                tagpairs = body[ut + 1:] if ut >= 0 else b""
                for i in range(0, len(tagpairs) - 2 * st + 1, 2 * st):
                    self.field_tree.append(
                        (tagpairs[i:i + st].decode("ascii"),
                         tagpairs[i + st:i + 2 * st].decode("ascii")))
                continue
            controls = data[:fcl].decode("latin-1")
            body = data[fcl:]
            if body.endswith(bytes([FT])):
                body = body[:-1]
            parts = body.split(bytes([UT]))
            name = parts[0].decode("latin-1") if parts else ""
            labels_raw = parts[1].decode("latin-1") if len(parts) > 1 else ""
            fmt_raw = parts[2].decode("latin-1") if len(parts) > 2 else ""
            repeating = labels_raw.startswith("*")
            labels = [s for s in labels_raw.lstrip("*").split("!") if s]
            if fmt_raw:
                formats = parse_format_controls(fmt_raw)
            elif controls and controls[0] == "0":
                # elementary field: single unnamed value
                formats = [("A", None)]
                labels = labels or [name or tag]
            else:
                formats = []
            if labels and len(formats) == 1 and len(labels) > 1:
                formats = formats * len(labels)
            if formats and not labels:
                labels = [tag]
            self.defns[tag] = FieldDefn(tag, name, labels, formats,
                                        repeating)
        return reclen

    # -- DRs ---------------------------------------------------------
    def records(self) -> Iterator[dict]:
        buf = self.buf
        off = self._dr_start
        prev_dir = None
        prev_geom = None
        while off + 24 <= len(buf):
            try:
                reclen, leader_id, base, sl, sp, st = _parse_leader(buf,
                                                                    off)
            except ValueError:
                break
            if reclen == 0:
                # ISO 8211 variant C.1.5.1: record length written as
                # zero — the directory still carries real lengths, so
                # the record extends to base + sum(field lengths)
                try:
                    entries = _parse_directory(
                        buf[off:off + base], base, sl, sp, st)
                except (ValueError, IndexError):
                    break
                reclen = base + sum(ln for _, ln, _ in entries)
                rec = buf[off:off + reclen]
                prev_dir, prev_geom = entries, (sl, sp, st, base)
            else:
                rec = buf[off:off + reclen]
                if len(rec) < reclen:
                    break
                if leader_id == "R" and prev_dir is not None:
                    entries, (sl, sp, st, base) = prev_dir, prev_geom
                else:
                    entries = _parse_directory(rec, base, sl, sp, st)
                    prev_dir, prev_geom = entries, (sl, sp, st, base)
            out: dict[str, list[dict]] = {}
            for tag, ln, pos in entries:
                defn = self.defns.get(tag)
                data = rec[base + pos:base + pos + ln]
                if defn is None or not defn.formats:
                    out.setdefault(tag, []).append({"_raw": bytes(data)})
                    continue
                lex = self.lexical_for.get(tag, 1)
                if callable(lex):
                    lex = lex()
                out.setdefault(tag, []).extend(
                    _decode_subfields(data, defn, lexical=lex))
            yield out
            off += reclen


def read_iso8211(buf: bytes, lexical_for=None):
    """Convenience: parse and return (reader, list-of-record-dicts)."""
    rdr = Iso8211Reader(buf, lexical_for=lexical_for)
    return rdr, list(rdr.records())
