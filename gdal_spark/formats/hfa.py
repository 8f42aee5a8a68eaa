"""HFA (ERDAS Imagine .img) driver — the classic remote-sensing raster
container.

Reference driver: frmts/hfa (hfadictionary.cpp / hfafield.cpp /
hfaband.cpp — semantics only; this is a from-scratch implementation of
the published ERDAS HFA structure: the MIF data dictionary, the
Ehfa_Entry tree, and the "ESRI GRID compression" RLE block codec).

Structure (all little-endian):

- magic ``EHFA_HEADER_TAG\\0`` + u32 pointer to the Ehfa_File header
  (version, freeList, rootEntryPtr, entryHeaderLength, dictionaryPtr);
- a TEXT data dictionary at dictionaryPtr: ``{items}TypeName,`` defs,
  item syntax ``count:[pointer]typechar[enum/object]fieldname,`` with
  the published item sizes (1/2/4/c/C = 1 byte; e/s/S = 2; t/l/L/f =
  4; d/m = 8), ``p``/``*`` pointer fields serialized inline as
  (count u32, offset u32, payload), ``b`` BASEDATA as (rows, cols,
  EPT type i16, +2 pad, cells), ``o`` embedded objects — this module
  interprets the dictionary rather than hardcoding offsets, exactly
  because the format's field layout is dictionary-defined;
- a tree of fixed-layout Ehfa_Entry nodes (next/prev/parent/child/
  data/dataSize, name[64], type[32]): bands are ``Eimg_Layer`` nodes
  (width/height/layerType/pixelType/blockWidth/blockHeight) whose
  ``RasterDMS`` child (``Edms_State``) carries the virtual-block
  table {offset, size, logvalid, compressionType}; georef from the
  ``Map_Info`` (``Eprj_MapInfo``) node's CENTER-anchored
  upperLeftCenter/pixelSize; band statistics from ``Statistics``
  (``Esta_Statistics``); nodata from ``Eimg_NonInitializedValue``;
- pixel types u1/u2/u4/u8/s8/u16/s16/u32/s32/f32/f64 (complex
  rejected); blocks either uncompressed or "ESRI GRID compression"
  (hfaband.cpp UncompressBlock semantics): 13-byte header
  (dataMin u32, numRuns i32, dataOffset i32, numBits u8), numRuns=-1
  meaning a reduced-precision stream, else 2-bit-prefixed varint run
  counts at byte 13 and bit-packed (1/2/4 LSB-first; 8; 16/32
  big-endian) values at dataOffset, every value offset by dataMin
  (f32 cells are the 32-bit pattern reinterpreted AFTER the offset);
- spill files (ExternalRasterDMS / .ige) rejected with a clear error.

Conformance is pinned against reference autotest DATA files (see
tests/data/README.md): int.img (checksum 6691, statistics
min/max/mean/stddev quoted by test_hfa_int_stats_*), float.img
(checksum 23529, pixel (100,100) = 41.021659851074219).

Spark shape: like GeoTIFF — the driver parses only the entry tree +
block tables (header bytes), then one task per file decodes its own
blocks (:func:`scan_hfa`); :func:`write_hfa` is the task-per-row sink
writing uncompressed single-layer .img files with the canonical
dictionary subset, which the reader (and the reference) opens.
"""

from __future__ import annotations

import os
import re
import struct

import numpy as np

from ._util import glob_paths, raster_row, scan_files, write_files

# EPT pixel-type order (the dictionary's e13 enum order)
_EPT = ["u1", "u2", "u4", "u8", "s8", "u16", "s16", "u32", "s32",
        "f32", "f64", "c64", "c128"]
_EPT_BITS = [1, 2, 4, 8, 8, 16, 16, 32, 32, 32, 64, 64, 128]
_EPT_NP = {"u8": "u1", "s8": "i1", "u16": "<u2", "s16": "<i2",
           "u32": "<u4", "s32": "<i4", "f32": "<f4", "f64": "<f8"}

_ITEM_SIZE = {"1": 1, "2": 1, "4": 1, "c": 1, "C": 1,
              "e": 2, "s": 2, "S": 2,
              "t": 4, "l": 4, "L": 4, "f": 4,
              "d": 8, "m": 8, "M": 16}
_ITEM_FMT = {"c": "B", "C": "b", "e": "H", "s": "H", "S": "h",
             "t": "I", "l": "I", "L": "I", "f": "f", "d": "d",
             "1": "B", "2": "B", "4": "B"}


# ---------------------------------------------------------------------------
# dictionary
# ---------------------------------------------------------------------------


def parse_dictionary(text: str) -> dict:
    """MIF dictionary text -> {type name: [field dicts]} with each
    field {count, pointer, item, enum (names) | obj (type name) |
    inline (fields)}."""
    types: dict[str, list] = {}
    i = 0
    n = len(text)

    def parse_fields(j):
        fields = []
        assert text[j] == "{"
        j += 1
        while text[j] != "}":
            m = re.match(r"(\d+):", text[j:])
            if not m:
                raise ValueError(f"bad dictionary item at {j}")
            count = int(m.group(1))
            j += m.end()
            pointer = None
            if text[j] in "p*":
                pointer = text[j]
                j += 1
            item = text[j]
            j += 1
            f = {"count": count, "pointer": pointer, "item": item}
            if item == "e":
                m = re.match(r"(\d+):", text[j:])
                nen = int(m.group(1))
                j += m.end()
                names = []
                for _ in range(nen):
                    k = text.index(",", j)
                    names.append(text[j:k])
                    j = k + 1
                f["enum"] = names
            elif item == "o":
                k = text.index(",", j)
                f["obj"] = text[j:k]
                j = k + 1
            elif item == "x":
                sub, j = parse_fields(j)
                f["inline"] = sub
                if text[j] == ",":
                    j += 1
            k = text.index(",", j)
            f["name"] = text[j:k]
            j = k + 1
            fields.append(f)
        return fields, j + 1

    while i < n and text[i] == "{":
        fields, i = parse_fields(i)
        k = text.index(",", i)
        types[text[i:k]] = fields
        i = k + 1
    return types


def _read_field(buf: bytes, off: int, f: dict, types: dict):
    """-> (value, new offset). Pointer fields read their inline
    payload; enums resolve to their names."""
    count = f["count"]
    if f["pointer"]:
        count, _ptr = struct.unpack_from("<II", buf, off)
        off += 8
    item = f["item"]
    if item == "b":  # BASEDATA
        if count == 0:
            return None, off
        rows, cols, bt = struct.unpack_from("<iih", buf, off)
        off += 12
        bits = _EPT_BITS[bt]
        nbytes = (bits + 7) // 8 * rows * cols
        code = _EPT[bt]
        if code in _EPT_NP:
            vals = np.frombuffer(buf, dtype=_EPT_NP[code],
                                 count=rows * cols, offset=off)
        else:
            vals = buf[off:off + nbytes]
        return vals, off + nbytes
    if item in ("o", "x"):
        sub = f.get("inline") or types[f["obj"]]
        out = []
        for _ in range(count):
            v, off = _read_object_fields(buf, off, sub, types)
            out.append(v)
        return (out[0] if f["count"] == 1 and not f["pointer"] and
                len(out) == 1 else out), off
    size = _ITEM_SIZE[item]
    if item in ("c", "C") and count > 1:
        raw = buf[off:off + count]
        off += count
        return raw.split(b"\x00")[0].decode("latin-1"), off
    fmt = _ITEM_FMT[item]
    vals = list(struct.unpack_from(f"<{count}{fmt}", buf, off))
    off += count * size
    if item == "e":
        names = f["enum"]
        vals = [names[v] if v < len(names) else v for v in vals]
    return (vals[0] if count == 1 else vals), off


def _read_object_fields(buf: bytes, off: int, fields: list,
                        types: dict):
    out = {}
    for f in fields:
        v, off = _read_field(buf, off, f, types)
        out[f["name"]] = v
    return out, off


def read_object(buf: bytes, off: int, type_name: str,
                types: dict) -> dict:
    return _read_object_fields(buf, off, types[type_name], types)[0]


# ---------------------------------------------------------------------------
# file / tree
# ---------------------------------------------------------------------------


def hfa_open(buf: bytes) -> dict:
    if buf[:15] != b"EHFA_HEADER_TAG":
        raise ValueError("not an HFA file (no EHFA_HEADER_TAG)")
    (hpos,) = struct.unpack_from("<I", buf, 16)
    version, _free, root, ehl, dpos = struct.unpack_from(
        "<IIIhI", buf, hpos)
    dict_text = buf[dpos:].split(b"}.", 1)
    # the dictionary ends with '.', type defs end with ','; find the
    # terminating '.' that follows the last '},Name,'
    text = buf[dpos:].decode("latin-1", "replace")
    end = text.find(",.")
    text = text[:end + 1] if end >= 0 else text
    types = parse_dictionary(text)
    _ = dict_text
    return {"root": root, "ehl": ehl, "types": types,
            "version": version}


def _read_entry(buf: bytes, off: int) -> dict:
    nxt, prev, parent, child, data, dsize = struct.unpack_from(
        "<6I", buf, off)
    name = buf[off + 24:off + 88].split(b"\x00")[0].decode("latin-1")
    typ = buf[off + 88:off + 120].split(b"\x00")[0].decode("latin-1")
    return {"next": nxt, "child": child, "data": data,
            "dataSize": dsize, "name": name, "type": typ}


def walk_entries(buf: bytes, off: int) -> list[dict]:
    """One sibling chain (with nested children under 'children')."""
    out = []
    seen = set()
    while off and off not in seen:
        seen.add(off)
        e = _read_entry(buf, off)
        e["children"] = walk_entries(buf, e["child"]) if e["child"] \
            else []
        out.append(e)
        off = e["next"]
    return out


def _find(nodes: list, type_name: str) -> list[dict]:
    hits = []
    for e in nodes:
        if e["type"] == type_name:
            hits.append(e)
        hits += _find(e["children"], type_name)
    return hits


# ---------------------------------------------------------------------------
# block codec
# ---------------------------------------------------------------------------


def _bit_reader(data: bytes, nbits: int, count: int) -> np.ndarray:
    """``count`` values of ``nbits`` each: 1/2/4 packed LSB-first
    within each byte, 8 = bytes, 16/32 BIG-endian (hfaband.cpp)."""
    if nbits == 0:
        return np.zeros(count, dtype=np.int64)
    if nbits in (1, 2, 4):
        per = 8 // nbits
        need = (count + per - 1) // per
        b = np.frombuffer(data[:need], dtype=np.uint8)
        shifts = [(i % per) * nbits for i in range(per)]
        mask = (1 << nbits) - 1
        out = np.empty(need * per, dtype=np.int64)
        for k, sh in enumerate(shifts):
            out[k::per] = (b >> sh) & mask
        return out[:count]
    if nbits == 8:
        return np.frombuffer(data[:count], dtype=np.uint8) \
            .astype(np.int64)
    if nbits == 16:
        return np.frombuffer(data[:2 * count], dtype=">u2") \
            .astype(np.int64)
    if nbits == 32:
        return np.frombuffer(data[:4 * count], dtype=">u4") \
            .astype(np.int64)
    raise ValueError(f"HFA nNumBits {nbits} unsupported")


def uncompress_block(cdata: bytes, n_pixels: int, ept: str) -> np.ndarray:
    """ESRI GRID compression -> flat array of the EPT numpy dtype."""
    data_min, num_runs, data_off = struct.unpack_from("<Iii", cdata, 0)
    nbits = cdata[12]
    if ept not in _EPT_NP:
        raise ValueError(f"compressed {ept} unsupported")
    if num_runs == -1:
        raw = _bit_reader(cdata[13:], nbits, n_pixels)
    else:
        # run counts: 2-bit length prefix, big-endian remainder
        counts = np.empty(num_runs, dtype=np.int64)
        i = 13
        for r in range(num_runs):
            b0 = cdata[i]
            nb = (b0 >> 6) + 1
            v = b0 & 0x3F
            for k in range(1, nb):
                v = v * 256 + cdata[i + k]
            counts[r] = v
            i += nb
        vals = _bit_reader(cdata[data_off:], nbits, num_runs)
        raw = np.repeat(vals, counts)[:n_pixels]
    cells = (raw + int(data_min)) & 0xFFFFFFFF
    if ept == "f32":
        return cells.astype(np.uint32).view(np.float32).copy()
    if ept == "f64":
        raise ValueError("compressed f64 unsupported")
    return cells.astype(np.int64).astype(np.dtype(_EPT_NP[ept]))


def _unpack_subbyte(flat: np.ndarray, bits: int,
                    n_pixels: int) -> np.ndarray:
    per = 8 // bits
    mask = (1 << bits) - 1
    out = np.empty(len(flat) * per, dtype=np.uint8)
    for k in range(per):
        out[k::per] = (flat >> (k * bits)) & mask
    return out[:n_pixels]


# ---------------------------------------------------------------------------
# read
# ---------------------------------------------------------------------------


def parse_hfa(buf: bytes):
    """-> (array (h, w) or (h, w, bands), geotransform, srid,
    nodata, stats dict of band 0 or None)."""
    hdr = hfa_open(buf)
    types = hdr["types"]
    tree = walk_entries(buf, hdr["root"])
    layers = _find(tree, "Eimg_Layer")
    if not layers:
        raise ValueError("HFA with no Eimg_Layer band")

    gt = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    srid = 0
    for mi in _find(tree, "Eprj_MapInfo"):
        m = read_object(buf, mi["data"], "Eprj_MapInfo", types)
        ul = m["upperLeftCenter"][0]
        ps = m["pixelSize"][0]
        gt = (ul["x"] - ps["width"] / 2, ps["width"], 0.0,
              ul["y"] + ps["height"] / 2, 0.0, -ps["height"])
        break
    for pp in _find(tree, "Eprj_ProParameters"):
        p = read_object(buf, pp["data"], "Eprj_ProParameters", types)
        if p.get("proNumber") == 1 and p.get("proZone"):
            sph = p["proSpheroid"][0] if p.get("proSpheroid") else {}
            a = float(sph.get("a", 0))
            zone = int(p["proZone"])
            if abs(a - 6378206.4) < 0.1:
                srid = 26700 + zone
            elif abs(a - 6378137.0) < 0.1:
                srid = 32600 + zone
        break

    bands = []
    nodata = None
    stats = None
    for li, layer in enumerate(layers):
        lay = read_object(buf, layer["data"], "Eimg_Layer", types)
        w, h = int(lay["width"]), int(lay["height"])
        bw, bh = int(lay["blockWidth"]), int(lay["blockHeight"])
        ept = lay["pixelType"]
        if ept.startswith("c"):
            raise ValueError(f"complex pixel type {ept} unsupported")
        if _find(layer["children"], "ImgExternalRaster"):
            raise ValueError("HFA spill files (.ige) unsupported")
        dms_nodes = [c for c in layer["children"]
                     if c["type"] == "Edms_State"]
        if not dms_nodes:
            raise ValueError(f"layer {layer['name']}: no RasterDMS")
        dms = read_object(buf, dms_nodes[0]["data"], "Edms_State",
                          types)
        blocks = dms["blockinfo"]
        across = (w + bw - 1) // bw
        down = (h + bh - 1) // bh
        bits = _EPT_BITS[_EPT.index(ept)]
        npdt = np.dtype(_EPT_NP.get(ept, "u1"))
        out = np.zeros((down * bh, across * bw), dtype=npdt)
        npx = bw * bh
        for bi, blk in enumerate(blocks[:across * down]):
            by, bx = divmod(bi, across)
            if blk["logvalid"] == "false":
                continue
            o, sz = int(blk["offset"]), int(blk["size"])
            if blk["compressionType"] != "no compression":
                cells = uncompress_block(buf[o:o + sz], npx, ept)
            else:
                if bits < 8:
                    flat = np.frombuffer(
                        buf, np.uint8, count=(npx * bits + 7) // 8,
                        offset=o)
                    cells = _unpack_subbyte(flat, bits, npx)
                else:
                    cells = np.frombuffer(
                        buf, dtype=_EPT_NP[ept], count=npx, offset=o
                    ).astype(npdt)
            out[by * bh:(by + 1) * bh, bx * bw:(bx + 1) * bw] = \
                cells.reshape(bh, bw)
        bands.append(out[:h, :w])

        if li == 0:
            for nv in _find(layer["children"],
                            "Eimg_NonInitializedValue"):
                v = read_object(buf, nv["data"],
                                "Eimg_NonInitializedValue", types)
                bd = v.get("valueBD")
                if bd is not None and len(bd):
                    nodata = float(np.asarray(bd).ravel()[0])
                break
            for st in _find(layer["children"], "Esta_Statistics"):
                stats = read_object(buf, st["data"], "Esta_Statistics",
                                    types)
                break

    arr = bands[0] if len(bands) == 1 else np.stack(bands, axis=-1)
    return arr, gt, srid, nodata, stats


# ---------------------------------------------------------------------------
# distributed scan
# ---------------------------------------------------------------------------


def scan_hfa(spark, path_glob: str):
    """Glob of .img files -> images-table rows, one task per file
    (the GeoTIFF scan shape; HFA block tables live inside the file,
    so the file is the unit)."""
    from .. import codecs
    from .envi import OUT_SCHEMA

    def read(r):
        with open(r.path, "rb") as f:
            arr, gt, srid, nodata, _st = parse_hfa(f.read())
        if np.dtype(arr.dtype) not in codecs._DTYPE_CODES:
            arr = arr.astype(np.float64)
        stem = os.path.splitext(os.path.basename(r.path))[0]
        return [raster_row(stem, arr, gt, int(srid), nodata)]

    return scan_files(spark, glob_paths(path_glob), read, OUT_SCHEMA)


# ---------------------------------------------------------------------------
# write (uncompressed single-layer subset)
# ---------------------------------------------------------------------------

_W_DICT = (
    "{1:lversion,1:LfreeList,1:LrootEntryPtr,1:sentryHeaderLength,"
    "1:LdictionaryPtr,}Ehfa_File,"
    "{1:Lnext,1:Lprev,1:Lparent,1:Lchild,1:Ldata,1:ldataSize,"
    "64:cname,32:ctype,1:tmodTime,}Ehfa_Entry,"
    "{1:lwidth,1:lheight,1:e3:thematic,athematic,fft of real-valued "
    "data,layerType,1:e13:u1,u2,u4,u8,s8,u16,s16,u32,s32,f32,f64,c64,"
    "c128,pixelType,1:lblockWidth,1:lblockHeight,}Eimg_Layer,"
    "{1:sfileCode,1:Loffset,1:lsize,1:e2:false,true,logvalid,"
    "1:e2:no compression,ESRI GRID compression,compressionType,}"
    "Edms_VirtualBlockInfo,"
    "{1:lnumvirtualblocks,1:lnumobjectsperblock,1:lnextobjectnum,"
    "1:e2:no compression,RLC compression,compressionType,"
    "0:poEdms_VirtualBlockInfo,blockinfo,0:poEdms_FreeIDList,freelist,"
    "1:tmodTime,}Edms_State,"
    "{1:lmin,1:lmax,}Edms_FreeIDList,"
    "{1:dx,1:dy,}Eprj_Coordinate,"
    "{1:dwidth,1:dheight,}Eprj_Size,"
    "{0:pcproName,1:*oEprj_Coordinate,upperLeftCenter,"
    "1:*oEprj_Coordinate,lowerRightCenter,1:*oEprj_Size,pixelSize,"
    "0:pcunits,}Eprj_MapInfo,"
    ".")


def _entry_bytes(next_=0, parent=0, child=0, data=0, dsize=0,
                 name="", typ="") -> bytes:
    return (struct.pack("<6I", next_, 0, parent, child, data, dsize)
            + name.encode("latin-1").ljust(64, b"\x00")
            + typ.encode("latin-1").ljust(32, b"\x00")
            + struct.pack("<I", 0)
            + b"\x00" * 4)  # pad to entryHeaderLength (128)


def format_hfa(arr: np.ndarray, gt, srid: int = 0) -> bytes:
    """2-D array (+georef) -> single-layer uncompressed .img bytes the
    reference driver (and :func:`parse_hfa`) opens. Block size 64x64."""
    a = np.asarray(arr)
    if a.ndim != 2:
        raise ValueError("format_hfa writes single-band 2-D arrays")
    ept_by_dtype = {"u1": "u8", "i1": "s8", "u2": "u16", "i2": "s16",
                    "u4": "u32", "i4": "s32", "f4": "f32", "f8": "f64"}
    key = a.dtype.str.lstrip("<>|=")
    if key not in ept_by_dtype:
        raise ValueError(f"dtype {a.dtype} unsupported")
    ept = ept_by_dtype[key]
    h, w = a.shape
    bw = bh = 64
    across = (w + bw - 1) // bw
    down = (h + bh - 1) // bh
    a_le = a.astype(a.dtype.newbyteorder("<"))

    out = bytearray()
    out += b"EHFA_HEADER_TAG\x00" + struct.pack("<I", 20)
    hdr_pos = len(out)  # == 20
    out += b"\x00" * 18  # Ehfa_File, patched at the end

    # entry tree: root -> Layer_1 (child: RasterDMS) -> Map_Info
    root_pos = len(out)
    out += _entry_bytes()  # placeholder (patched)
    layer_pos = len(out)
    out += _entry_bytes()
    dms_pos = len(out)
    out += _entry_bytes()
    map_pos = len(out)
    out += _entry_bytes()

    # Eimg_Layer data
    layer_data = len(out)
    out += struct.pack("<IIHHII", w, h, 1, _EPT.index(ept), bw, bh)
    layer_dsize = len(out) - layer_data

    # pixel blocks
    block_infos = []
    npx = bw * bh
    for by in range(down):
        for bx in range(across):
            t = np.zeros((bh, bw), dtype=a_le.dtype)
            sub = a_le[by * bh:(by + 1) * bh, bx * bw:(bx + 1) * bw]
            t[:sub.shape[0], :sub.shape[1]] = sub
            off = len(out)
            out += t.tobytes()
            block_infos.append((off, npx * a.dtype.itemsize))

    # Edms_State data (pointer fields serialized inline; the stored
    # offsets are the absolute file positions of their payloads)
    dms_data = len(out)
    out += struct.pack("<IIIH", across * down, npx, across * down, 0)
    out += struct.pack("<II", len(block_infos), dms_data + 14 + 8)
    for off, sz in block_infos:
        out += struct.pack("<HIIHH", 0, off, sz, 1, 0)
    out += struct.pack("<II", 0, 0)  # freelist: empty pointer
    out += struct.pack("<I", 0)      # modTime
    dms_dsize = len(out) - dms_data

    # Eprj_MapInfo data
    map_data = len(out)
    name = b"Unknown\x00"
    units = b"meters\x00"
    m = bytearray()

    def ptr(count):
        return struct.pack("<II", count, map_data + len(m) + 8)

    m += ptr(len(name)) + name
    ulx = gt[0] + gt[1] / 2
    uly = gt[3] + gt[5] / 2
    lrx = gt[0] + gt[1] * (w - 0.5)
    lry = gt[3] + gt[5] * (h - 0.5)
    m += ptr(1) + struct.pack("<2d", ulx, uly)
    m += ptr(1) + struct.pack("<2d", lrx, lry)
    m += ptr(1) + struct.pack("<2d", gt[1], -gt[5])
    m += ptr(len(units)) + units
    out += m
    map_dsize = len(out) - map_data

    dict_pos = len(out)
    out += _W_DICT.encode("latin-1")

    # patch entries + file header
    out[root_pos:root_pos + 128] = _entry_bytes(
        child=layer_pos, name="root", typ="root")
    out[layer_pos:layer_pos + 128] = _entry_bytes(
        next_=map_pos, parent=root_pos, child=dms_pos,
        data=layer_data, dsize=layer_dsize,
        name="Layer_1", typ="Eimg_Layer")
    out[dms_pos:dms_pos + 128] = _entry_bytes(
        parent=layer_pos, data=dms_data, dsize=dms_dsize,
        name="RasterDMS", typ="Edms_State")
    out[map_pos:map_pos + 128] = _entry_bytes(
        parent=root_pos, data=map_data, dsize=map_dsize,
        name="Map_Info", typ="Eprj_MapInfo")
    out[hdr_pos:hdr_pos + 18] = struct.pack(
        "<IIIhI", 1, 0, root_pos, 128, dict_pos)
    _ = srid  # SRS nodes are out of the writer subset (documented)
    return bytes(out)


def write_hfa(df, out_dir: str) -> list[str]:
    """One .img per row, written by the task that holds the row."""
    def dump_row(r, arr, gt, nd, out_dir):
        if arr.ndim == 3:
            arr = arr[:, :, 0]
        path = os.path.join(out_dir, f"{r.image_id}.img")
        with open(path, "wb") as f:
            f.write(format_hfa(arr, gt))
        return path

    return write_files(df, out_dir, dump_row)
