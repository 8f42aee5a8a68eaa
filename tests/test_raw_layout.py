"""formats/_raw.py against a per-pixel ``struct.unpack_from`` reference:
every layout, both byte orders, the common item types, header
offsets, record prefixes/suffixes, bottom-up rows, short buffers and
sub-windows."""

import struct

import numpy as np
import pytest

from gdal_spark.formats._raw import read_band, read_raw, write_raw

CODES = ["u1", "i2", "u2", "i4", "f4", "f8", "c8"]


def _unpack(data, dt, off):
    """One item at byte ``off`` (zero past the end), via struct."""
    dt = np.dtype(dt)
    raw = bytes(data[off:off + dt.itemsize]).ljust(dt.itemsize, b"\0")
    bo = "<" if dt.byteorder in "<|" or (
        dt.byteorder == "=" and struct.pack("=H", 1) == b"\1\0") else ">"
    if dt.kind == "c":
        re, im = struct.unpack(bo + "ff", raw)
        return complex(re, im)
    fmt = {"u1": "B", "i2": "h", "u2": "H", "i4": "i", "u4": "I",
           "f4": "f", "f8": "d"}[dt.str[1:]]
    return struct.unpack(bo + fmt, raw)[0]


def _ref_band(data, dt, w, h, image_offset, pixel_offset, line_offset):
    out = np.zeros((h, w), np.dtype(dt).newbyteorder("="))
    for r in range(h):
        for c in range(w):
            out[r, c] = _unpack(data, dt,
                                image_offset + r * line_offset
                                + c * pixel_offset)
    return out


def _ref_cube(data, dt, w, h, nb, layout, offset=0):
    isz = np.dtype(dt).itemsize
    bands = []
    for b in range(nb):
        if layout == "bsq":
            args = (offset + b * w * h * isz, isz, w * isz)
        elif layout == "bil":
            args = (offset + b * w * isz, isz, nb * w * isz)
        else:
            args = (offset + b * isz, nb * isz, nb * w * isz)
        bands.append(_ref_band(data, dt, w, h, *args))
    return bands[0] if nb == 1 else np.stack(bands, axis=-1)


def _payload(n, seed=0):
    return np.random.default_rng(seed).integers(
        0, 256, n, dtype=np.uint8).tobytes()


def _same(a, b):
    assert a.dtype == b.dtype and a.shape == b.shape
    assert a.dtype.isnative
    assert a.tobytes() == b.tobytes()


@pytest.mark.parametrize("layout", ["bsq", "bil", "bip"])
@pytest.mark.parametrize("bo", ["<", ">"])
@pytest.mark.parametrize("code", CODES)
def test_read_raw_matches_reference(layout, bo, code):
    dt = np.dtype(bo + code) if code != "u1" else np.dtype(code)
    w, h, nb, off = 5, 4, 3, 7
    data = _payload(off + w * h * nb * dt.itemsize, seed=len(code))
    if dt.kind in "fc":
        # keep floats finite so the byte comparison is meaningful
        vals = np.arange(w * h * nb * (2 if dt.kind == "c" else 1),
                         dtype=dt.str[0] + "f%d" % (
                             dt.itemsize // (2 if dt.kind == "c" else 1)))
        data = data[:off] + vals.tobytes()
    got = read_raw(data, dt, w, h, nb, layout, off)
    _same(got, _ref_cube(data, dt, w, h, nb, layout, off))
    single = read_raw(data, dt, w, h, 1, layout, off)
    assert single.shape == (h, w)


def test_bip_band_takes_every_nbth_sample():
    cube = np.arange(3 * 4 * 2, dtype=np.uint8).reshape(3, 4, 2)
    got = read_raw(cube.tobytes(), "u1", 4, 3, 2, "bip")
    assert got[:, :, 0].tolist() == [[0, 2, 4, 6], [8, 10, 12, 14],
                                     [16, 18, 20, 22]]


def test_record_prefix_and_suffix():
    w, h, prefix, suffix = 6, 5, 12, 4
    line = prefix + 2 * w + suffix
    data = _payload(40 + h * line, seed=3)
    got = read_band(data, ">i2", w, h, 40 + prefix, 2, line)
    _same(got, _ref_band(data, ">i2", w, h, 40 + prefix, 2, line))


def test_bottom_up_rows():
    w, h = 4, 6
    data = _payload(8 + w * h * 4, seed=4)
    got = read_band(data, "<u4", w, h, 8 + (h - 1) * w * 4, 4, -w * 4)
    ref = _ref_band(data, "<u4", w, h, 8, 4, w * 4)[::-1]
    _same(got, np.ascontiguousarray(ref))
    _same(read_raw(data, "<u4", w, h, 1, "bsq", 8, bottom_up=True), got)


def test_truncated_buffer_reads_zero():
    w, h, nb = 5, 4, 2
    full = _payload(w * h * nb * 2, seed=5)
    short = full[:37]
    for layout in ("bsq", "bil", "bip"):
        got = read_raw(short, "<u2", w, h, nb, layout)
        _same(got, _ref_cube(short, "<u2", w, h, nb, layout))
    # nothing of the band inside the buffer at all
    assert not read_raw(b"", "<f4", 3, 2, 1, "bsq", 100).any()


def test_sub_window_is_an_offset_shift():
    w, h, nb = 9, 7, 2
    x0, y0, ww, wh = 2, 3, 4, 3
    data = _payload(w * h * nb * 2, seed=6)
    full = read_raw(data, ">u2", w, h, nb, "bil")
    line = nb * w * 2
    for b in range(nb):
        got = read_band(data, ">u2", ww, wh,
                        b * w * 2 + y0 * line + x0 * 2, 2, line)
        _same(got, np.ascontiguousarray(
            full[y0:y0 + wh, x0:x0 + ww, b]))


def test_start_before_data_raises():
    with pytest.raises(ValueError):
        read_band(b"\0" * 16, "u1", 2, 2, 0, 1, -4)


def test_unknown_layout_raises():
    with pytest.raises(ValueError, match="interleave"):
        read_raw(b"\0" * 4, "u1", 2, 2, 1, "bsx")


@pytest.mark.parametrize("layout", ["bsq", "bil", "bip"])
@pytest.mark.parametrize("dtype", ["<i2", ">f4", "u1", ">c8", "<f8"])
def test_write_read_roundtrip(layout, dtype):
    rng = np.random.default_rng(7)
    a = (rng.normal(size=(4, 6, 3)) * 100).astype(
        np.dtype(dtype).newbyteorder("="))
    for bottom_up in (False, True):
        data = write_raw(a, dtype, layout, bottom_up)
        assert len(data) == a.size * np.dtype(dtype).itemsize
        _same(read_raw(data, dtype, 6, 4, 3, layout,
                       bottom_up=bottom_up), a)
    _same(read_raw(write_raw(a[:, :, 1], dtype, layout), dtype, 6, 4, 1,
                   layout), np.ascontiguousarray(a[:, :, 1]))


def test_write_layout_bytes():
    a = np.arange(2 * 3 * 2, dtype=np.uint8).reshape(2, 3, 2)
    assert write_raw(a, "u1", "bip") == a.tobytes()
    assert write_raw(a, "u1", "bsq") == a.transpose(2, 0, 1).tobytes()
    assert write_raw(a, "u1", "bil") == a.transpose(0, 2, 1).tobytes()
    assert write_raw(a[:, :, 0], ">u2", "bsq", bottom_up=True) == \
        a[::-1, :, 0].astype(">u2").tobytes()
