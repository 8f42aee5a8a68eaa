"""WKB/PIP vs brute force; codec round-trips; checksum; cells; fixtures."""

import numpy as np
import pytest

from gdal_spark import cells, codecs, geom
from gdal_spark.checksum import gdal_checksum, image_checksums
from gdal_spark.fixtures import image_record, image_spec, pattern_array, feature_record


# ---------------------------------------------------------------- geometry

def brute_pip(px, py, ring):
    """Independent O(n) crossing-count (different formulation: y-interpolation)."""
    inside = False
    n = len(ring)
    j = n - 2
    for i in range(n - 1):
        xi, yi = ring[i]
        xj, yj = ring[j]
        if (yi > py) != (yj > py) and px < (xj - xi) * (py - yi) / (yj - yi) + xi:
            inside = not inside
        j = i
    return inside


def test_wkb_point_roundtrip():
    g = geom.parse_wkb(geom.wkb_point(3.5, -7.25))
    assert g.kind == geom.WKB_POINT
    np.testing.assert_allclose(g.parts, [[3.5, -7.25]])


def test_wkb_polygon_roundtrip_and_envelope():
    ring = np.array([[0, 0], [10, 0], [10, 5], [0, 5]], dtype=float)
    g = geom.parse_wkb(geom.wkb_polygon([ring]))
    assert g.kind == geom.WKB_POLYGON
    assert len(g.parts) == 1 and len(g.parts[0]) == 5  # auto-closed
    assert g.envelope() == (0.0, 0.0, 10.0, 5.0)


def test_wkb_multipolygon():
    r1 = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
    r2 = np.array([[10, 10], [14, 10], [14, 14], [10, 14]], dtype=float)
    g = geom.parse_wkb(geom.wkb_multipolygon([[r1], [r2]]))
    assert g.kind == geom.WKB_MULTIPOLYGON
    assert len(g.polygons()) == 2
    inside = geom.points_in_geometry(np.array([2.0, 12.0, 7.0]), np.array([2.0, 12.0, 7.0]), g)
    assert inside.tolist() == [True, True, False]


def test_pip_vs_brute_force_random():
    rng = np.random.default_rng(11)
    for _ in range(25):
        nv = int(rng.integers(5, 12))
        angles = np.sort(rng.uniform(0, 2 * np.pi, nv))
        r = rng.uniform(2, 10, nv)
        ring = np.stack([5 + r * np.cos(angles), 5 + r * np.sin(angles)], axis=1)
        ring = np.vstack([ring, ring[0]])
        px = rng.uniform(-8, 18, 300)
        py = rng.uniform(-8, 18, 300)
        got = geom.points_in_ring(px, py, ring)
        want = np.array([brute_pip(x, y, ring) for x, y in zip(px, py)])
        assert np.array_equal(got, want)


def test_pip_degenerate_ring_rejected():
    # <4 points: never matches (ogr/ogrlinearring.cpp:480-481)
    ring = np.array([[0, 0], [10, 0], [0, 0]], dtype=float)
    assert not geom.points_in_ring(np.array([1.0]), np.array([0.5]), ring).any()


def test_polygon_with_hole():
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6]], dtype=float)
    g = geom.parse_wkb(geom.wkb_polygon([outer, hole]))
    px = np.array([5.0, 2.0, 11.0])
    py = np.array([5.0, 2.0, 5.0])
    inside = geom.points_on_surface(px, py, g.parts)
    assert inside.tolist() == [False, True, False]


def test_point_to_polygon_distance():
    ring = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    d = geom.points_to_polygon_dist(np.array([5.0, 15.0, 5.0]), np.array([5.0, 5.0, -3.0]), [ring])
    np.testing.assert_allclose(d, [0.0, 5.0, 3.0])


def test_ring_area_centroid():
    ring = np.array([[0, 0], [4, 0], [4, 2], [0, 2], [0, 0]], dtype=float)
    a, (cx, cy) = geom.ring_area_centroid(ring)
    assert a == pytest.approx(8.0)
    assert (cx, cy) == (pytest.approx(2.0), pytest.approx(1.0))


# ---------------------------------------------------------------- codecs

def test_png_roundtrip_rgb():
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, size=(57, 83, 3), dtype=np.uint8)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(arr)), arr)


def test_png_roundtrip_gray_and_rgba_and_16bit():
    rng = np.random.default_rng(4)
    g = rng.integers(0, 256, size=(20, 20), dtype=np.uint8)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(g)), g)
    rgba = rng.integers(0, 256, size=(31, 19, 4), dtype=np.uint8)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(rgba)), rgba)
    u16 = rng.integers(0, 65536, size=(16, 24), dtype=np.uint16)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(u16)), u16)


def test_png_decode_all_filters():
    """Hand-build a PNG using every filter type; decode must invert each."""
    import struct
    import zlib as _z

    rng = np.random.default_rng(5)
    arr = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    h, w, c = arr.shape
    bpp = c
    lines = arr.reshape(h, w * c).astype(np.int64)
    scans = []
    prev = np.zeros(w * c, dtype=np.int64)
    for y, ft in enumerate([0, 1, 2, 3, 4]):
        cur = lines[y]
        if ft == 0:
            enc = cur
        elif ft == 1:
            left = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
            enc = (cur - left) % 256
        elif ft == 2:
            enc = (cur - prev) % 256
        elif ft == 3:
            left = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
            enc = (cur - (left + prev) // 2) % 256
        else:
            enc = np.empty_like(cur)
            for x in range(w * c):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                cc = prev[x - bpp] if x >= bpp else 0
                enc[x] = (cur[x] - codecs._paeth(a, b, cc)) % 256
        scans.append(bytes([ft]) + bytes(enc.astype(np.uint8)))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        codecs.PNG_SIG
        + codecs._chunk(b"IHDR", ihdr)
        + codecs._chunk(b"IDAT", _z.compress(b"".join(scans)))
        + codecs._chunk(b"IEND", b"")
    )
    assert np.array_equal(codecs.decode_png(png), arr)


def test_raw_roundtrip():
    rng = np.random.default_rng(6)
    f32 = rng.normal(size=(9, 11, 2)).astype(np.float32)
    assert np.array_equal(codecs.decode_raw(codecs.encode_raw(f32)), f32)


def test_gsj_psnr_gate():
    # smooth-ish natural pattern: PSNR must clear the 40 dB bar
    spec = image_spec(123)
    spec.update(w=128, h=96, c=3)
    arr = pattern_array(spec)
    dec = codecs.decode_gsj(codecs.encode_gsj(arr))
    assert dec.shape == arr.shape
    assert codecs.psnr(arr, dec) >= 40.0


def test_gsj_odd_sizes():
    rng = np.random.default_rng(8)
    arr = (rng.uniform(0, 40, size=(13, 21)) + 100).astype(np.uint8)
    dec = codecs.decode_gsj(codecs.encode_gsj(arr))
    assert dec.shape == arr.shape


# ---------------------------------------------------------------- checksum

def test_checksum_constant_band():
    # all-ones 20x20: sum(1 % p) = 400 (1 mod any prime is 1)
    assert gdal_checksum(np.ones((20, 20), dtype=np.uint8)) == 400


def test_checksum_known_small():
    # manual: pixel (y,x) value v contributes v % primes[(y*w+x)%11]
    band = np.arange(12, dtype=np.uint8).reshape(3, 4)
    primes = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]
    want = sum(int(v) % primes[i % 11] for i, v in enumerate(band.ravel())) & 0xFFFF
    assert gdal_checksum(band) == want


def test_checksum_float_and_negative():
    band = np.array([[-3.6, 2.4], [np.nan, 1e10]], dtype=np.float64)
    # IntFromDouble: -3.6+0.5=-3.1 -> floor -> -4; 2.4+0.5 -> 2;
    # nan -> INT_MIN; 1e10 -> clamp 2147483647
    primes = [7, 11, 13, 17]
    vals = [-4, 2, -(2**31), 2147483647]
    want = sum(int(np.fmod(v, p)) for v, p in zip(vals, primes)) & 0xFFFF
    assert gdal_checksum(band) == want


@pytest.mark.parametrize(
    "shape", [(1, 1), (3, 4), (7, 13), (256, 256), (5, 9, 2), (17, 11, 3), (64, 33, 4)]
)
def test_checksum_uint8_matches_integer_path(shape):
    # the uint8 fast path against the generic integer remainder path
    rng = np.random.default_rng(sum(shape))
    arr = rng.integers(0, 256, shape, dtype=np.uint8)
    bands = [arr] if arr.ndim == 2 else [arr[:, :, b] for b in range(arr.shape[2])]
    want = [gdal_checksum(b.astype(np.int16)) for b in bands]
    assert image_checksums(arr) == want
    assert [gdal_checksum(b) for b in bands] == want


def test_checksum_multiband():
    arr = np.dstack([np.ones((4, 4), np.uint8) * 5, np.ones((4, 4), np.uint8) * 9])
    cs = image_checksums(arr)
    assert len(cs) == 2 and cs[0] != cs[1]


# ---------------------------------------------------------------- cells

def test_cell_pack_unpack():
    z, x, y = cells.unpack(cells.pack(7, 100, 27))
    assert (int(z), int(x), int(y)) == (7, 100, 27)


def test_cell_parent_children():
    c = cells.pack(5, 10, 20)
    assert int(cells.parent(c)) == int(cells.pack(4, 5, 10))
    kids = cells.children(c).ravel()
    assert sorted(int(v) for v in kids) == sorted(
        int(cells.pack(6, 10 * 2 + dx, 20 * 2 + dy)) for dx in (0, 1) for dy in (0, 1)
    )
    assert all(int(cells.parent(k)) == int(c) for k in kids)


def test_ring_offsets_counts():
    assert len(cells.ring_offsets(0)) == 1
    assert len(cells.ring_offsets(1)) == 8
    assert len(cells.ring_offsets(3)) == 24
    assert len(cells.disk_offsets(2)) == 25


def test_neighbors_wrap_and_clamp():
    c = cells.pack(3, 0, 0)  # corner tile at z3 (8x8 grid)
    n, valid = cells.neighbors(np.array([c]), cells.ring_offsets(1))
    zs, xs, ys = cells.unpack(n[0][valid[0]])
    # x wraps to 7, y<0 dropped
    assert set(xs.tolist()) <= {0, 1, 7}
    assert (ys >= 0).all()


# ---------------------------------------------------------------- fixtures

def test_image_record_deterministic_and_decodable():
    r1 = image_record(5)
    r2 = image_record(5)
    assert r1["bytes"] == r2["bytes"]
    assert r1["phash"] == r2["phash"]
    arr = codecs.decode_image(r1["bytes"], r1["fmt"])
    spec = image_spec(5)
    want = pattern_array(spec)
    if r1["fmt"] == "jpg":
        assert codecs.psnr(want, arr) >= 40.0
    else:
        assert np.array_equal(arr, want)
    assert "ünïcodé" in r1["caption"]


def test_world_image_row():
    r = image_record(0)
    assert (r["w"], r["h"], r["srid"]) == (400, 200, 4326)
    assert (r["gt0"], r["gt1"], r["gt3"], r["gt5"]) == (-180.0, 0.9, 90.0, -0.9)
    # global footprint in meters
    assert r["minx"] == pytest.approx(-20037508.342789244, rel=1e-9)
    assert r["maxx"] == pytest.approx(20037508.342789244, rel=1e-9)


def test_feature_records():
    recs = [feature_record(f) for f in range(8)]
    assert recs[0]["kind"] == "admin"
    g = geom.parse_wkb(recs[1]["wkb"])
    assert len(g.parts) == 2  # has a hole
    g2 = geom.parse_wkb(recs[2]["wkb"])
    assert len(g2.parts[0]) < 4 or np.array_equal(g2.parts[0][0], g2.parts[0][-1])


class TestWktGeojsonIO:
    """WKT / GeoJSON round-trips (ogrgeometryfactory.cpp createFromWkt,
    ogrgeojsonreader.cpp semantics, 2-D)."""

    def _roundtrip(self, g):
        import numpy as np

        from gdal_spark import geom as G

        wkt = G.geometry_to_wkt(g)
        g2 = G.parse_wkt(wkt)
        assert g2.kind == g.kind
        gj = G.geometry_to_geojson(g)
        g3 = G.parse_geojson(gj)
        assert g3.kind == g.kind
        wkb1 = G.geometry_to_wkb(g)
        wkb2 = G.geometry_to_wkb(g2)
        wkb3 = G.geometry_to_wkb(g3)
        assert wkb1 == wkb2 == wkb3
        return wkt

    def test_point(self):
        import numpy as np

        from gdal_spark import geom as G

        wkt = self._roundtrip(G.Geometry(G.WKB_POINT, np.array([[1.5, -2.25]])))
        assert wkt == "POINT (1.5 -2.25)"

    def test_polygon_with_hole(self):
        import numpy as np

        from gdal_spark import geom as G

        outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)
        hole = np.array([[2, 2], [4, 2], [4, 4], [2, 4], [2, 2]], float)
        wkt = self._roundtrip(G.Geometry(G.WKB_POLYGON, [outer, hole]))
        assert wkt.startswith("POLYGON ((0 0, 10 0")
        assert wkt.count("(") == 3

    def test_multipolygon(self):
        import numpy as np

        from gdal_spark import geom as G

        p1 = [np.array([[0, 0], [1, 0], [1, 1], [0, 0]], float)]
        p2 = [np.array([[5, 5], [6, 5], [6, 6], [5, 5]], float)]
        self._roundtrip(G.Geometry(G.WKB_MULTIPOLYGON, [p1, p2]))

    def test_linestring_and_multi(self):
        import numpy as np

        from gdal_spark import geom as G

        self._roundtrip(G.Geometry(G.WKB_LINESTRING, [np.array([[0, 0], [3, 4]], float)]))
        self._roundtrip(
            G.Geometry(
                G.WKB_MULTILINESTRING,
                [np.array([[0, 0], [1, 1]], float), np.array([[2, 2], [3, 3]], float)],
            )
        )
        self._roundtrip(G.Geometry(G.WKB_MULTIPOINT, np.array([[0, 0], [1, 2]], float)))

    def test_wkt_external_form_parses(self):
        from gdal_spark import geom as G

        g = G.parse_wkt("POLYGON((0 0,4 0,4 4,0 4,0 0),(1 1,2 1,2 2,1 2,1 1))")
        assert g.kind == G.WKB_POLYGON and len(g.parts) == 2
        a, _ = G.polygon_area_centroid([g.parts])
        assert abs(a - 15.0) < 1e-12

    def test_sql_wkt_functions(self, spark):
        import numpy as np

        from gdal_spark import geom as G
        from gdal_spark.sql import execute_sql

        wkb = G.wkb_rect(0, 0, 4, 2)
        df = spark.createDataFrame([(1, bytearray(wkb))], "fid long, wkb binary")
        out = execute_sql(
            spark,
            "SELECT fid, st_astext(wkb) AS wkt, "
            "st_centroid_x(st_geomfromtext(st_astext(wkb))) AS cx FROM t",
            layers={"t": df},
        ).collect()[0]
        assert out.wkt.startswith("POLYGON ((0 0, 4 0")
        assert abs(out.cx - 2.0) < 1e-12


# ------------------------------------------------- palette PNG (ctype 3)

def _palette_png(idx, plte, bitdepth, trns=None, filters=None):
    """INDEPENDENT palette PNG writer (struct+zlib only): packs sub-byte
    indices MSB-first with row pad bits, arbitrary per-row filter types —
    shares nothing with codecs.decode_png."""
    import struct
    import zlib as _z

    h, w = idx.shape
    stride = (w * bitdepth + 7) // 8
    rows = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        acc = bits = 0
        pos = 0
        for x in range(w):
            acc = (acc << bitdepth) | int(idx[y, x])
            bits += bitdepth
            if bits == 8:
                rows[y, pos] = acc
                acc = bits = 0
                pos += 1
        if bits:
            rows[y, pos] = acc << (8 - bits)  # pad LSBs of final byte
    filters = filters or [0] * h
    scans = []
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        cur = rows[y].astype(np.int64)
        ft = filters[y]
        if ft == 0:
            enc = cur
        elif ft == 1:  # Sub (bpp=1)
            enc = (cur - np.concatenate([[0], cur[:-1]])) % 256
        elif ft == 2:  # Up
            enc = (cur - prev) % 256
        elif ft == 3:  # Average
            enc = (cur - (np.concatenate([[0], cur[:-1]]) + prev) // 2) % 256
        else:  # Paeth
            enc = np.empty_like(cur)
            for x in range(stride):
                a = cur[x - 1] if x >= 1 else 0
                b = prev[x]
                cc = prev[x - 1] if x >= 1 else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                enc[x] = (cur[x] - pred) % 256
        scans.append(bytes([ft]) + bytes(enc.astype(np.uint8)))
        prev = cur

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", _z.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, bitdepth, 3, 0, 0, 0)
    out = codecs.PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"PLTE", bytes(plte.ravel()))
    if trns is not None:
        out += chunk(b"tRNS", bytes(trns))
    return out + chunk(b"IDAT", _z.compress(b"".join(scans))) + chunk(b"IEND", b"")


def test_palette_png_8bit_with_trns():
    rng = np.random.default_rng(11)
    plte = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(13, 9), dtype=np.uint8)
    trns = np.array([0, 128, 255, 7], dtype=np.uint8)  # shorter than PLTE
    got = codecs.decode_png(_palette_png(idx, plte, 8, trns=trns))
    assert got.shape == (13, 9, 4)
    assert np.array_equal(got[:, :, :3], plte[idx])
    alpha = np.full(16, 255, dtype=np.uint8)
    alpha[:4] = trns
    assert np.array_equal(got[:, :, 3], alpha[idx])


@pytest.mark.parametrize("bitdepth,w", [(1, 13), (2, 7), (4, 9), (8, 6)])
def test_palette_png_bitdepths_odd_widths(bitdepth, w):
    """Sub-byte index unpack incl. row pad bits (PNG spec 7.2)."""
    rng = np.random.default_rng(100 + bitdepth)
    ncol = 1 << bitdepth
    plte = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
    idx = rng.integers(0, ncol, size=(5, w), dtype=np.uint8)
    got = codecs.decode_png(_palette_png(idx, plte, bitdepth))
    assert got.shape == (5, w, 3)
    assert np.array_equal(got, plte[idx])


def test_palette_png_all_filters():
    rng = np.random.default_rng(42)
    plte = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, size=(5, 17), dtype=np.uint8)
    buf = _palette_png(idx, plte, 8, filters=[0, 1, 2, 3, 4])
    assert np.array_equal(codecs.decode_png(buf), plte[idx])


def test_palette_png_errors():
    rng = np.random.default_rng(1)
    plte = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.integers(0, 4, size=(3, 3), dtype=np.uint8)
    buf = _palette_png(idx, plte, 8)
    # strip the PLTE chunk -> must raise
    import struct as _s
    pl_at = buf.index(b"PLTE") - 4
    (pl_len,) = _s.unpack_from(">I", buf, pl_at)
    no_plte = buf[:pl_at] + buf[pl_at + 12 + pl_len:]
    with pytest.raises(ValueError, match="PLTE"):
        codecs.decode_png(no_plte)
    # index beyond the palette -> must raise, not wrap
    idx_bad = np.full((3, 3), 9, dtype=np.uint8)
    with pytest.raises(ValueError, match="index"):
        codecs.decode_png(_palette_png(idx_bad, plte, 8))


def test_palette_png_via_decode_image_dispatch():
    rng = np.random.default_rng(77)
    plte = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
    arr = codecs.decode_image(_palette_png(idx, plte, 8), "png")
    assert np.array_equal(arr, plte[idx])
