"""Raw-grid family III tests (formats.rawgrids3).

Conformance quoted from the autotest suites on the checked-in
fixtures (provenance in tests/data/README.md):

- nwt_grd.grd: ALL FOUR quoted band checksums — 28093/33690/20365
  for the derived color-map RGB bands (the reference's 4096-entry
  createIP inflection ramp, indexed raw>>4) and 25856 for the
  z band (zmin + (raw-1)·(zmax-zmin)/65534, raw 0 -> -1e37);
- nwt_grc.grc: quoted checksum 46760 (classified uint8);
- mff2/bytemff2: quoted checksum 4672 (the byte.tif ramp through
  the attrib/image_data directory layout);
- genbin/tm4628_96: quoted 500x1-window checksum 5738 (truncated
  BSQ payload of a huge declared grid, row-addressable);
- nsidcbin: quoted pixel (60,44) == 27, 316x332 south grid, the
  published 25 km polar-stereo anchors;
- gsc/fakegsc.gsc: quoted checksum 0 (Fortran record markers).

Writers (MFF2 / GSC / GenBin / NSIDCbin) round-trip through their
own parsers.
"""

import os

import numpy as np
import pytest

from gdal_spark.checksum import gdal_checksum
from gdal_spark.formats import rawgrids3 as R3

DATA = os.path.join(os.path.dirname(__file__), "data")


def _read(rel):
    with open(os.path.join(DATA, rel), "rb") as f:
        return f.read()


class TestNorthwood:
    def test_grd_four_band_checksums(self):
        z, (r, g, b), gt = R3.parse_nwt_grd(_read("nwt/nwt_grd.grd"))
        assert [gdal_checksum(x) for x in (r, g, b, z)] == [
            28093, 33690, 20365, 25856]
        assert z.dtype == np.float32
        # center-registered extents backed off half a step
        assert gt[1] > 0 and gt[5] == -gt[1]

    def test_grc_checksum(self):
        arr, gt = R3.parse_nwt_grc(_read("nwt/nwt_grc.grc"))
        assert arr.shape == (181, 265)
        assert gdal_checksum(arr) == 46760


class TestMff2:
    def test_byte_fixture(self):
        bands, georef = R3.parse_mff2(
            os.path.join(DATA, "mff2_fixture", "bytemff2"))
        assert len(bands) == 1
        assert bands[0].shape == (20, 20)
        assert gdal_checksum(bands[0]) == 4672
        assert georef["projection.name"] == "utm"
        assert float(georef["top_left.latitude"]) == \
            pytest.approx(33.9023526904)

    def test_roundtrip(self, tmp_path):
        rng = np.random.default_rng(5)
        b1 = rng.integers(0, 65535, (9, 11)).astype(np.uint16)
        b2 = rng.integers(0, 65535, (9, 11)).astype(np.uint16)
        d = str(tmp_path / "two")
        R3.write_mff2(d, [b1, b2], {"projection.name": "ll"})
        bands, georef = R3.parse_mff2(d)
        assert len(bands) == 2
        assert np.array_equal(bands[0], b1)
        assert np.array_equal(bands[1], b2)
        assert georef["projection.name"] == "ll"


class TestGsc:
    def test_fake_fixture(self):
        arr, gt = R3.parse_gsc(_read("gsc/fakegsc.gsc"))
        assert arr.shape == (1, 1)
        assert gdal_checksum(arr) == 0

    def test_roundtrip(self):
        rng = np.random.default_rng(2)
        a = rng.random((6, 12)).astype(np.float32)
        gt = (100.0, 2.0, 0.0, 50.0, 0.0, -2.0)
        arr, gt2 = R3.parse_gsc(R3.format_gsc(a, gt))
        assert np.array_equal(arr, a)
        assert gt2 == pytest.approx(gt)


class TestGenBin:
    def test_window_checksum(self):
        hdr = _read("genbin/tm4628_96.hdr").decode()
        data = _read("genbin/tm4628_96.bil")
        bands, gt = R3.parse_genbin(hdr, data, window=(0, 0, 500, 1))
        assert gdal_checksum(bands[0]) == 5738
        # georef: UL is cell-center in the header
        assert gt[0] == pytest.approx(1181742.0 - 82.021004 / 2)

    def test_roundtrip(self, tmp_path):
        rng = np.random.default_rng(9)
        b1 = rng.integers(-500, 500, (5, 7)).astype(np.int16)
        b2 = rng.integers(-500, 500, (5, 7)).astype(np.int16)
        gt = (10.0, 1.0, 0.0, 20.0, 0.0, -1.0)
        stem = str(tmp_path / "t")
        R3.write_genbin(stem + ".bil", [b1, b2], gt)
        with open(stem + ".hdr") as f:
            hdr = f.read()
        with open(stem + ".bil", "rb") as f:
            data = f.read()
        bands, gt2 = R3.parse_genbin(hdr, data)
        assert np.array_equal(bands[0], b1)
        assert np.array_equal(bands[1], b2)
        assert gt2 == pytest.approx(gt)

    @pytest.mark.parametrize("interleave", ["BIP", "BSQ", "BIL"])
    def test_multiband_interleave(self, interleave):
        # a (rows, cols, bands) = (3, 4, 2) cube stored three ways
        cube = np.arange(24, dtype=np.uint8).reshape(3, 4, 2)
        stored = {"BIP": cube, "BSQ": cube.transpose(2, 0, 1),
                  "BIL": cube.transpose(0, 2, 1)}[interleave]
        hdr = ("BANDS: 2\nROWS: 3\nCOLS: 4\n"
               f"INTERLEAVING: {interleave}\nDATATYPE: U8\n")
        bands, _ = R3.parse_genbin(hdr, stored.tobytes())
        assert bands[0].tolist() == [[0, 2, 4, 6], [8, 10, 12, 14],
                                     [16, 18, 20, 22]]
        assert bands[1].tolist() == [[1, 3, 5, 7], [9, 11, 13, 15],
                                     [17, 19, 21, 23]]
        win, _ = R3.parse_genbin(hdr, stored.tobytes(),
                                 window=(1, 1, 2, 2))
        assert win[0].tolist() == [[10, 12], [18, 20]]
        assert win[1].tolist() == [[11, 13], [19, 21]]

    def test_multiband_bip_big_endian(self):
        cube = (np.arange(30, dtype=np.int16) * 37 - 400).reshape(3, 5, 2)
        hdr = ("BANDS: 2\nROWS: 3\nCOLS: 5\nINTERLEAVING: BIP\n"
               "DATATYPE: S16\nBYTE_ORDER: MSBFIRST\n")
        bands, _ = R3.parse_genbin(hdr, cube.astype(">i2").tobytes())
        assert bands[0].dtype == np.int16
        assert np.array_equal(bands[0], cube[:, :, 0])
        assert np.array_equal(bands[1], cube[:, :, 1])


class TestNsidc:
    def test_fixture(self):
        arr, gt = R3.parse_nsidcbin(
            _read("nsidcbin/nt_20220409_f18_nrt_s.bin"),
            name="nt_20220409_f18_nrt_s.bin")
        assert arr.shape == (332, 316)
        assert arr[44, 60] == 27
        assert gt == (-3950000.0, 25000.0, 0.0, 4350000.0, 0.0,
                      -25000.0)

    def test_roundtrip(self):
        rng = np.random.default_rng(4)
        a = rng.integers(0, 251, (10, 8)).astype(np.uint8)
        arr, gt = R3.parse_nsidcbin(R3.format_nsidcbin(a, south=False),
                                    south=False)
        assert np.array_equal(arr, a)
        assert gt[0] == -3837500.0


class TestScan:
    def test_scan_all(self, spark):
        from gdal_spark import codecs

        grd = R3.scan_nwt_grd(
            spark, os.path.join(DATA, "nwt", "*.grd"))
        rows = sorted(grd.collect(), key=lambda r: r.band)
        assert len(rows) == 4
        z = codecs.decode_raw(bytes(rows[3].bytes))
        assert gdal_checksum(z) == 25856
        grc = R3.scan_nwt_grc(
            spark, os.path.join(DATA, "nwt", "*.grc"))
        r = grc.collect()[0]
        assert gdal_checksum(
            codecs.decode_raw(bytes(r.bytes))) == 46760
        mff = R3.scan_mff2(
            spark, os.path.join(DATA, "mff2_fixture", "bytemff2"))
        r = mff.collect()[0]
        assert gdal_checksum(
            codecs.decode_raw(bytes(r.bytes))) == 4672
        nsidc = R3.scan_nsidcbin(
            spark, os.path.join(DATA, "nsidcbin", "*.bin"))
        r = nsidc.collect()[0]
        arr = codecs.decode_raw(bytes(r.bytes))
        assert arr[44, 60] == 27


class TestNoaaB:
    """Quoted goldens from autotest/gdrivers/noaa_b.py: checksum 3
    in BOTH byte orders, kind 1 (float32), the SW-center-anchored
    georef."""

    @pytest.mark.parametrize("name,be", [("test.b", True),
                                         ("test_little_endian.b",
                                          False)])
    def test_both_endians(self, name, be):
        with open(os.path.join(DATA, "noaa_b", name), "rb") as f:
            arr, gt, info = R3.parse_noaa_b(f.read())
        assert gdal_checksum(arr) == 3
        assert info["big_endian"] is be
        assert info["kind"] == 1
        assert gt == (1.75, 0.5, 0.0, 49.25, 0.0, -0.5)
