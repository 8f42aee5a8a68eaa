"""Raw-header grid family tests: ROI_PAC / BYN / LAN / SNODAS / LCP.

Conformance quoted from autotest/gdrivers/{roipac,byn,lan,snodas,
lcp}.py: srtm.dem checksum 64074 + its .rsc georef; both BYN
fixtures at 64764 with the scaled-boundary georef; fakelan(4bit).lan
at 10; fake_snodas' quoted gt + nodata -9999 (empty .dat
zero-fills); both LCP landscapes at their 8 quoted per-band
checksums, gt, LATITUDE/LINEAR_UNIT metadata.
Semantics: frmts/raw/{roipacdataset,byndataset,landataset,
snodasdataset,lcpdataset}.cpp. Provenance in tests/data/README.md.
"""

import os

import numpy as np
import pytest

from gdal_spark.checksum import gdal_checksum
from gdal_spark.formats import rawgrids as R

DATA = os.path.join(os.path.dirname(__file__), "data", "rawgrids")


def _b(name):
    with open(os.path.join(DATA, name), "rb") as f:
        return f.read()


def _t(name):
    with open(os.path.join(DATA, name), "r", encoding="latin-1") as f:
        return f.read()


class TestRoipac:
    def test_srtm(self):
        arr, gt, nodata, meta = R.parse_roipac(
            _b("srtm.dem"), _t("srtm.dem.rsc"), ".dem")
        assert arr.dtype == np.int16 and arr.shape == (10, 12)
        assert gdal_checksum(arr) == 64074
        assert gt[0] == pytest.approx(-180.0083333, abs=1e-7)
        assert gt[3] == pytest.approx(-59.9916667, abs=1e-7)
        assert meta.split("|")[:2] == ["LL", "WGS84"]

    def test_roundtrip(self):
        rng = np.random.default_rng(5)
        arr = rng.integers(-500, 500, (6, 9)).astype(np.int16)
        gt = (-10.0, 0.25, 0.0, 50.0, 0.0, -0.25)
        d, rsc = R.format_roipac(arr, gt)
        a2, g2, *_ = R.parse_roipac(d, rsc, ".dem")
        assert np.array_equal(a2, arr) and g2 == gt

    def test_rmg_line_interleave(self):
        # .hgt: two float32 bands line-interleaved
        rng = np.random.default_rng(6)
        arr = rng.normal(0, 5, (3, 4, 2)).astype(np.float32)
        raw = np.ascontiguousarray(
            arr.transpose(0, 2, 1)).tobytes()
        rsc = "WIDTH 4\nFILE_LENGTH 3\n"
        a2, *_ = R.parse_roipac(raw, rsc, ".hgt")
        assert np.array_equal(a2, arr)


class TestByn:
    @pytest.mark.parametrize("name", ["cgg2013ai08_reduced.byn",
                                      "test_invalid_header_bytes.byn"])
    def test_cgg2013(self, name):
        arr, gt, nodata, scale = R.parse_byn(_b(name))
        assert arr.dtype == np.int32
        assert gdal_checksum(arr) == 64764
        # scale flag 1: boundaries x1000; factor 1000 -> scale 1e-3
        assert gt[0] == pytest.approx(-170.0, abs=1e-9)
        assert gt[3] == pytest.approx(90.0, abs=1e-9)
        assert nodata == 9999000.0
        assert scale == pytest.approx(0.001)

    def test_roundtrip(self):
        rng = np.random.default_rng(7)
        arr = rng.integers(-3000, 3000, (5, 8)).astype(np.int16)
        gt = (-10.0, 30 / 3600.0, 0.0, 50.0, 0.0, -30 / 3600.0)
        a2, g2, nd, _ = R.parse_byn(R.format_byn(arr, gt))
        assert np.array_equal(a2, arr)
        assert g2 == pytest.approx(gt, abs=1e-12)
        assert nd == 32767.0

    def test_rejects_bounds_with_no_cells(self):
        # a PCraster file read as BYN: its bytes give a negative width
        with open(os.path.join(os.path.dirname(DATA), "ldd.map"), "rb") as f:
            buf = f.read()
        with pytest.raises(ValueError, match="BYN"):
            R.parse_byn(buf)

    def test_rejects_non_arcsecond(self):
        with pytest.raises(ValueError, match="arcseconds"):
            R.format_byn(np.zeros((2, 2), np.int16),
                         (0, 1 / 7777.0, 0, 1, 0, -1 / 7777.0))


class TestLan:
    @pytest.mark.parametrize("name", ["fakelan.lan", "fakelan4bit.lan"])
    def test_fakelan(self, name):
        arr, gt, nodata, meta = R.parse_lan(_b(name))
        band = arr if arr.ndim == 2 else arr[:, :, 0]
        assert gdal_checksum(band) == 10

    @pytest.mark.parametrize("dt", [np.uint8, np.int16])
    def test_roundtrip(self, dt):
        rng = np.random.default_rng(8)
        arr = rng.integers(0, 100, (4, 7, 3)).astype(dt)
        gt = (-10.0, 0.25, 0.0, 50.0, 0.0, -0.25)
        a2, g2, *_ = R.parse_lan(R.format_lan(arr, gt))
        assert np.array_equal(a2, arr)
        assert g2 == pytest.approx(gt, abs=1e-5)


class TestSnodas:
    def test_fake_snodas(self):
        arr, gt, nodata, meta = R.parse_snodas(
            _t("fake_snodas.hdr"), _b("fake_snodas.dat"))
        assert arr.shape == (3351, 6935)
        exp = (-124.733749999995, 0.0083333333333330643, 0.0,
               52.874583333331302, 0.0, -0.0083333333333330054)
        assert gt == pytest.approx(exp, abs=1e-12)
        assert nodata == -9999.0
        # empty .dat zero-fills (RawRasterBand semantics)
        assert int(arr.max()) == 0

    def test_roundtrip(self):
        rng = np.random.default_rng(9)
        arr = rng.integers(-100, 100, (5, 6)).astype(np.int16)
        gt = (-10.0, 0.25, 0.0, 50.0, 0.0, -0.25)
        hdr, dat = R.format_snodas(arr, gt)
        a2, g2, nd, _ = R.parse_snodas(hdr, dat)
        assert np.array_equal(a2, arr)
        assert g2 == pytest.approx(gt, abs=1e-9)


class TestLcp:
    FARSITE_CS = [18645, 16431, 18851, 26182, 30038, 22077, 30388,
                  23249]
    USGS_CS = [28381, 25824, 28413, 19052, 30164, 22316, 30575, 23304]

    def test_farsite(self):
        arr, gt, nodata, meta = R.parse_lcp(
            _b("test_FARSITE_UTM12.LCP"))
        assert arr.shape == (55, 57, 8)
        cs = [gdal_checksum(arr[:, :, b]) for b in range(8)]
        assert cs == self.FARSITE_CS
        exp = (285807.932887174887583, 30, 0,
               5379230.386217921040952, 0, -30)
        assert gt == pytest.approx(exp, abs=1e-5)
        parts = meta.split("|")
        assert parts[0] == "49" and parts[1] == "Meters"
        assert "CBH:unit=3" in parts[2]
        assert "FUEL_MODEL:unit=0,min=1,max=99,classes=6," \
               "values=1,2,5,8,10,99" in parts[2]
        assert parts[3].startswith("This is a test LCP file")

    def test_usgs(self):
        arr, gt, _, _ = R.parse_lcp(_b("test_USGS_LFNM_Alb83.lcp"))
        cs = [gdal_checksum(arr[:, :, b]) for b in range(8)]
        assert cs == self.USGS_CS
        assert gt[:2] == (-1328145.0, 30.0) and gt[3] == 2961735.0

    @pytest.mark.parametrize("nb", [5, 7, 8, 10])
    def test_roundtrip(self, nb):
        rng = np.random.default_rng(10)
        arr = rng.integers(-30, 300, (4, 6, nb)).astype(np.int16)
        gt = (-10.0, 0.25, 0.0, 50.0, 0.0, -0.25)
        a2, g2, _, meta = R.parse_lcp(R.format_lcp(arr, gt,
                                                   latitude=45))
        assert np.array_equal(a2, arr)
        assert g2 == gt
        assert meta.split("|")[0] == "45"


class TestScans:
    def test_roipac_scan_sink(self, spark, tmp_path):
        rng = np.random.default_rng(11)
        from gdal_spark import codecs
        arrs = {f"d{i}": rng.integers(-500, 500, (5, 6))
                .astype(np.int16) for i in range(3)}
        rows = [(k, bytearray(codecs.encode_raw(v)), 6, 5, "raw",
                 0.0, 0.5, 0.0, 10.0, 0.0, -0.5, 0, None)
                for k, v in arrs.items()]
        src = spark.createDataFrame(
            rows,
            "image_id string, bytes binary, w int, h int, fmt string, "
            "gt0 double, gt1 double, gt2 double, gt3 double, "
            "gt4 double, gt5 double, srid int, nodata double")
        R.write_roipac(src, str(tmp_path))
        df = R.scan_roipac(spark, str(tmp_path / "*.dem"))
        got = {r.image_id: r for r in df.collect()}
        for k, v in arrs.items():
            assert np.array_equal(
                codecs.decode_image(bytes(got[k].bytes), "raw"), v)

    def test_lcp_scan_sink(self, spark, tmp_path):
        rng = np.random.default_rng(12)
        from gdal_spark import codecs
        arrs = {f"l{i}": rng.integers(0, 300, (4, 5, 5))
                .astype(np.int16) for i in range(2)}
        rows = [(k, bytearray(codecs.encode_raw(v)), 5, 4, "raw",
                 0.0, 30.0, 0.0, 120.0, 0.0, -30.0, 0, None)
                for k, v in arrs.items()]
        src = spark.createDataFrame(
            rows,
            "image_id string, bytes binary, w int, h int, fmt string, "
            "gt0 double, gt1 double, gt2 double, gt3 double, "
            "gt4 double, gt5 double, srid int, nodata double")
        R.write_lcp(src, str(tmp_path))
        df = R.scan_lcp(spark, str(tmp_path / "*.lcp"))
        got = {r.image_id: r for r in df.collect()}
        for k, v in arrs.items():
            assert np.array_equal(
                codecs.decode_image(bytes(got[k].bytes), "raw"), v)
