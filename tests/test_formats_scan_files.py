"""Contract of the shared file-driver helpers in formats._util.

glob_paths plans the files, scan_files fans out one partition per
planned task and assembles the rows, write_files is the task-per-row
sink, raster_row builds one images-table row. Every glob-planned
scanner goes through glob_paths, so a glob that matches nothing fails
on the driver with FileNotFoundError before any Spark job runs.
"""

import importlib
import os

import numpy as np
import pytest

from gdal_spark import codecs
from gdal_spark.formats._util import (glob_paths, raster_row, scan_files,
                                      schema_columns, write_files)


class TestGlobPaths:
    def test_literal_path_taken_as_is(self, tmp_path):
        missing = str(tmp_path / "not_there.img")
        assert glob_paths(missing) == [missing]

    def test_file_uri(self, tmp_path):
        p = tmp_path / "a.img"
        p.write_bytes(b"")
        assert glob_paths("file://" + str(p)) == [str(p)]
        assert glob_paths("file:" + str(p)) == [str(p)]

    def test_wildcard_sorted(self, tmp_path):
        for name in ("b.img", "a.img", "c.txt", "a.hdr"):
            (tmp_path / name).write_bytes(b"")
        got = glob_paths(str(tmp_path / "*.img"))
        assert got == [str(tmp_path / "a.img"), str(tmp_path / "b.img")]
        got = glob_paths("file://" + str(tmp_path / "[ab].*"),
                         keep=lambda p: not p.endswith(".hdr"))
        assert got == [str(tmp_path / "a.img"), str(tmp_path / "b.img")]

    def test_no_match_raises_with_the_glob(self, tmp_path):
        pat = str(tmp_path / "*.none")
        with pytest.raises(FileNotFoundError) as ei:
            glob_paths(pat)
        assert ei.value.args == (pat,)

    def test_keep_filtering_everything_raises(self, tmp_path):
        (tmp_path / "a.hdr").write_bytes(b"")
        pat = str(tmp_path / "*")
        with pytest.raises(FileNotFoundError) as ei:
            glob_paths(pat, keep=lambda p: not p.endswith(".hdr"))
        assert ei.value.args == (pat,)


def test_schema_columns():
    ddl = ("geometry binary, `a b` int, attributes map<string,string>, "
           "s struct<x: int, y: decimal(10,2)>, z double")
    assert schema_columns(ddl) == ["geometry", "a b", "attributes", "s",
                                   "z"]


class TestScanFiles:
    SCHEMA = "name string, k int, v double"

    def test_one_partition_per_path_row_and_column_order(self, spark):
        paths = [f"p{i}" for i in range(5)]

        def read(r):
            i = int(r.path[1:])
            # keys deliberately out of schema order
            return [{"v": float(j), "k": j, "name": r.path}
                    for j in range(i)]

        df = scan_files(spark, paths, read, self.SCHEMA)
        assert df.rdd.getNumPartitions() == len(paths)
        assert df.columns == ["name", "k", "v"]
        rows = [tuple(r) for r in df.collect()]
        # p0 reads nothing; the rest keep task order then read order
        assert rows == [(f"p{i}", j, float(j))
                        for i in range(5) for j in range(i)]
        per_part = df.rdd.glom().map(len).collect()
        assert per_part == [0, 1, 2, 3, 4]

    def test_planned_tasks_and_all_empty(self, spark):
        tasks = [("x", 2), ("y", 0), ("z", 1)]

        def read(r):
            return [[r.name, r.n, None]] * r.n

        df = scan_files(spark, None, read, self.SCHEMA,
                        tasks=("name string, n int", tasks))
        assert df.rdd.getNumPartitions() == 3
        assert [tuple(r) for r in df.collect()] == [
            ("x", 2, None), ("x", 2, None), ("z", 1, None)]
        empty = scan_files(spark, ["a", "b"], lambda r: [], self.SCHEMA)
        assert empty.rdd.getNumPartitions() == 2
        assert empty.count() == 0


def _images_df(spark, nodata):
    import pandas as pd

    rows = []
    for i, nd in enumerate(nodata):
        arr = np.full((2, 3), i, np.uint8)
        gt = (10.0 * i, 1.0, 0.0, 5.0, 0.0, -1.0)
        rows.append(raster_row(f"img{i}", arr, gt, 0, nd))
    return spark.createDataFrame(
        pd.DataFrame(rows),
        "image_id string, bytes binary, w int, h int, fmt string, "
        "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
        "gt5 double, srid int, nodata double")


def _text_dumper():
    # built in a function so that Spark ships it by value to the workers
    def dump(r, arr, gt, nd, out_dir):
        path = os.path.join(out_dir, f"{r.image_id}.txt")
        with open(path, "w") as f:
            f.write(f"{arr.shape} {arr.max()} {gt[0]} {nd}")
        return path

    return dump


class TestWriteFiles:
    def test_creates_dir_and_returns_paths(self, spark, tmp_path):
        out = tmp_path / "new" / "dir"
        got = write_files(_images_df(spark, [None, None]), str(out),
                          _text_dumper())
        assert sorted(got) == [str(out / "img0.txt"), str(out / "img1.txt")]
        assert (out / "img1.txt").read_text() == "(2, 3) 1 10.0 None"

    def test_row_nodata_wins_over_default(self, spark, tmp_path):
        got = write_files(_images_df(spark, [7.0, None]),
                          "file://" + str(tmp_path), _text_dumper(),
                          nodata=-9999.0)
        assert len(got) == 2
        assert (tmp_path / "img0.txt").read_text().endswith(" 7.0")
        assert (tmp_path / "img1.txt").read_text().endswith(" -9999.0")

    def test_raster_row_roundtrip(self):
        arr = np.arange(6, dtype=np.int16).reshape(2, 3)
        row = raster_row("a", arr, (1, 2, 3, 4, 5, 6), 4326, -1.0,
                         band=2)
        assert (row["w"], row["h"], row["fmt"]) == (3, 2, "raw")
        assert [row[f"gt{i}"] for i in range(6)] == [1, 2, 3, 4, 5, 6]
        assert (row["srid"], row["nodata"], row["band"]) == (4326, -1.0, 2)
        assert np.array_equal(codecs.decode_raw(row["bytes"]), arr)


# every scanner that plans its files through glob_paths
GLOB_SCANNERS = [
    "adrg:scan_adrg", "aig:scan_aig", "avce00:scan_avce00",
    "bsb:scan_bsb", "ceos:scan_ceos", "dds:scan_dds", "dgn:scan_dgn",
    "dimap:scan_dimap", "dimap:scan_til", "ehdr:scan_ehdr",
    "envi:scan_envi", "ers:scan_ers", "fits:scan_fits",
    "geodetic4:scan_ilwis", "geodetic4:scan_ngsgeoid",
    "geodetic4:scan_loslas", "geodetic4:scan_sigdem", "gif:scan_gif",
    "grib:scan_grib", "gsg:scan_gsg", "gtiff:scan_gtiff_windowed",
    "gtx:scan_gtx", "hfa:scan_hfa", "iris:scan_iris",
    "iscerraster:scan_isce", "iscerraster:scan_rraster",
    "isis2:scan_isis2", "isis3:scan_isis3", "landsat:scan_ndf",
    "landsat:scan_fast", "mif:scan_mif", "mrf:scan_mrf",
    "nitf:scan_nitf", "ntv2:scan_ntv2", "ods:scan_ods",
    "pcidsk:scan_pcidsk", "pds:scan_pds", "pds4:scan_pds4",
    "rawgrids:scan_roipac", "rawgrids:scan_byn", "rawgrids:scan_lan",
    "rawgrids:scan_snodas", "rawgrids:scan_lcp", "rawgrids2:scan_mff",
    "rawgrids2:scan_paux", "rawgrids2:scan_doq2", "rawgrids2:scan_ctg",
    "rawgrids2:scan_eir", "rawgrids3:scan_nwt_grd",
    "rawgrids3:scan_nwt_grc", "rawgrids3:scan_mff2",
    "rawgrids3:scan_gsc", "rawgrids3:scan_genbin",
    "rawgrids3:scan_nsidcbin", "rawgrids3:scan_noaa_b", "rmf:scan_rmf",
    "rst:scan_rst", "s57:scan_s57", "saga:scan_saga",
    "sidecar:scan_plain_rasters", "srp:scan_srp", "tab:scan_tab",
    "tga:scan_tga", "usgsdem:scan_usgsdem", "vicar:scan_vicar",
    "xlsx:scan_xlsx",
]


@pytest.mark.parametrize("scanner", GLOB_SCANNERS)
def test_no_match_glob_raises_file_not_found(spark, tmp_path, scanner):
    mod, fn = scanner.split(":")
    scan = getattr(importlib.import_module(f"gdal_spark.formats.{mod}"), fn)
    pat = str(tmp_path / "*.nothing")
    with pytest.raises(FileNotFoundError) as ei:
        scan(spark, pat)
    # every scanner names the glob; sidecar keeps its own wording
    assert ei.value.args[0].startswith(pat)
