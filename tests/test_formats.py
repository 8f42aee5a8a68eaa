"""Shapefile + GeoPackage drivers: write -> distributed scan round-trips.

Geometry parity is asserted on parsed coordinates / areas, not raw WKB
bytes, because the shapefile spec mandates its own ring winding (outer CW,
holes CCW) — a legitimate re-orientation the reader must undo semantically,
not byte-wise."""

import os

import numpy as np
import pytest

from gdal_spark import geom
from gdal_spark.formats import (
    scan_geopackage,
    scan_shapefile,
    write_geopackage,
    write_shapefile,
)

pytestmark = pytest.mark.usefixtures("spark")


def _poly_area(wkb):
    g = geom.parse_wkb(bytes(wkb))
    total = 0.0
    for rings in g.polygons():
        for j, r in enumerate(rings):
            a = 0.5 * float(np.sum(r[:-1, 0] * r[1:, 1] - r[1:, 0] * r[:-1, 1]))
            total += abs(a) if j == 0 else -abs(a)
    return total


def _mixed_df(spark):
    rows = [
        (0, geom.wkb_point(2.5, -7.25), "alpha", 10, 1.25, True),
        (1, geom.wkb_linestring([[0, 0], [3, 4], [10, 4]]), "beta", -3, -0.5, False),
        (
            2,
            geom.wkb_polygon(
                [
                    np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float),
                    np.array([[4, 4], [6, 4], [6, 6], [4, 6]], float),
                ]
            ),
            None,
            None,
            None,
            None,
        ),
        (
            3,
            geom.wkb_multipolygon(
                [
                    [np.array([[0, 0], [2, 0], [2, 2], [0, 2]], float)],
                    [np.array([[5, 5], [9, 5], [9, 9], [5, 9]], float)],
                ]
            ),
            "delta",
            7,
            2.0,
            None,
        ),
        (4, None, "nullgeom", 1, 0.0, True),
    ]
    return spark.createDataFrame(
        rows, "id bigint, geometry binary, name string, n bigint, x double, flag boolean"
    )


class TestShapefile:
    def test_point_line_roundtrip(self, spark, tmp_path):
        df = _mixed_df(spark).where("id in (0, 1)")
        path = str(tmp_path / "pl.shp")
        # shapefile holds ONE shape type per file; write each separately
        write_shapefile(df.where("id = 0"), str(tmp_path / "pt.shp"))
        write_shapefile(df.where("id = 1"), str(tmp_path / "ln.shp"))
        pt = scan_shapefile(spark, str(tmp_path / "pt.shp")).collect()[0]
        assert geom.parse_wkb(bytes(pt.geometry)).parts.ravel().tolist() == [2.5, -7.25]
        assert (pt.name, pt.n, pt.x, pt.flag) == ("alpha", 10, 1.25, True)
        ln = scan_shapefile(spark, str(tmp_path / "ln.shp")).collect()[0]
        g = geom.parse_wkb(bytes(ln.geometry))
        assert g.kind == geom.WKB_LINESTRING
        np.testing.assert_array_equal(g.parts[0], [[0, 0], [3, 4], [10, 4]])
        assert (ln.name, ln.n, ln.x, ln.flag) == ("beta", -3, -0.5, False)
        del path

    def test_polygon_hole_and_multi(self, spark, tmp_path):
        df = _mixed_df(spark).where("id in (2, 3)")
        write_shapefile(df, str(tmp_path / "poly.shp"))
        out = {
            r.id: r for r in scan_shapefile(spark, str(tmp_path / "poly.shp")).collect()
        }
        # polygon with hole: area 100 - 4 = 96; multipolygon: 4 + 16 = 20
        assert _poly_area(out[2].geometry) == pytest.approx(96.0)
        assert _poly_area(out[3].geometry) == pytest.approx(20.0)
        g3 = geom.parse_wkb(bytes(out[3].geometry))
        assert g3.kind == geom.WKB_MULTIPOLYGON and len(g3.parts) == 2
        # nulls survive the DBF round-trip as nulls
        assert out[2].name is None and out[2].n is None and out[2].x is None

    def test_null_shape(self, spark, tmp_path):
        write_shapefile(_mixed_df(spark).where("id = 4"), str(tmp_path / "n.shp"))
        row = scan_shapefile(spark, str(tmp_path / "n.shp")).collect()[0]
        assert row.geometry is None and row.name == "nullgeom"

    def test_distributed_scan_matches_single(self, spark, tmp_path):
        pts = spark.range(137).selectExpr(
            "id",
            "cast(null as binary) as geometry",
            "concat('r', id) as name",
            "id * 3 as n",
            "id * 0.25 as x",
            "id % 2 = 0 as flag",
        )
        # give every row a point geometry via the builder
        rows = [
            (i, geom.wkb_point(i * 1.5, -i * 0.5), f"r{i}", i * 3, i * 0.25, i % 2 == 0)
            for i in range(137)
        ]
        df = spark.createDataFrame(
            rows,
            "id bigint, geometry binary, name string, n bigint, x double, flag boolean",
        )
        write_shapefile(df, str(tmp_path / "many.shp"))
        one = scan_shapefile(spark, str(tmp_path / "many.shp"), 1)
        eight = scan_shapefile(spark, str(tmp_path / "many.shp"), 8)
        assert eight.rdd.getNumPartitions() == 8
        a = sorted(one.collect(), key=lambda r: r.fid)
        b = sorted(eight.collect(), key=lambda r: r.fid)
        assert len(a) == len(b) == 137
        for ra, rb in zip(a, b):
            assert ra == rb
        # attribute values exact: N 24.15 fixed-point round-trips k*0.25
        assert [r.x for r in a] == [i * 0.25 for i in range(137)]
        assert [r.n for r in a] == [i * 3 for i in range(137)]
        del pts

    def test_winding_normalized_on_write(self, spark, tmp_path):
        # CCW outer ring in WKB must become CW on disk and read back with
        # positive area and correct hole containment
        ccw = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
        cw_hole = np.array([[4, 6], [6, 6], [6, 4], [4, 4]], float)
        df = spark.createDataFrame(
            [(0, geom.wkb_polygon([ccw, cw_hole]))], "id bigint, geometry binary"
        )
        write_shapefile(df, str(tmp_path / "w.shp"))
        row = scan_shapefile(spark, str(tmp_path / "w.shp")).collect()[0]
        assert _poly_area(row.geometry) == pytest.approx(96.0)
        g = geom.parse_wkb(bytes(row.geometry))
        assert len(g.parts) == 2  # exterior + hole reassembled


class TestGeoPackage:
    def test_roundtrip_mixed(self, spark, tmp_path):
        df = _mixed_df(spark)
        path = str(tmp_path / "t.gpkg")
        write_geopackage(df, path, "features", srid=3857)
        out = {r.id: r for r in scan_geopackage(spark, path, "features").collect()}
        assert len(out) == 5
        assert geom.parse_wkb(bytes(out[0].geometry)).parts.ravel().tolist() == [
            2.5,
            -7.25,
        ]
        assert _poly_area(out[2].geometry) == pytest.approx(96.0)
        assert _poly_area(out[3].geometry) == pytest.approx(20.0)
        assert out[4].geometry is None and out[4].name == "nullgeom"
        assert out[2].name is None and out[2].n is None
        # doubles are stored as sqlite REAL -> bit-exact round-trip
        assert out[0].x == 1.25 and out[1].x == -0.5
        assert out[0].flag is True and out[1].flag is False

    def test_distributed_scan_partitions(self, spark, tmp_path):
        rows = [
            (i, geom.wkb_point(i * 1.0, -i * 2.0), f"r{i}", i * 7, i * 0.125, None)
            for i in range(200)
        ]
        df = spark.createDataFrame(
            rows,
            "id bigint, geometry binary, name string, n bigint, x double, flag boolean",
        )
        path = str(tmp_path / "big.gpkg")
        write_geopackage(df, path, "pts", srid=4326)
        one = scan_geopackage(spark, path, "pts", num_partitions=1)
        six = scan_geopackage(spark, path, "pts", num_partitions=6)
        assert six.rdd.getNumPartitions() == 6
        a = sorted(one.collect(), key=lambda r: r.fid)
        b = sorted(six.collect(), key=lambda r: r.fid)
        assert a == b and len(a) == 200
        assert [r.x for r in a] == [i * 0.125 for i in range(200)]

    def test_gpkg_metadata_tables(self, spark, tmp_path):
        import sqlite3

        path = str(tmp_path / "m.gpkg")
        write_geopackage(_mixed_df(spark), path, "layer1", srid=3857)
        con = sqlite3.connect(path)
        try:
            (app_id,) = con.execute("PRAGMA application_id").fetchone()
            assert app_id == 0x47504B47  # 'GPKG'
            rows = con.execute(
                "SELECT table_name, data_type FROM gpkg_contents"
            ).fetchall()
            assert rows == [("layer1", "features")]
            gc = con.execute(
                "SELECT table_name, column_name, srs_id FROM gpkg_geometry_columns"
            ).fetchall()
            assert gc == [("layer1", "geometry", 3857)]
            srs = dict(
                con.execute(
                    "SELECT srs_id, organization FROM gpkg_spatial_ref_sys"
                ).fetchall()
            )
            assert srs[3857] == "EPSG"
        finally:
            con.close()


class TestGeoJSON:
    def test_seq_distributed_roundtrip(self, spark, tmp_path):
        rows = [
            (i, geom.wkb_point(i * 0.5, -i * 0.25), f"f{i}", i * 11, i * 0.125)
            for i in range(300)
        ]
        df = spark.createDataFrame(
            rows, "id bigint, geometry binary, name string, n bigint, x double"
        ).repartition(5)
        from gdal_spark.formats import scan_geojson_seq, write_geojson_seq

        out_dir = str(tmp_path / "seq")
        write_geojson_seq(df, out_dir)
        import glob

        parts = glob.glob(out_dir + "/part-*")
        assert len(parts) == 5  # distributed sink: one part per partition
        back = scan_geojson_seq(spark, out_dir + "/part-*")
        got = sorted(back.collect(), key=lambda r: r.id)
        assert len(got) == 300
        assert [r.x for r in got] == [i * 0.125 for i in range(300)]
        g = geom.parse_wkb(bytes(got[7].geometry))
        assert g.parts.ravel().tolist() == [3.5, -1.75]

    def test_seq_rs_markers_and_nulls(self, spark, tmp_path):
        p = tmp_path / "rs.geojsonl"
        lines = [
            '\x1e{"type":"Feature","geometry":{"type":"Point","coordinates":[1.5,2.5]},"properties":{"a":1,"b":null}}',
            '\x1e{"type":"Feature","geometry":null,"properties":{"a":null,"b":"x"}}',
        ]
        p.write_text("\n".join(lines))
        from gdal_spark.formats import scan_geojson_seq

        rows = sorted(
            scan_geojson_seq(spark, str(p)).collect(),
            key=lambda r: (r.a is None, r.a),
        )
        assert rows[0].a == 1 and rows[0].b is None
        assert rows[1].a is None and rows[1].b == "x" and rows[1].geometry is None

    def test_collection_files(self, spark, tmp_path):
        import json as J

        for i in range(3):
            fc = {
                "type": "FeatureCollection",
                "features": [
                    {
                        "type": "Feature",
                        "geometry": {
                            "type": "Polygon",
                            "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]],
                        },
                        "properties": {"file": i, "j": j},
                    }
                    for j in range(4)
                ],
            }
            (tmp_path / f"c{i}.geojson").write_text(J.dumps(fc))
        from gdal_spark.formats import scan_geojson

        df = scan_geojson(spark, str(tmp_path / "*.geojson"))
        assert df.count() == 12
        rows = df.collect()
        assert {(r.file, r.j) for r in rows} == {(i, j) for i in range(3) for j in range(4)}
        assert _poly_area(rows[0].geometry) == 16.0

    def test_schema_widening(self, spark, tmp_path):
        p = tmp_path / "w.geojsonl"
        p.write_text(
            '{"type":"Feature","geometry":null,"properties":{"v":1}}\n'
            '{"type":"Feature","geometry":null,"properties":{"v":2.5}}\n'
        )
        from gdal_spark.formats import scan_geojson_seq

        df = scan_geojson_seq(spark, str(p))
        assert dict(df.dtypes)["v"] == "double"
        assert sorted(r.v for r in df.collect()) == [1.0, 2.5]


class TestCSVVector:
    def test_wkt_roundtrip_distributed(self, spark, tmp_path):
        rows = [
            (i, geom.wkb_point(i * 0.25, -i * 0.5), f"n{i}", i * 3)
            for i in range(200)
        ]
        df = spark.createDataFrame(
            rows, "id bigint, geometry binary, name string, v bigint"
        ).repartition(4)
        from gdal_spark.formats import scan_csv_vector, write_csv_vector

        out = str(tmp_path / "pts")
        write_csv_vector(df, out)
        import glob

        assert len(glob.glob(out + "/part-*")) == 4  # distributed sink
        back = scan_csv_vector(spark, out + "/part-*")
        assert set(back.columns) == {"geometry", "id", "name", "v"}
        got = sorted(back.collect(), key=lambda r: r.id)
        assert len(got) == 200
        g = geom.parse_wkb(bytes(got[9].geometry))
        assert g.parts.ravel().tolist() == [2.25, -4.5]
        assert got[9].name == "n9" and got[9].v == 27

    def test_xy_detection_and_aliases(self, spark, tmp_path):
        p = tmp_path / "ll.csv"
        p.write_text("name,lon,lat\na,10.5,-3.25\nb,,4.0\n")
        from gdal_spark.formats import scan_csv_vector

        rows = {
            r.name: r for r in scan_csv_vector(spark, str(p)).collect()
        }
        g = geom.parse_wkb(bytes(rows["a"].geometry))
        assert g.parts.ravel().tolist() == [10.5, -3.25]
        assert rows["b"].geometry is None  # missing coordinate -> null geom
        assert "lon" not in rows["a"].asDict()  # consumed like OGR does

    def test_xy_write_format(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, geom.wkb_point(7.5, 8.25))], "id bigint, geometry binary"
        )
        from gdal_spark.formats import scan_csv_vector, write_csv_vector

        out = str(tmp_path / "xy")
        write_csv_vector(df, out, geometry_format="xy")
        back = scan_csv_vector(spark, out + "/part-*")
        r = back.collect()[0]
        g = geom.parse_wkb(bytes(r.geometry))
        assert g.parts.ravel().tolist() == [7.5, 8.25]

    def test_attribute_only_layer(self, spark, tmp_path):
        p = tmp_path / "plain.csv"
        p.write_text("a,b\n1,x\n2,y\n")
        from gdal_spark.formats import scan_csv_vector

        df = scan_csv_vector(spark, str(p))
        assert "geometry" not in df.columns  # OGR attribute-only layer
        assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y")]

    def test_polygon_wkt_and_explicit_args(self, spark, tmp_path):
        p = tmp_path / "poly.csv"
        p.write_text(
            'id,shape\n1,"POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"\n'
        )
        from gdal_spark.formats import scan_csv_vector

        df = scan_csv_vector(spark, str(p), wkt="shape")
        assert _poly_area(df.collect()[0].geometry) == 16.0
        import pytest as _pt

        with _pt.raises(ValueError):
            scan_csv_vector(spark, str(p), wkt="nope")


class TestFlatGeobuf:
    """Reader pinned against REAL reference-driver files (tests/data/*.fgb,
    GDAL autotest assets — see tests/data/README.md); writer validated by
    round-trip through that conformance-pinned reader."""

    DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

    def test_poly_conformance_with_index(self, spark):
        from gdal_spark.formats import read_fgb_header, scan_flatgeobuf

        h = read_fgb_header(f"{self.DATA}/poly.fgb")
        assert h["features_count"] == 10 and h["srid"] == 27700
        assert h["index_node_size"] == 16
        # autotest test_ogr_flatgeobuf_2 GetExtent expectation
        assert h["envelope"] == [478315.53125, 4762880.5, 481645.3125, 4765610.5]
        df = scan_flatgeobuf(spark, f"{self.DATA}/poly.fgb", num_partitions=3)
        rows = df.collect()
        assert len(rows) == 10
        assert sorted(r.EAS_ID for r in rows) == [
            158, 165, 166, 168, 169, 170, 171, 172, 173, 179,
        ]
        env = [np.inf, np.inf, -np.inf, -np.inf]
        for r in rows:
            e = geom.parse_wkb(bytes(r.geometry)).envelope()
            env = [min(env[0], e[0]), min(env[1], e[1]),
                   max(env[2], e[2]), max(env[3], e[3])]
        assert env == h["envelope"]

    def test_no_index_walk_matches_indexed(self, spark):
        from gdal_spark.formats import scan_flatgeobuf

        a = scan_flatgeobuf(spark, f"{self.DATA}/poly.fgb", num_partitions=4)
        b = scan_flatgeobuf(
            spark, f"{self.DATA}/poly_no_index.fgb", num_partitions=2
        )
        ka = sorted((r.EAS_ID, round(r.AREA, 6), r.PRFEDEA) for r in a.collect())
        kb = sorted((r.EAS_ID, round(r.AREA, 6), r.PRFEDEA) for r in b.collect())
        assert ka == kb

    def test_alldatatypes_conformance(self, spark):
        from gdal_spark.formats import scan_flatgeobuf

        r = scan_flatgeobuf(spark, f"{self.DATA}/alldatatypes.fgb").collect()[0]
        # autotest test_ogr_flatgeobuf_alldatatypes expected values
        assert r.byte == -1 and r.ubyte == 255 and r.bool is True
        assert r.short == -1 and r.ushort == 65535
        assert r.int == -1 and r.uint == 4294967295
        assert r.long == -1 and r.ulong == float(2**64 - 1)
        assert r.float == 0 and r.double == 0
        assert r.string == "X" and r.json == "X"
        assert bytes(r.binary) == b"\x58"
        g = geom.parse_wkb(bytes(r.geometry))
        assert g.kind == geom.WKB_POINT

    def test_write_roundtrip_distributed(self, spark, tmp_path):
        from gdal_spark.formats import (
            read_fgb_header,
            scan_flatgeobuf,
            write_flatgeobuf,
        )

        rows = []
        for i in range(120):
            if i % 3 == 0:
                g = geom.wkb_point(i * 0.5, -i * 0.25)
            elif i % 3 == 1:
                g = geom.wkb_polygon(
                    [np.array([[i, 0], [i + 2, 0], [i + 2, 2], [i, 2]], float),
                     np.array([[i + 0.5, 0.5], [i + 1, 0.5], [i + 1, 1],
                               [i + 0.5, 1]], float)]
                )
            else:
                g = geom.wkb_multipolygon(
                    [[np.array([[i, 5], [i + 1, 5], [i + 1, 6], [i, 6]], float)],
                     [np.array([[i, 8], [i + 1, 8], [i + 1, 9], [i, 9]], float)]]
                )
            rows.append((i, g, f"n{i}" if i % 5 else None, i * 0.125, i % 2 == 0))
        df = spark.createDataFrame(
            rows, "id bigint, geometry binary, name string, v double, flag boolean"
        ).repartition(4)
        p = str(tmp_path / "mix.fgb")
        n = write_flatgeobuf(df, p, name="mix", srid=3857)
        assert n == 120
        h = read_fgb_header(p)
        assert h["features_count"] == 120 and h["srid"] == 3857
        assert h["geometry_type"] == 0  # mixed -> Unknown
        assert h["index_node_size"] == 0
        back = scan_flatgeobuf(spark, p, num_partitions=5)
        got = {r.id: r for r in back.collect()}
        assert len(got) == 120
        for i in (0, 1, 2, 5, 119):
            r = got[i]
            assert r.v == i * 0.125 and r.flag == (i % 2 == 0)
            assert r.name == (f"n{i}" if i % 5 else None)
            g = geom.parse_wkb(bytes(r.geometry))
            assert g.kind == (
                geom.WKB_POINT, geom.WKB_POLYGON, geom.WKB_MULTIPOLYGON
            )[i % 3]
        # polygon hole survives: area = 4 - 0.25
        assert abs(_poly_area(got[1].geometry) - 3.75) < 1e-12

    def test_write_uniform_type_and_envelope(self, spark, tmp_path):
        from gdal_spark.formats import read_fgb_header, write_flatgeobuf

        df = spark.createDataFrame(
            [(1, geom.wkb_point(3.0, 4.0)), (2, geom.wkb_point(-1.0, 7.5))],
            "id bigint, geometry binary",
        )
        p = str(tmp_path / "pts.fgb")
        write_flatgeobuf(df, p, name="pts")
        h = read_fgb_header(p)
        assert h["geometry_type"] == 1  # uniform Point
        assert h["envelope"] == [-1.0, 4.0, 3.0, 7.5]
        assert h["name"] == "pts"

    def test_write_with_hilbert_index(self, spark, tmp_path):
        """Indexed sink: header advertises the node size, the scan plans
        from the index leaves (no prefix walk), contents identical to the
        unindexed write, and the tree's internal bboxes contain their
        children (the property GDAL's streamSearch relies on)."""
        import struct as S

        from gdal_spark.formats import read_fgb_header, scan_flatgeobuf, write_flatgeobuf
        from gdal_spark.formats.flatgeobuf import _index_size

        rows = [
            (i, geom.wkb_point((i * 37) % 100 * 1.0, (i * 53) % 100 * 1.0),
             i * 0.5)
            for i in range(100)
        ]
        df = spark.createDataFrame(rows, "id bigint, geometry binary, v double")
        p = str(tmp_path / "idx.fgb")
        write_flatgeobuf(df, p, name="idx", index_node_size=16)
        h = read_fgb_header(p)
        assert h["index_node_size"] == 16 and h["features_count"] == 100
        isize = _index_size(100, 16)
        assert h["features_offset"] - h["index_offset"] == isize
        back = {r.id: r.v for r in scan_flatgeobuf(spark, p, num_partitions=4).collect()}
        assert back == {i: i * 0.5 for i in range(100)}
        # structural: every internal node bbox contains all its children
        with open(p, "rb") as f:
            f.seek(h["index_offset"])
            raw = f.read(isize)
        nodes = [S.unpack_from("<ddddQ", raw, 40 * i) for i in range(isize // 40)]
        n_leaf = 100
        n_internal = len(nodes) - n_leaf
        for k in range(n_internal):
            nd = nodes[k]
            first = int(nd[4])
            assert first > k
            for c in nodes[first:min(first + 16, len(nodes))]:
                assert (nd[0] <= c[0] and nd[1] <= c[1]
                        and nd[2] >= c[2] and nd[3] >= c[3])
        # leaf offsets strictly increasing and consistent with a prefix walk
        leaf_offs = [int(nd[4]) for nd in nodes[n_internal:]]
        assert leaf_offs == sorted(leaf_offs)
        import os as _os
        end = _os.path.getsize(p) - h["features_offset"]
        pos, walked = 0, []
        with open(p, "rb") as f:
            while pos + 4 <= end:
                walked.append(pos)
                f.seek(h["features_offset"] + pos)
                sz = S.unpack("<I", f.read(4))[0]
                pos += 4 + sz
        assert walked == leaf_offs

    def test_empty_geometry_and_index_null_guard(self, spark, tmp_path):
        """Review findings: an FGB Geometry table with no xy vector reads
        back as NULL geometry (not a crash); the indexed sink refuses
        null geometries like the reference driver does."""
        import struct as S

        from gdal_spark.formats import scan_flatgeobuf, write_flatgeobuf
        from gdal_spark.formats.flatgeobuf import (
            MAGIC, _Builder, _F_GEOMETRY, _G_TYPE, _build_header,
        )

        # hand-craft a file whose single feature is POINT EMPTY
        fb = _Builder()
        g = fb.table([(_G_TYPE, "u8", 1)])  # Point, no xy
        root = fb.table([(_F_GEOMETRY, "off", g)])
        feat = fb.finish_size_prefixed(root)
        hdr = _build_header("empty", 1, [], 1, 0, None)
        p = tmp_path / "empty.fgb"
        p.write_bytes(MAGIC + hdr + feat)
        rows = scan_flatgeobuf(spark, str(p)).collect()
        assert len(rows) == 1 and rows[0].geometry is None

        df = spark.createDataFrame(
            [(1, None)], "id bigint, geometry binary"
        )
        import pytest as _pt

        with _pt.raises(ValueError, match="NULL geometry"):
            write_flatgeobuf(df, str(tmp_path / "x.fgb"), index_node_size=16)
        # without an index the null row is fine
        write_flatgeobuf(df, str(tmp_path / "ok.fgb"))
        back = scan_flatgeobuf(spark, str(tmp_path / "ok.fgb")).collect()
        assert back[0].geometry is None and back[0].id == 1


def test_csv_bad_wkt_degrades_to_null(spark, tmp_path):
    """A column merely NAMED geometry holding free text must not kill the
    scan (OGR CSV warns + nulls; review finding)."""
    p = tmp_path / "freetext.csv"
    p.write_text('name,geometry\nfoo,quite nice area\nbar,"POINT (1 2)"\n')
    from gdal_spark import geom
    from gdal_spark.formats import scan_csv_vector

    rows = {r.name: r for r in scan_csv_vector(spark, str(p)).collect()}
    assert rows["foo"].geometry is None
    g = geom.parse_wkb(bytes(rows["bar"].geometry))
    assert g.parts.ravel().tolist() == [1.0, 2.0]


def test_fgb_scan_fanout_at_scale(spark, tmp_path):
    """50k features through the indexed FlatGeobuf sink, re-read at 16
    planned ranges: the scan must actually fan out (16 non-empty
    partitions of near-equal size) and reproduce every row — the
    driver-plans / executors-read contract at a non-toy size."""
    from gdal_spark.formats import scan_flatgeobuf, write_flatgeobuf

    n = 50_000
    rows = [
        (i, geom.wkb_point((i * 37) % 4096 * 10.0, (i * 53) % 4096 * 10.0))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id bigint, geometry binary")
    p = str(tmp_path / "big.fgb")
    write_flatgeobuf(df, p, name="big", index_node_size=16)
    back = scan_flatgeobuf(spark, p, num_partitions=16)
    sizes = back.rdd.glom().map(len).collect()
    assert len(sizes) == 16 and min(sizes) > 0
    assert max(sizes) <= 2 * (n // 16)  # near-balanced ranges
    assert back.count() == n
    ids = back.agg({"id": "sum"}).collect()[0][0]
    assert ids == n * (n - 1) // 2


def test_fgb_bbox_search_prunes_and_is_exact(spark, tmp_path):
    """bbox scan over an indexed file: results equal brute-force envelope
    filtering, the driver search touches only matching subtrees, and the
    planned spans shrink to the candidate neighborhood."""
    from gdal_spark.formats import scan_flatgeobuf, write_flatgeobuf

    n = 5000
    rows = [
        (i, geom.wkb_point((i * 37) % 1000 * 1.0, (i * 53) % 1000 * 1.0))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id bigint, geometry binary")
    p = str(tmp_path / "q.fgb")
    write_flatgeobuf(df, p, name="q", index_node_size=16)
    box = (100.0, 200.0, 180.0, 300.0)
    got = sorted(
        r.id for r in scan_flatgeobuf(spark, p, num_partitions=4, bbox=box).collect()
    )
    expect = sorted(
        i for i in range(n)
        if 100.0 <= (i * 37) % 1000 <= 180.0 and 200.0 <= (i * 53) % 1000 <= 300.0
    )
    assert got == expect and len(got) > 0
    # empty query box -> empty frame with the full schema
    empty = scan_flatgeobuf(spark, p, bbox=(5000.0, 5000.0, 6000.0, 6000.0))
    assert empty.count() == 0 and empty.columns == ["geometry", "id"]
    # un-indexed file: bbox degrades to the exact filter over the walk
    p2 = str(tmp_path / "q2.fgb")
    write_flatgeobuf(df, p2, name="q2")
    got2 = sorted(
        r.id for r in scan_flatgeobuf(spark, p2, bbox=box).collect()
    )
    assert got2 == expect


def test_stream_geojson_seq_incremental(spark, tmp_path):
    """Vector features arriving as ndjson files run through Structured
    Streaming: two availableNow passes pick up exactly the new files."""
    import json as J

    from gdal_spark.formats import stream_geojson_seq

    src = tmp_path / "in"
    src.mkdir()
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"

    def feature(i):
        return J.dumps({
            "type": "Feature",
            "geometry": {"type": "Point", "coordinates": [i * 1.0, -i * 1.0]},
            "properties": {"fid": i},
        })

    (src / "a.geojsonl").write_text("\n".join(feature(i) for i in range(5)))
    stream = stream_geojson_seq(
        spark, str(src), schema_from=str(src / "a.geojsonl")
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.fid for r in spark.read.parquet(str(out)).collect()) == list(range(5))
    # late-arriving file: the next incremental run ingests ONLY it
    (src / "b.geojsonl").write_text("\n".join(feature(i) for i in range(5, 8)))
    stream2 = stream_geojson_seq(
        spark, str(src), schema_from=str(src / "a.geojsonl")
    )
    q2 = (
        stream2.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    rows = spark.read.parquet(str(out)).collect()
    assert sorted(r.fid for r in rows) == list(range(8))
    g = geom.parse_wkb(bytes([r for r in rows if r.fid == 6][0].geometry))
    assert g.parts.ravel().tolist() == [6.0, -6.0]
