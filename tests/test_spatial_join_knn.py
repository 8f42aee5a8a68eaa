"""Spatial join + kNN parity vs brute-force oracles (SURVEY.md §5(d))."""

import logging
import re
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark import fixtures, geom
from gdal_spark.grid import EARTH_RADIUS, ORIGIN_SHIFT
from gdal_spark.operators.knn import idw_interpolate, knn_join
from gdal_spark.operators.spatial_join import (
    _wkb_is_rect,
    col_point_cell,
    point_cell_sql,
    point_in_polygon_join,
    polygon_aggregate_join,
    sql_ident,
    with_envelope_cells,
)

N_POINTS = 600
N_FEATURES = 40


@pytest.fixture(scope="module")
def pts(spark):
    df = spark.createDataFrame(
        [fixtures.point_record(i) for i in range(N_POINTS)],
        schema=fixtures.POINT_COLUMNS,
    ).withColumnRenamed("pid", "pid")
    df = df.persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def feats(spark):
    df = fixtures.features_df(spark, N_FEATURES).persist()
    df.count()
    yield df
    df.unpersist()


def brute_force_pairs():
    """O(n*m) reference join."""
    pairs = set()
    recs = [fixtures.feature_record(f) for f in range(N_FEATURES)]
    parsed = [(r["fid"], geom.parse_wkb(r["wkb"])) for r in recs]
    P = [fixtures.point_record(i) for i in range(N_POINTS)]
    px = np.array([p["x"] for p in P])
    py = np.array([p["y"] for p in P])
    for fid, g in parsed:
        inside = geom.points_in_geometry(px, py, g)
        for i in np.nonzero(inside)[0]:
            pairs.add((int(P[i]["pid"]), fid))
    return pairs


class TestPIPJoin:
    def test_broadcast_matches_brute_force(self, spark, pts, feats):
        out = point_in_polygon_join(pts, feats, how="inner").select("pid", "fid").collect()
        got = {(r.pid, r.fid) for r in out}
        assert got == brute_force_pairs()

    def test_cell_join_matches_broadcast(self, spark, pts, feats):
        out = point_in_polygon_join(
            pts, feats, how="inner", cell_zoom=4
        ).select("pid", "fid").collect()
        got = {(r.pid, r.fid) for r in out}
        assert got == brute_force_pairs()

    def test_degenerate_ring_never_matches(self, spark, pts, feats):
        # fid=2 is the <4-point ring (ogr/ogrlinearring.cpp:480-481)
        out = point_in_polygon_join(pts, feats, how="inner").where(F.col("fid") == 2)
        assert out.count() == 0

    def test_hole_semantics(self, spark, feats):
        # a point in fid=1's hole must not match
        rec = fixtures.feature_record(1)
        g = geom.parse_wkb(rec["wkb"])
        hole = g.parts[1]
        hx, hy = float(hole[:, 0].mean()), float(hole[:, 1].mean())
        inside_hole = geom.points_on_surface(
            np.array([hx]), np.array([hy]), [g.parts[1]]
        )[0]
        test_pts = [(0, hx, hy), (1, *_point_inside_not_hole(g))]
        df = spark.createDataFrame(test_pts, "pid long, x double, y double")
        out = point_in_polygon_join(df, feats, how="inner").where(F.col("fid") == 1)
        got = {r.pid for r in out.select("pid").collect()}
        if inside_hole:
            assert 0 not in got
        assert 1 in got

    def test_left_join_first_match(self, spark, pts, feats):
        out = point_in_polygon_join(
            pts, feats, how="left", point_key="pid", first_match_order="fid"
        )
        assert out.count() == N_POINTS  # every point exactly once
        bf = {}
        for pid, fid in sorted(brute_force_pairs()):
            bf.setdefault(pid, fid)  # first (lowest) fid
        got = {r.pid: r.fid for r in out.select("pid", "fid").collect()}
        for pid, fid in bf.items():
            assert got[pid] == fid
        # non-matching points present with null fid
        assert sum(1 for v in got.values() if v is None) == N_POINTS - len(bf)

    def test_semi_and_anti(self, spark, pts, feats):
        semi = point_in_polygon_join(pts, feats, how="left_semi", point_key="pid")
        anti = point_in_polygon_join(pts, feats, how="left_anti", point_key="pid")
        matched = {p for p, _ in brute_force_pairs()}
        assert {r.pid for r in semi.select("pid").collect()} == matched
        assert {r.pid for r in anti.select("pid").collect()} == (
            {p["pid"] for p in [fixtures.point_record(i) for i in range(N_POINTS)]} - matched
        )

    def test_zonal_aggregate(self, spark, pts, feats):
        out = polygon_aggregate_join(
            pts,
            feats,
            aggs=[F.count("*").alias("n"), F.avg("z").alias("mean_z")],
        ).collect()
        bf = {}
        P = {p["pid"]: p for p in [fixtures.point_record(i) for i in range(N_POINTS)]}
        for pid, fid in brute_force_pairs():
            bf.setdefault(fid, []).append(P[pid]["z"])
        for r in out:
            assert r.n == len(bf[r.fid])
            assert abs(r.mean_z - np.mean(bf[r.fid])) < 1e-9

    def test_envelope_cells_cover(self, spark, feats):
        cells = with_envelope_cells(feats, 4).select("fid", "cell").collect()
        # every feature produces >= 1 cell; count matches the numpy oracle
        from gdal_spark.grid import MercatorGrid

        merc = MercatorGrid()
        by_fid = {}
        for r in cells:
            by_fid.setdefault(r.fid, set()).add(r.cell)
        for f in range(N_FEATURES):
            rec = fixtures.feature_record(f)
            tminx, tminy, tmaxx, tmaxy = merc.tile_range(
                rec["minx"], rec["miny"], rec["maxx"], rec["maxy"], 4
            )
            n = (int(tmaxx) - int(tminx) + 1) * (int(tmaxy) - int(tminy) + 1)
            assert len(by_fid[f]) == n


class TestSqlText:
    """The SQL-text cell math and column references match the Column
    forms they stand in for."""

    def test_point_cell_matches_col_point_cell(self, spark):
        rng = np.random.default_rng(5)
        xs = np.r_[rng.uniform(-1.2, 1.2, 200) * ORIGIN_SHIFT, -ORIGIN_SHIFT, ORIGIN_SHIFT, 0.0]
        ys = np.r_[rng.uniform(-1.2, 1.2, 200) * ORIGIN_SHIFT, ORIGIN_SHIFT, -ORIGIN_SHIFT, 0.0]
        df = spark.createDataFrame(
            [(float(x), float(y)) for x, y in zip(xs, ys)] + [(None, 1.0)], "x double, y double"
        )
        for zoom in (0, 4, 9, 15):
            rows = df.select(
                col_point_cell(F.col("x"), F.col("y"), zoom).alias("a"),
                F.expr(point_cell_sql("x", "y", zoom)).alias("b"),
            ).collect()
            assert all(r.a == r.b for r in rows)

    def test_sql_ident(self):
        assert sql_ident("x") == "`x`"
        assert sql_ident("p.x") == "`p`.`x`"
        assert sql_ident("`a.b`") == "`a.b`"

    def test_nested_and_renamed_coordinates(self, spark, pts, feats):
        want = sorted(
            (r.pid, r.fid) for r in point_in_polygon_join(pts, feats).select("pid", "fid").collect()
        )
        nested = pts.select("pid", F.struct(F.col("x").alias("lon"), F.col("y").alias("lat")).alias("p"))
        for kw in ({}, {"cell_zoom": 4}):
            got = point_in_polygon_join(nested, feats, x="p.lon", y="p.lat", **kw)
            assert sorted((r.pid, r.fid) for r in got.select("pid", "fid").collect()) == want


class TestRectFastAccept:
    """The envelope fast-accept fires only for polygons equal to their
    envelope."""

    def test_rectangle(self):
        assert _wkb_is_rect(geom.wkb_rect(0.0, 0.0, 2.0, 1.0))

    def test_bowtie_with_rectangle_vertices(self):
        bowtie = np.array([[0.0, 0.0], [2.0, 1.0], [0.0, 1.0], [2.0, 0.0]])
        assert not _wkb_is_rect(geom.wkb_polygon([bowtie]))

    def test_four_point_ring(self):
        tri = np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 1.0], [0.0, 0.0]])
        assert not _wkb_is_rect(geom.wkb_polygon([tri]))

    def test_holed_square(self):
        outer = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])
        hole = np.array([[1.0, 1.0], [1.0, 3.0], [3.0, 3.0], [3.0, 1.0]])
        assert not _wkb_is_rect(geom.wkb_polygon([outer, hole]))

    def test_spike_missing_a_corner(self):
        # axis-aligned edges over the envelope's x and y values, zero area
        spike = np.array([[0.0, 0.0], [2.0, 0.0], [0.0, 0.0], [0.0, 1.0]])
        assert not _wkb_is_rect(geom.wkb_polygon([spike]))

    def test_unparsable(self):
        assert not _wkb_is_rect(geom.wkb_rect(0.0, 0.0, 2.0, 1.0)[:20])


def _point_inside_not_hole(g):
    """A point inside the exterior ring but outside the hole."""
    outer = g.parts[0]
    hole = g.parts[1]
    # walk from hole centroid toward an outer vertex until outside the hole
    hx, hy = hole[:, 0].mean(), hole[:, 1].mean()
    ox, oy = outer[0]
    for t in np.linspace(0.05, 0.95, 50):
        x = hx + (ox - hx) * t
        y = hy + (oy - hy) * t
        if (
            geom.points_on_surface(np.array([x]), np.array([y]), [outer])[0]
            and not geom.points_in_ring(np.array([x]), np.array([y]), hole)[0]
        ):
            return float(x), float(y)
    raise AssertionError("no interior point found")


class TestKNN:
    def knn_brute(self, k, nq=12):
        P = [fixtures.point_record(i) for i in range(N_POINTS)]
        out = {}
        for q in range(nq):
            qr = fixtures.point_record(10_000 + q)
            d = sorted(
                (np.hypot(p["x"] - qr["x"], p["y"] - qr["y"]), p["pid"]) for p in P
            )
            out[10_000 + q] = [pid for _, pid in d[:k]]
        return out

    @pytest.fixture(scope="class")
    def queries(self, spark):
        df = spark.createDataFrame(
            [fixtures.point_record(10_000 + i) for i in range(12)],
            schema=fixtures.POINT_COLUMNS,
        ).withColumnRenamed("pid", "qid")
        return df

    def test_knn_matches_brute_force(self, spark, pts, queries):
        k = 5
        out = knn_join(queries, pts, k, zoom=3).collect()
        got = {}
        for r in sorted(out, key=lambda r: (r.qid, r.rank)):
            got.setdefault(r.qid, []).append(r.pid)
        assert got == self.knn_brute(k)

    def test_knn_radius_bound(self, spark, pts, queries):
        # radius-bounded kNN (alg/gdalgrid.cpp dfSearchRadius): no neighbor
        # farther than the bound is returned
        out = knn_join(queries, pts, 5, zoom=3, max_search_dist=2e6).collect()
        assert all(r.dist <= 2e6 for r in out)

    def test_idw_matches_numpy(self, spark, pts, queries):
        k = 4
        out = {r.qid: r.idw for r in idw_interpolate(queries, pts, k=k, zoom=3).collect()}
        P = {p["pid"]: p for p in [fixtures.point_record(i) for i in range(N_POINTS)]}
        bf = self.knn_brute(k)
        for qid, pids in bf.items():
            qr = fixtures.point_record(qid)
            d = np.array([np.hypot(P[p]["x"] - qr["x"], P[p]["y"] - qr["y"]) for p in pids])
            v = np.array([P[p]["z"] for p in pids])
            w = d ** -2.0
            expected = (w * v).sum() / w.sum()
            assert abs(out[qid] - expected) < 1e-6, qid


O = ORIGIN_SHIFT


def _knn_oracle(qrows, prows, k, max_search_dist=None, within=None):
    """Full sort per query, ties to the smaller pid, distances with the
    engine's float operations. ``within(qx, qy, px, py)`` restricts the
    points a query may see."""
    pid = np.array([p[0] for p in prows], np.int64)
    px = np.array([p[1] for p in prows], np.float64)
    py = np.array([p[2] for p in prows], np.float64)
    out = []
    for qid, qx, qy in qrows:
        dx, dy = qx - px, qy - py
        d = np.sqrt(dx * dx + dy * dy)
        keep = np.ones(len(d), bool) if max_search_dist is None else d <= max_search_dist
        if within is not None:
            keep &= within(qx, qy, px, py)
        kp, kd = pid[keep], d[keep]
        for rank, i in enumerate(np.lexsort((kp, kd))[:k], start=1):
            out.append((qid, int(kp[i]), float(kd[i]), rank))
    return sorted(out)


def _cell(v, zoom):
    """The engine's planar cell coordinate (clamped to the grid)."""
    res = 2 * np.pi * EARTH_RADIUS / 256 / (2.0**zoom)
    t = np.ceil(((np.asarray(v) + ORIGIN_SHIFT) / res) / 256.0) - 1
    return np.clip(t, 0, (1 << zoom) - 1).astype(np.int64)


def _knn_rows(spark, qrows, prows, k, **kw):
    q = spark.createDataFrame(qrows, "qid long, x double, y double")
    p = spark.createDataFrame(prows, "pid long, x double, y double")
    return sorted(tuple(r) for r in knn_join(q, p, k, **kw).collect())


def _rows(ids, xs, ys):
    return [(int(i), float(x), float(y)) for i, x, y in zip(ids, xs, ys)]


def _rounds(caplog):
    msgs = [r.getMessage() for r in caplog.records if r.name == "gdal_spark.operators.knn"]
    assert len(msgs) == 1, msgs
    return int(re.search(r"(\d+) round", msgs[0]).group(1))


class TestKNNEdges:
    """knn_join against a brute-force oracle where the cell grid bends:
    the antimeridian, the top and bottom rows, clamped edge cells, a hot
    cell, short point sets, bounded search, distance ties."""

    def test_antimeridian(self, spark):
        rng = np.random.default_rng(11)
        n = 60
        xs = np.concatenate([rng.uniform(O - 3e6, O, n), rng.uniform(-O, -O + 3e6, n)])
        pts = _rows(range(2 * n), xs, rng.uniform(-2e6, 2e6, 2 * n))
        qs = _rows(range(4), [O - 1e5, -O + 1e5, O - 2.5e6, -O + 4e6], [0.0, 1e6, -5e5, 0.0])
        got = _knn_rows(spark, qs, pts, 6, zoom=4)
        assert got == _knn_oracle(qs, pts, 6)
        # x wraps for the candidates, but the distance is planar: a query
        # at the east edge only gets east-side neighbours
        assert all(pts[pid][1] > 0 for qid, pid, _d, _r in got if qid == 0)

    def test_top_and_bottom_rows(self, spark):
        rng = np.random.default_rng(12)
        n = 60
        ys = np.concatenate([rng.uniform(O - 3e6, O, n), rng.uniform(-O, -O + 3e6, n)])
        pts = _rows(range(2 * n), rng.uniform(-3e6, 3e6, 2 * n), ys)
        qs = _rows(range(3), [0.0, 1e6, 5e5], [O - 1e5, -O + 1e5, O - 4e6])
        assert _knn_rows(spark, qs, pts, 6, zoom=4) == _knn_oracle(qs, pts, 6)

    @pytest.mark.parametrize("dist", [None, 1.3e7])
    def test_clamped_points_take_the_fallback(self, spark, caplog, dist):
        # five points far east of the Mercator square are clamped into the
        # east edge cells; the histogram counts them next to the queries,
        # so the first ring is too small and the doubling loop must run
        # (bounded: the first rings hold no candidate within ``dist``)
        rng = np.random.default_rng(13)
        outside = _rows(range(5), rng.uniform(4 * O, 5 * O, 5), rng.uniform(-1e6, -1e5, 5))
        inside = _rows(range(5, 13), rng.uniform(O - 1.5e7, O - 1.2e7, 8), rng.uniform(-1e6, 1e6, 8))
        pts = outside + inside
        qs = _rows(range(3), [O - 1e5, 1.5 * O, O - 5e5], [-5e5, -5e5, 5 * O])
        with caplog.at_level(logging.INFO, logger="gdal_spark.operators.knn"):
            got = _knn_rows(spark, qs, pts, 5, zoom=4, max_search_dist=dist)
        assert got == _knn_oracle(qs, pts, 5, max_search_dist=dist)
        assert _rounds(caplog) >= 2

    def test_hot_cell(self, spark):
        rng = np.random.default_rng(14)
        hot = rng.normal(3e6, 2e4, (400, 2))
        cold = rng.uniform(-1.5e7, 1.5e7, (50, 2))
        xy = np.vstack([hot, cold])
        pts = _rows(range(len(xy)), xy[:, 0], xy[:, 1])
        qs = _rows(range(4), [3e6, -1e7, 6e6, 3.05e6], [3e6, -1e7, 0.0, 2.9e6])
        assert _knn_rows(spark, qs, pts, 10, zoom=5) == _knn_oracle(qs, pts, 10)

    def test_k_above_point_count(self, spark):
        rng = np.random.default_rng(15)
        pts = _rows(range(20), rng.uniform(-O, O, 20), rng.uniform(-O, O, 20))
        qs = _rows(range(3), [0.0, O - 1e5, -1e7], [0.0, 0.0, 1e7])
        # every query gets all 20 points, ranked
        assert _knn_rows(spark, qs, pts, 30, zoom=3) == _knn_oracle(qs, pts, 30)

    def test_max_radius_stragglers(self, spark):
        # k above the point count never completes: each query gets the
        # points of the widest ring, the first power of two reached by
        # doubling from 1 (max_radius_cells=3 -> 4 cells, x wrapped)
        rng = np.random.default_rng(16)
        zoom, ring = 5, 4
        n_side = 1 << zoom
        pts = _rows(range(80), rng.uniform(-O, O, 80), rng.uniform(-O, O, 80))
        qs = _rows(range(4), [0.0, O - 1e5, -1e7, 5e6], [0.0, 0.0, 1e7, -O + 1e5])

        def within(qx, qy, px, py):
            dx = np.abs(_cell(px, zoom) - _cell(qx, zoom))
            dy = np.abs(_cell(py, zoom) - _cell(qy, zoom))
            return (np.minimum(dx, n_side - dx) <= ring) & (dy <= ring)

        got = _knn_rows(spark, qs, pts, 100, zoom=zoom, max_radius_cells=3)
        assert got == _knn_oracle(qs, pts, 100, within=within)
        assert len(got) < 4 * 80

    @pytest.mark.parametrize("dist", [1.5e6, 4e6, 1.1e7])
    def test_max_search_dist(self, spark, dist):
        rng = np.random.default_rng(17)
        pts = _rows(range(300), rng.uniform(-1.5e7, 1.5e7, 300), rng.uniform(-1.5e7, 1.5e7, 300))
        qs = _rows(range(8), rng.uniform(-1.5e7, 1.5e7, 8), rng.uniform(-1.5e7, 1.5e7, 8))
        got = _knn_rows(spark, qs, pts, 6, zoom=4, max_search_dist=dist)
        assert got == _knn_oracle(qs, pts, 6, max_search_dist=dist)

    def test_distance_ties_go_to_smaller_pid(self, spark):
        d = 1e6
        xy = [(d, 0.0), (-d, 0.0), (0.0, d), (0.0, -d), (d, 0.0), (2 * d, 0.0)]
        pts = _rows([9, 7, 8, 5, 6, 1], [x for x, _ in xy], [y for _, y in xy])
        qs = _rows([0], [0.0], [0.0])
        got = _knn_rows(spark, qs, pts, 3, zoom=4)
        assert got == _knn_oracle(qs, pts, 3)
        assert [pid for _q, pid, _d, _r in got] == [5, 6, 7]


def test_start_radii_match_a_disk_scan():
    # summed-area table + vectorised binary search vs counting each disk
    import pandas as pd

    from gdal_spark.operators.knn import _start_radii

    rng = np.random.default_rng(18)
    for _ in range(60):
        hz, shift = int(rng.integers(0, 5)), int(rng.integers(0, 3))
        n_h, k, cap = 1 << hz, int(rng.integers(0, 40)), int(2 ** rng.integers(0, 7))
        cells = {}
        for _ in range(int(rng.integers(0, n_h * n_h + 1))):
            c = (int(rng.integers(0, n_h)), int(rng.integers(0, n_h)))
            cells.setdefault(c, [0, 0])[0] += int(rng.integers(1, 6))
        for _ in range(int(rng.integers(0, 6))):
            c = (int(rng.integers(0, n_h)), int(rng.integers(0, n_h)))
            cells.setdefault(c, [0, 0])[1] += 1
        df = pd.DataFrame(
            [(x, y, n, m) for (x, y), (n, m) in cells.items()],
            columns=["_hx", "_hy", "_npts", "_nqry"],
        ).astype("int64")
        want = []
        for (qx, qy), (_n, m) in cells.items():
            if not m:
                continue
            hits = [
                r for r in range(n_h)
                if sum(n for (x, y), (n, _m) in cells.items()
                       if abs(x - qx) <= r and abs(y - qy) <= r) >= k
            ]
            ring = int(np.floor(np.sqrt(2.0) * (hits[0] + 1) * (1 << shift))) + 1 if hits else cap
            want.append(min(ring, cap))
        assert _start_radii(df, k, hz, shift, cap).tolist() == want


class TestKNNPlan:
    def test_no_trivially_true_join_condition(self, spark, pts, monkeypatch):
        # Spark's self-join auto-resolution rewrites `a["k"] == b["k"]` when
        # both sides resolve to one attribute; switched off, such a join
        # keeps the trivially true condition in its analysed plan
        queries = spark.createDataFrame(
            [fixtures.point_record(10_000 + i) for i in range(12)],
            schema=fixtures.POINT_COLUMNS,
        ).withColumnRenamed("pid", "qid")
        joins = []
        cls = type(pts)
        join = cls.join

        def recording_join(self, other, on=None, how=None):
            out = join(self, other, on, how)
            joins.append(out)
            return out

        monkeypatch.setattr(cls, "join", recording_join)
        key = "spark.sql.selfJoinAutoResolveAmbiguity"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            out = knn_join(queries, pts, 5, zoom=3)
            out.collect()
            plans = [df._jdf.queryExecution().analyzed().toString() for df in joins + [out]]
        finally:
            spark.conf.set(key, prev)
        assert len(joins) >= 2
        self_compare = re.compile(r"\b(\w+#\d+L?)\s*(?:=|<=>)\s*\1\b")
        for plan in plans:
            for line in plan.splitlines():
                if "Join " in line:
                    assert not self_compare.search(line), line

    def test_job_descriptions_and_log(self, spark, pts, caplog):
        queries = spark.createDataFrame(
            [fixtures.point_record(10_000 + i) for i in range(12)],
            schema=fixtures.POINT_COLUMNS,
        ).withColumnRenamed("pid", "qid")
        sc = spark.sparkContext
        sc.setJobGroup("knn-descriptions", "caller")
        try:
            with caplog.at_level(logging.INFO, logger="gdal_spark.operators.knn"):
                out = knn_join(queries, pts, 5, zoom=3)
            # the caller's description is back for the caller's own jobs
            assert sc.getLocalProperty("spark.job.description") == "caller"
            out.collect()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(prop, None)
        assert _rounds(caplog) >= 1
        want = {"knn_join: histogram", "knn_join: round 1", "caller"}
        store = sc._jsc.sc().statusStore()
        deadline = time.monotonic() + 10
        while True:
            got = set()
            for jid in sc.statusTracker().getJobIdsForGroup("knn-descriptions"):
                d = store.job(jid).description()
                got.add(d.get() if d.isDefined() else None)
            if want <= got or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        assert want <= got


class TestGridFamily:
    """GDALGrid radius algorithms (alg/gdalgrid.cpp): moving average,
    nearest, data metrics — vs brute-force oracles."""

    @pytest.fixture(scope="class")
    def pts(self, spark):
        import numpy as np

        rng = np.random.default_rng(3)
        rows = [
            (i, float(x), float(y), float(z))
            for i, (x, y, z) in enumerate(
                zip(
                    rng.uniform(-1e7, 1e7, 300),
                    rng.uniform(-1e7, 1e7, 300),
                    rng.uniform(0, 100, 300),
                )
            )
        ]
        return rows, spark.createDataFrame(rows, "pid long, x double, y double, z double")

    def test_moving_average_matches_brute(self, spark, pts):
        import numpy as np

        from gdal_spark.operators.knn import grid_moving_average

        rows, df = pts
        queries = spark.createDataFrame(
            [(0, 0.0, 0.0), (1, 5e6, -5e6)], "qid long, x double, y double"
        )
        out = {r.qid: (r.avg_z, r.n) for r in grid_moving_average(
            queries, df, radius=4e6, zoom=3
        ).collect()}
        for qid, (qx, qy) in ((0, (0.0, 0.0)), (1, (5e6, -5e6))):
            sel = [z for _i, x, y, z in rows if np.hypot(x - qx, y - qy) <= 4e6]
            assert out[qid][1] == len(sel)
            assert out[qid][0] == pytest.approx(np.mean(sel))

    def test_nearest_matches_brute(self, spark, pts):
        import numpy as np

        from gdal_spark.operators.knn import grid_nearest

        rows, df = pts
        queries = spark.createDataFrame([(0, 1e6, 1e6)], "qid long, x double, y double")
        r = grid_nearest(queries, df).collect()[0]
        d = [(np.hypot(x - 1e6, y - 1e6), z) for _i, x, y, z in rows]
        d.sort()
        assert r.nearest_z == pytest.approx(d[0][1])

    def test_data_metrics_matches_brute(self, spark, pts):
        import numpy as np

        from gdal_spark.operators.knn import grid_data_metrics

        rows, df = pts
        queries = spark.createDataFrame([(0, -2e6, 3e6)], "qid long, x double, y double")
        r = grid_data_metrics(queries, df, radius=5e6, zoom=3).collect()[0]
        sel = [(z, np.hypot(x + 2e6, y - 3e6)) for _i, x, y, z in rows
               if np.hypot(x + 2e6, y - 3e6) <= 5e6]
        zs = [z for z, _d in sel]
        assert r.n == len(sel)
        assert r.min_z == pytest.approx(min(zs))
        assert r.max_z == pytest.approx(max(zs))
        assert r.avg_dist == pytest.approx(np.mean([d for _z, d in sel]))
