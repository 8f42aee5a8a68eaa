"""Dissolve (ST_Union aggregate by key) — independent brute-force
oracles: exact axis-aligned union area via coordinate compression, part
counts via overlap-graph union-find, hole formation, and a key heavy
enough to fold partial unions."""

import numpy as np
import pytest

from gdal_spark import geom as G
from gdal_spark.operators.dissolve import dissolve


def _rects_df(spark, rows):
    """rows: (key, minx, miny, maxx, maxy) -> layer DataFrame."""
    data = [
        (k, bytearray(G.wkb_rect(a, b, c, d))) for (k, a, b, c, d) in rows
    ]
    return spark.createDataFrame(data, "key long, wkb binary")


def _union_area_rects(rects):
    """Exact union area of axis-aligned rectangles by coordinate
    compression (independent of the slab kernel)."""
    rects = np.asarray(rects, dtype=np.float64)
    xs = np.unique(np.concatenate([rects[:, 0], rects[:, 2]]))
    ys = np.unique(np.concatenate([rects[:, 1], rects[:, 3]]))
    covered = np.zeros((len(xs) - 1, len(ys) - 1), dtype=bool)
    for (a, b, c, d) in rects:
        i0, i1 = np.searchsorted(xs, a), np.searchsorted(xs, c)
        j0, j1 = np.searchsorted(ys, b), np.searchsorted(ys, d)
        covered[i0:i1, j0:j1] = True
    w = np.diff(xs)[:, None]
    h = np.diff(ys)[None, :]
    return float((covered * (w * h)).sum())


def _n_parts_rects(rects):
    """Connected components of the rectangle overlap/touch graph
    (touching counts: the slab kernel merges shared edges)."""
    n = len(rects)
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        a = rects[i]
        for j in range(i + 1, n):
            b = rects[j]
            if (
                a[0] <= b[2] and b[0] <= a[2]
                and a[1] <= b[3] and b[1] <= a[3]
            ):
                parent[find(i)] = find(j)
    return len({find(i) for i in range(n)})


def _rand_rects(rng, n, span=100.0, wmax=30.0):
    out = []
    for _ in range(n):
        x = rng.uniform(0, span)
        y = rng.uniform(0, span)
        w = rng.uniform(1.0, wmax)
        h = rng.uniform(1.0, wmax)
        out.append((x, y, x + w, y + h))
    return out


class TestDissolve:
    def test_random_rect_groups_area_and_parts(self, spark):
        rng = np.random.default_rng(7)
        rows, expected = [], {}
        for k in range(6):
            rects = _rand_rects(rng, 12)
            expected[k] = (_union_area_rects(rects), _n_parts_rects(rects))
            rows += [(k, *r) for r in rects]
        out = dissolve(_rects_df(spark, rows), by="key").collect()
        assert len(out) == 6
        for r in out:
            area, parts = expected[r["key"]]
            assert r["area"] == pytest.approx(area, rel=1e-12)
            assert r["n_parts"] == parts

    def test_hole_formation(self, spark):
        # Four bars forming a square frame: one part, one hole, exact area.
        rows = [
            (0, 0.0, 0.0, 10.0, 2.0),
            (0, 0.0, 8.0, 10.0, 10.0),
            (0, 0.0, 0.0, 2.0, 10.0),
            (0, 8.0, 0.0, 10.0, 10.0),
        ]
        r = dissolve(_rects_df(spark, rows), by="key").collect()[0]
        assert r["n_parts"] == 1
        assert r["area"] == pytest.approx(100.0 - 6.0 * 6.0, abs=1e-9)
        g = G.parse_wkb(bytes(r["wkb"]))
        polys = g.polygons()
        assert len(polys) == 1 and len(polys[0]) == 2  # exterior + hole

    def test_tree_path_matches_direct_path(self, spark):
        # 150 features under one key: more than FOLD (64), so the kernel
        # folds partial unions before its final call
        rng = np.random.default_rng(13)
        rects = _rand_rects(rng, 150, span=200.0)
        rows = [(1, *r) for r in rects]
        r = dissolve(_rects_df(spark, rows), by="key").collect()[0]
        assert r["area"] == pytest.approx(_union_area_rects(rects), rel=1e-12)
        assert r["n_parts"] == _n_parts_rects(rects)

    def test_touching_rects_merge(self, spark):
        rows = [(0, 0.0, 0.0, 5.0, 5.0), (0, 5.0, 0.0, 10.0, 5.0)]
        r = dissolve(_rects_df(spark, rows), by="key").collect()[0]
        assert r["n_parts"] == 1
        assert r["area"] == pytest.approx(50.0, abs=1e-9)

    def test_duplicate_geometries_collapse(self, spark):
        rows = [(0, 0.0, 0.0, 4.0, 4.0)] * 5
        r = dissolve(_rects_df(spark, rows), by="key").collect()[0]
        assert r["area"] == pytest.approx(16.0, abs=1e-9)
        assert r["n_parts"] == 1

    def test_key_type_preserved(self, spark):
        df = spark.createDataFrame(
            [("a", bytearray(G.wkb_rect(0.0, 0.0, 1.0, 1.0)))],
            "name string, wkb binary",
        )
        out = dissolve(df, by="name")
        assert dict(out.dtypes)["name"] == "string"
        assert out.collect()[0]["name"] == "a"
