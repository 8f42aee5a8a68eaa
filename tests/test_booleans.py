"""Slab-decomposition polygon boolean kernel vs analytic + pixel oracles.

The reference delegates these ops to GEOS (ogr/ogrgeometry.cpp
Intersection/Union/Difference/SymDifference); parity here is semantic:
areas and membership, including holes, islands, non-convex inputs, and
the degenerate shared-edge cases that kill vertex-walking clippers.
"""

import numpy as np
import pytest

from gdal_spark.booleans import (
    assemble_polygons,
    boolean_area,
    boolean_full,
    boolean_polys,
    ring_interior_point,
)
from gdal_spark.geom import points_on_surface, ring_area_centroid


def rect(x0, y0, x1, y1):
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float
    )


A = [[rect(0, 0, 10, 10)]]
B = [[rect(5, 5, 15, 15)]]


class TestRectAlgebra:
    @pytest.mark.parametrize(
        "op,expect",
        [("and", 25.0), ("or", 175.0), ("a_not_b", 75.0), ("b_not_a", 75.0), ("xor", 150.0)],
    )
    def test_overlapping_rects(self, op, expect):
        assert boolean_area(A, B, op) == pytest.approx(expect, abs=1e-9)

    def test_shared_edge_degenerate(self):
        c = [[rect(10, 0, 20, 10)]]
        assert boolean_area(A, c, "or") == pytest.approx(200.0)
        assert boolean_area(A, c, "and") == pytest.approx(0.0)

    def test_identical_inputs(self):
        assert boolean_area(A, A, "and") == pytest.approx(100.0)
        assert boolean_area(A, A, "xor") == pytest.approx(0.0)

    def test_empty_sides(self):
        assert boolean_area([], B, "and") == 0.0
        assert boolean_area([], B, "or") == pytest.approx(100.0)
        assert boolean_area(A, [], "a_not_b") == pytest.approx(100.0)

    def test_partition_identity(self):
        # A = (A∩B) ⊎ (A\B)
        assert boolean_area(A, B, "and") + boolean_area(A, B, "a_not_b") == pytest.approx(
            100.0
        )
        # xor = or - and
        assert boolean_area(A, B, "xor") == pytest.approx(
            boolean_area(A, B, "or") - boolean_area(A, B, "and")
        )


class TestHolesAndIslands:
    def test_hole_subtracts(self):
        holed = [[rect(0, 0, 10, 10), rect(4, 4, 6, 6)]]
        left = [[rect(0, 0, 5, 10)]]
        # 50 minus the hole part in the left half (1x2)
        assert boolean_area(holed, left, "and") == pytest.approx(48.0)

    def test_hole_survives_in_output(self):
        holed = [[rect(0, 0, 10, 10), rect(2, 2, 4, 4)]]
        clip = [[rect(0, 0, 6, 10)]]
        polys, area = boolean_full(holed, clip, "and")
        assert area == pytest.approx(56.0)
        assert len(polys) == 1 and len(polys[0]) == 2
        a0, _ = ring_area_centroid(polys[0][0])
        a1, _ = ring_area_centroid(polys[0][1])
        assert a0 > 0 and a1 < 0  # CCW exterior, CW hole
        inside = points_on_surface(np.array([3.0, 1.0]), np.array([3.0, 1.0]), polys[0])
        assert not inside[0] and inside[1]

    def test_island_topology(self):
        # square minus a frame -> outer ring with hole + separate island
        frame = [[rect(2, 2, 8, 8), rect(4, 4, 6, 6)]]
        polys, area = boolean_full(A, frame, "a_not_b")
        assert area == pytest.approx(100 - 36 + 4)
        assert sorted(len(p) for p in polys) == [1, 2]

    def test_many_rings_and_pinch_vertices(self):
        # a 20x20 checkerboard meets only at corners: vertices with two
        # outgoing boundary segments, each chained once
        board = [
            [rect(x, y, x + 1, y + 1)]
            for x in range(20) for y in range(20) if (x + y) % 2 == 0
        ]
        polys, area = boolean_full(board, [], "or")
        assert area == pytest.approx(200.0)
        rings = [r for p in polys for r in p]
        assert sum(abs(ring_area_centroid(r)[0]) for r in rings) == pytest.approx(200.0)
        # 100 separate framed squares: 100 outer rings, 100 holes
        frames = [
            [rect(3 * x, 3 * y, 3 * x + 2, 3 * y + 2),
             rect(3 * x + 0.5, 3 * y + 0.5, 3 * x + 1.5, 3 * y + 1.5)]
            for x in range(10) for y in range(10)
        ]
        polys, area = boolean_full(frames, [], "or")
        assert area == pytest.approx(100 * 3.0)
        assert [len(p) for p in polys] == [2] * 100

    def test_multi_feature_side_is_union(self):
        two = [[rect(0, 0, 10, 10)], [rect(5, 0, 15, 10)]]
        assert boolean_area(two, [], "or") == pytest.approx(150.0)
        assert boolean_area(two, A, "and") == pytest.approx(100.0)


class TestNonConvex:
    def test_l_shape(self):
        lsh = [[np.array(
            [[0, 0], [10, 0], [10, 4], [4, 4], [4, 10], [0, 10], [0, 0]], float
        )]]
        r2 = [[rect(2, 2, 12, 12)]]
        assert boolean_area(lsh, r2, "and") == pytest.approx(28.0)
        assert boolean_area(lsh, r2, "xor") == pytest.approx(64 + 100 - 2 * 28)

    def test_triangle_rect(self):
        tri = [[np.array([[0, 0], [4, 0], [0, 4], [0, 0]], float)]]
        r = [[rect(0, 0, 2, 2)]]
        assert boolean_area(tri, r, "and") == pytest.approx(4.0)

    def test_cw_input_normalized(self):
        cw = [[rect(0, 0, 10, 10)[::-1].copy()]]
        assert boolean_area(cw, B, "and") == pytest.approx(25.0)


class TestFuzzVsPixelOracle:
    def test_random_rect_sets(self):
        rng = np.random.default_rng(7)
        xs = np.linspace(-5, 40, 300)
        ys = np.linspace(-5, 40, 300)
        gx, gy = np.meshgrid(xs, ys)
        fx, fy = gx.ravel(), gy.ravel()
        cell = (xs[1] - xs[0]) * (ys[1] - ys[0])
        for _ in range(8):
            def rr():
                x0, y0 = rng.uniform(0, 20, 2)
                w, h = rng.uniform(1, 15, 2)
                return rect(x0, y0, x0 + w, y0 + h)

            a = [[rr()] for _ in range(rng.integers(1, 4))]
            b = [[rr()] for _ in range(rng.integers(1, 4))]
            in_a = np.zeros(fx.shape, bool)
            in_b = np.zeros(fx.shape, bool)
            for p in a:
                in_a |= points_on_surface(fx, fy, p)
            for p in b:
                in_b |= points_on_surface(fx, fy, p)
            for op, pred in [
                ("and", in_a & in_b), ("or", in_a | in_b),
                ("a_not_b", in_a & ~in_b), ("xor", in_a ^ in_b),
            ]:
                a1 = boolean_area(a, b, op)
                a2 = pred.sum() * cell
                assert abs(a1 - a2) <= max(4.0, 0.06 * max(a1, a2, 1.0)), (op, a1, a2)

    def test_output_membership_matches_inputs(self):
        rng = np.random.default_rng(11)
        for _ in range(5):
            x0, y0 = rng.uniform(0, 10, 2)
            a = [[rect(x0, y0, x0 + 8, y0 + 6)]]
            b = [[rect(x0 + 3, y0 + 2, x0 + 12, y0 + 9)]]
            polys = boolean_polys(a, b, "xor")
            px = rng.uniform(-2, 25, 400)
            py = rng.uniform(-2, 25, 400)
            in_a = points_on_surface(px, py, a[0])
            in_b = points_on_surface(px, py, b[0])
            got = np.zeros(px.shape, bool)
            for p in polys:
                got |= points_on_surface(px, py, p)
            want = in_a ^ in_b
            # boundary-adjacent samples can flip; demand 99% agreement
            assert (got == want).mean() > 0.99


class TestHelpers:
    def test_ring_interior_point(self):
        r = rect(2, 3, 9, 11)
        px, py = ring_interior_point(r)
        assert points_on_surface(np.array([px]), np.array([py]), [r])[0]

    def test_assemble_orphan_hole_dropped(self):
        hole = rect(0, 0, 1, 1)[::-1].copy()
        assert assemble_polygons([hole]) == []


def _band_edges(n_rects, width, seed=0, span=1e6, height=1000.0):
    """Edges of ``n_rects`` rectangles ``width`` wide and the band's full
    ``height``, spread along a ``span``-wide thin band."""
    from gdal_spark.booleans import _collect_edges

    x0 = np.random.default_rng(seed).uniform(0.0, span - width, n_rects)
    polys = [[rect(x, 0.0, x + width, height)] for x in x0]
    return _collect_edges(polys)


class TestCrossingBuckets:
    def test_thin_band_edges_join_few_cells(self):
        # a k x k grid over a 1e6 x 1e3 band puts every vertical edge in
        # all k (here 45) y-cells; near-square cells keep it to ~2
        from gdal_spark.booleans import _edge_cells

        p0, p1 = _band_edges(2000, 400.0)
        n = len(p0)
        ix0, ix1, iy0, iy1, _ = _edge_cells(
            np.minimum(p0[:, 0], p1[:, 0]), np.maximum(p0[:, 0], p1[:, 0]),
            np.minimum(p0[:, 1], p1[:, 1]), np.maximum(p0[:, 1], p1[:, 1]),
        )
        memberships = int(((ix1 - ix0 + 1) * (iy1 - iy0 + 1)).sum())
        assert memberships <= 4 * n, (memberships, n)

    def test_bucketed_crossings_equal_all_pairs_on_a_thin_band(self):
        from gdal_spark.booleans import _collect_edges, _crossing_ys, _pair_crossing_ys

        # 150 rectangles 10 high, 2,000 wide, staggered in y so their
        # edges cross, across a 1e5 x 40 band
        rng = np.random.default_rng(3)
        x0 = rng.uniform(0.0, 1e5 - 2000.0, 150)
        y0 = rng.uniform(0.0, 30.0, 150)
        p0, p1 = _collect_edges([[rect(x, y, x + 2000.0, y + 10.0)] for x, y in zip(x0, y0)])
        assert len(p0) == 600
        # above 256 edges _crossing_ys takes the bucket pass
        bucketed = np.sort(_crossing_ys(p0, p1))
        dense = np.sort(_pair_crossing_ys(p0, p1, *np.triu_indices(len(p0), k=1)))
        assert len(dense) > 100
        np.testing.assert_array_equal(bucketed, dense)
