"""Layer algebra for LINE and POINT inputs against polygon method layers.

Reference: OGRLayer::Intersection / Clip / Erase handle mixed-dimension
inputs through GEOS; the KEEP_LOWER_DIMENSION_GEOMETRIES option
(ogr/ogrsf_frmts/generic/ogrlayer.cpp:3290-3320) controls whether results
of lower dimension than the input survive. The polygon kernel in
``layer_algebra`` drops zero-area pieces (KEEP_LOWER_DIMENSION=NO
semantics); this module supplies the dimension-1 and dimension-0 paths:

- line x polygon: each polyline is split at every crossing with the
  method rings, and the sub-segments are classified by midpoint
  point-in-polygon — inside parts (Intersection/Clip) or outside parts
  (Erase). Exact for straight segments: a sub-segment between two
  consecutive crossings lies entirely in or out.
- point x polygon: Clip keeps points covered by any candidate method
  feature, Erase keeps the rest (PIP semantics of
  ogr/ogrlinearring.cpp:453-531 via geom.points_on_surface).

Distribution mirrors layer_algebra: candidate pairs from the salted cell
equi-join (pair_candidates). Intersection is one Arrow-batched map over
the pairs. Clip and Erase are ONE pass keyed by input fid
(plans.grouping.map_key_runs), laid out like layer_algebra's overlay:
each feature's own row first, then its candidates, so a feature with no
candidate needs no anti-join to find it (Clip drops it, Erase passes it
through). The "union of candidates" classification needs no geometric
union: a midpoint is inside the union iff it is inside ANY candidate
polygon, so overlapping method features cost an OR, not a boolean op.

The per-pair splitting kernel is O(segments x ring edges) with full numpy
broadcasting (no Python loop over edges).

Skew bound: Clip/Erase hold one input feature's candidate polygons in
its kernel call (like OGR, which accumulates the method layer per input
feature); the run streams across Arrow batches, so nothing else of the
partition sits in memory with it. A line crossing 1e5+ method features
would need the chunked interval-merge generalization (per-chunk clip ->
distributed interval union); the candidate count is bounded by
pair_candidates' hot-cell salting in practice.
"""

from __future__ import annotations

import logging

import numpy as np
from pyspark.sql import DataFrame

from .. import geom
from ..plans.grouping import map_key_runs
from .layer_algebra import _group_row, _map_results, pair_candidates

log = logging.getLogger(__name__)

LINE_SCHEMA = (
    "fid long, wkb binary, minx double, miny double, maxx double, "
    "maxy double, length double"
)
LINE_PAIR_SCHEMA = (
    "in_fid long, m_fid long, wkb binary, minx double, miny double, "
    "maxx double, maxy double, length double"
)


def _geometry_lines(g: geom.Geometry) -> list[np.ndarray]:
    if g.kind == geom.WKB_LINESTRING:
        return [np.asarray(g.parts[0], dtype=np.float64)]
    if g.kind == geom.WKB_MULTILINESTRING:
        return [np.asarray(p, dtype=np.float64) for p in g.parts]
    return []


def wkb_multilinestring(lines) -> bytes:
    import struct

    out = struct.pack("<BII", 1, geom.WKB_MULTILINESTRING, len(lines))
    return out + b"".join(geom.wkb_linestring(ln) for ln in lines)


def _edges_of(polys) -> tuple[np.ndarray, np.ndarray]:
    """All ring edges of a polygon list as (E,2) start/end arrays."""
    a_parts, b_parts = [], []
    for rings in polys:
        for r in rings:
            r = np.asarray(r, dtype=np.float64)
            if len(r) >= 2:
                a_parts.append(r[:-1])
                b_parts.append(r[1:])
    if not a_parts:
        z = np.zeros((0, 2))
        return z, z
    return np.vstack(a_parts), np.vstack(b_parts)


def _inside_any(px, py, polys) -> np.ndarray:
    out = np.zeros(np.asarray(px).shape, dtype=bool)
    for rings in polys:
        out |= geom.points_on_surface(px, py, rings)
    return out


def clip_polyline(line: np.ndarray, polys, keep_inside: bool = True):
    """Split one polyline at every ring crossing of ``polys`` and keep the
    parts whose midpoints are inside (or outside) the UNION of the
    polygons. Returns (pieces, total_length) with pieces merged across
    uncut vertices so output linestrings are maximal."""
    line = np.asarray(line, dtype=np.float64)
    if len(line) < 2:
        return [], 0.0
    P, Q = line[:-1], line[1:]
    A, B = _edges_of(polys)
    S, E = len(P), len(A)

    cross_ts: list[np.ndarray] = [np.empty(0)] * S
    if E:
        r = Q - P  # (S,2)
        s = B - A  # (E,2)
        denom = r[:, None, 0] * s[None, :, 1] - r[:, None, 1] * s[None, :, 0]
        dpx = A[None, :, 0] - P[:, None, 0]
        dpy = A[None, :, 1] - P[:, None, 1]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (dpx * s[None, :, 1] - dpy * s[None, :, 0]) / denom
            u = (dpx * r[:, None, 1] - dpy * r[:, None, 0]) / denom
        ok = (denom != 0) & (u >= 0.0) & (u <= 1.0) & (t > 0.0) & (t < 1.0)
        si, _ei = np.nonzero(ok)
        if si.size:
            tv = t[ok]
            order = np.lexsort((tv, si))
            si, tv = si[order], tv[order]
            bounds = np.searchsorted(si, np.arange(S + 1))
            for k in range(S):
                lo, hi = bounds[k], bounds[k + 1]
                if hi > lo:
                    ts = np.unique(tv[lo:hi])
                    if len(ts) > 1:
                        # a crossing exactly through a ring VERTEX is
                        # registered by both incident edges with
                        # FP-different t — drop the near-duplicate so no
                        # zero-length sliver with an on-boundary
                        # midpoint reaches classification
                        ts = ts[np.concatenate(
                            ([True], np.diff(ts) > 1e-12)
                        )]
                    cross_ts[k] = ts

    # sub-segment midpoints -> classification, then chain merge
    pieces: list[np.ndarray] = []
    total = 0.0
    chain: list[np.ndarray] | None = None
    for k in range(S):
        ts = np.concatenate([[0.0], cross_ts[k], [1.0]])
        pts = P[k] + (Q[k] - P[k])[None, :] * ts[:, None]
        # snap the endpoints exactly: fl(P + fl(Q-P)) can differ from Q
        # by an ulp, which would break the exact-equality chain merge at
        # uncut vertices (the next segment starts at the true Q)
        pts[0] = P[k]
        pts[-1] = Q[k]
        mids = (pts[:-1] + pts[1:]) / 2.0
        keep = _inside_any(mids[:, 0], mids[:, 1], polys)
        if not keep_inside:
            keep = ~keep
        for j in range(len(keep)):
            if keep[j]:
                seg = pts[j : j + 2]
                if chain is not None and np.array_equal(chain[-1][-1], seg[0]):
                    chain.append(seg[1:])
                else:
                    if chain is not None:
                        pieces.append(np.vstack(chain))
                    chain = [seg]
                total += float(np.hypot(*(seg[1] - seg[0])))
            else:
                if chain is not None:
                    pieces.append(np.vstack(chain))
                    chain = None
    if chain is not None:
        pieces.append(np.vstack(chain))
    return pieces, total


def _lines_row(ids: tuple, lines, length: float) -> list[tuple]:
    """``ids`` + (multilinestring WKB, envelope, ``length``) of ``lines``
    as a one-row list."""
    allc = np.vstack(lines)
    return [(
        *ids, wkb_multilinestring(lines),
        float(allc[:, 0].min()), float(allc[:, 1].min()),
        float(allc[:, 0].max()), float(allc[:, 1].max()), float(length),
    )]


def _clipped(ids: tuple, lines, polys, keep_inside: bool) -> list[tuple]:
    """The parts of ``lines`` inside (or outside) the union of ``polys``
    as one LINE row, or none when nothing of positive length is left."""
    pieces, total = [], 0.0
    for ln in lines:
        ps, ll = clip_polyline(ln, polys, keep_inside)
        pieces.extend(ps)
        total += ll
    if not pieces or total <= 0:
        return []
    return _lines_row(ids, pieces, total)


def line_layer_intersection(
    line_layer: DataFrame,
    method_layer: DataFrame,
    input_fid: str = "fid",
    method_fid: str = "fid",
    cell_zoom: int | None = None,
) -> DataFrame:
    """Line x polygon Intersection: one row per candidate pair whose
    geometries truly cross — geometry is the multilinestring of the parts
    of the input line inside THAT method feature (the
    KEEP_LOWER_DIMENSION=YES result of ogrlayer.cpp Intersection for a
    line input layer). Needs no grouping: one map over the pairs."""
    cands = pair_candidates(line_layer, method_layer, input_fid, method_fid, cell_zoom)
    return _map_results(
        cands, LINE_PAIR_SCHEMA,
        lambda r: _clipped(
            (int(r.in_fid), int(r.m_fid)),
            _geometry_lines(geom.parse_wkb(bytes(r.in_wkb))),
            geom.parse_wkb(bytes(r.m_wkb)).polygons(), True,
        ),
    )


def _feature_pass(layer, method_layer, input_fid, method_fid, cell_zoom, kernel, caller, schema):
    """``kernel(fid, wkb, polys)`` once per input feature, as one
    ``map_key_runs`` pass keyed by fid: the feature's own row (role 0)
    sorts first, then its candidates (role 1) in method-fid order.
    ``wkb`` is the input geometry, ``polys`` the candidates' polygons
    (None for a feature with no candidate). Two input features with one
    fid raise ``ValueError``."""
    cands = pair_candidates(layer, method_layer, input_fid, method_fid, cell_zoom)
    rows = layer.select(_group_row(0, input_fid, 0, input_fid, "wkb")).unionByName(
        cands.select(_group_row(0, "in_fid", 1, "m_fid", "m_wkb"))
    )

    def run_kernel(key, run):
        (fid,), own, polys, n = key, [], [], 0
        for _, role, _, wkb in run:
            if role == 1:
                polys.extend(geom.parse_wkb(bytes(wkb)).polygons())
                n += 1
            elif own:
                raise ValueError(f"the input layer has more than one feature with fid {fid}")
            else:
                own.append(wkb)
        return kernel(fid, own[0], polys if n else None)

    return map_key_runs(
        rows.select("r.fid", "r.role", "r.o_fid", "r.wkb"), ("fid",), ("role", "o_fid"),
        run_kernel, caller, schema, log,
    )


def _line_kernel(keep_inside: bool):
    def kernel(fid, wkb, polys):
        if polys is None and keep_inside:
            return []  # clip drops a feature with no candidate unparsed
        lines = _geometry_lines(geom.parse_wkb(bytes(wkb)))
        if polys is not None:
            return _clipped((fid,), lines, polys, keep_inside)
        if not lines:
            return []
        # erase passes a feature with no candidate through unchanged
        total = sum(float(np.hypot(*(np.diff(ln, axis=0).T)).sum()) for ln in lines)
        return _lines_row((fid,), lines, total)

    return kernel


def line_layer_clip(
    line_layer: DataFrame,
    method_layer: DataFrame,
    input_fid: str = "fid",
    method_fid: str = "fid",
    cell_zoom: int | None = None,
) -> DataFrame:
    """Line x polygon Clip (ogrlayer.cpp:5497 semantics for line inputs):
    the parts of each input line inside the UNION of the method layer —
    one row per surviving input fid."""
    return _feature_pass(
        line_layer, method_layer, input_fid, method_fid, cell_zoom,
        _line_kernel(True), "line_layer_clip", LINE_SCHEMA,
    )


def line_layer_erase(
    line_layer: DataFrame,
    method_layer: DataFrame,
    input_fid: str = "fid",
    method_fid: str = "fid",
    cell_zoom: int | None = None,
) -> DataFrame:
    """Line x polygon Erase (ogrlayer.cpp:5806 semantics for line inputs):
    the parts outside the union of the method layer; lines with no
    candidates pass through unchanged."""
    return _feature_pass(
        line_layer, method_layer, input_fid, method_fid, cell_zoom,
        _line_kernel(False), "line_layer_erase", LINE_SCHEMA,
    )


# ---------------------------------------------------------------------------
# point x polygon
# ---------------------------------------------------------------------------

POINT_SCHEMA = "fid long, x double, y double"


def _point_kernel(keep_inside: bool):
    def kernel(fid, wkb, polys):
        if polys is None and keep_inside:
            return []
        g = geom.parse_wkb(bytes(wkb))
        if g.kind not in (geom.WKB_POINT, geom.WKB_MULTIPOINT):
            return []
        pts = np.asarray(g.parts, dtype=np.float64).reshape(-1, 2)
        keep = _inside_any(pts[:, 0], pts[:, 1], polys or [])
        if not keep_inside:
            keep = ~keep
        return [(fid, float(x), float(y)) for x, y in pts[keep]]

    return kernel


def point_layer_clip(
    point_layer: DataFrame,
    method_layer: DataFrame,
    input_fid: str = "fid",
    method_fid: str = "fid",
    cell_zoom: int | None = None,
    keep_inside: bool = True,
) -> DataFrame:
    """Point x polygon Clip/Erase: keep the points of each (multi)point
    feature covered by any method feature (``keep_inside=False`` flips to
    Erase). Points with no envelope candidates are outside by definition:
    dropped for Clip, passed through for Erase."""
    return _feature_pass(
        point_layer, method_layer, input_fid, method_fid, cell_zoom,
        _point_kernel(keep_inside), "point_layer_clip", POINT_SCHEMA,
    )
