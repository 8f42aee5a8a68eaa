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
equi-join (pair_candidates), then ONE Arrow-batched kernel pass. The
"union of candidates" classification needs no geometric union: a midpoint
is inside the union iff it is inside ANY candidate polygon, so
overlapping method features cost an OR, not a boolean op.

The per-pair splitting kernel is O(segments x ring edges) with full numpy
broadcasting (no Python loop over edges), bounded per task by the
candidate-pair grouping.

Skew bound: the grouped clip/erase collect_lists one input line's
candidate method geometries into a single task (like OGR, which
accumulates the method layer per input feature). A line crossing 1e5+
method features would need the chunked interval-merge generalization
(per-chunk clip -> distributed interval union); the candidate count is
bounded by pair_candidates' hot-cell salting in practice, and the
polygon side's grouped pass (layer_algebra._overlay: key-sorted runs
streamed across Arrow batches, candidates folded into partial unions)
shows the recipe if a workload ever hits it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import geom
from .layer_algebra import pair_candidates

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


def _line_rows(batches, keep_inside: bool, pairwise: bool):
    for pdf in batches:
        rows = []
        for r in pdf.itertuples(index=False):
            lines = _geometry_lines(geom.parse_wkb(bytes(r.in_wkb)))
            polys = []
            wkbs = [r.m_wkb] if pairwise else list(r.m_wkbs)
            for mw in wkbs:
                polys.extend(geom.parse_wkb(bytes(mw)).polygons())
            pieces, total = [], 0.0
            for ln in lines:
                ps, ll = clip_polyline(ln, polys, keep_inside)
                pieces.extend(ps)
                total += ll
            if not pieces or total <= 0:
                continue
            allc = np.vstack(pieces)
            rec = {
                "wkb": wkb_multilinestring(pieces),
                "minx": float(allc[:, 0].min()),
                "miny": float(allc[:, 1].min()),
                "maxx": float(allc[:, 0].max()),
                "maxy": float(allc[:, 1].max()),
                "length": float(total),
            }
            if pairwise:
                rec.update(in_fid=int(r.in_fid), m_fid=int(r.m_fid))
            else:
                rec.update(fid=int(r.in_fid))
            rows.append(rec)
        yield pd.DataFrame(
            rows,
            columns=(
                ["in_fid", "m_fid", "wkb", "minx", "miny", "maxx", "maxy", "length"]
                if pairwise
                else ["fid", "wkb", "minx", "miny", "maxx", "maxy", "length"]
            ),
        )


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
    line input layer)."""
    cands = pair_candidates(line_layer, method_layer, input_fid, method_fid, cell_zoom)
    return cands.mapInPandas(
        lambda it: _line_rows(it, True, True), schema=LINE_PAIR_SCHEMA
    )


def _grouped_line_op(cands: DataFrame, keep_inside: bool) -> DataFrame:
    grouped = cands.groupBy("in_fid").agg(
        F.first("in_wkb").alias("in_wkb"), F.collect_list("m_wkb").alias("m_wkbs")
    )
    return grouped.mapInPandas(
        lambda it: _line_rows(it, keep_inside, False), schema=LINE_SCHEMA
    )


def _lines_passthrough(layer: DataFrame, fid: str) -> DataFrame:
    src = layer.select(F.col(fid).alias("fid"), "wkb")

    def do(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                lines = _geometry_lines(geom.parse_wkb(bytes(r.wkb)))
                if not lines:
                    continue
                total = sum(
                    float(np.hypot(*(np.diff(ln, axis=0).T)).sum()) for ln in lines
                )
                allc = np.vstack(lines)
                rows.append(
                    {
                        "fid": int(r.fid),
                        "wkb": wkb_multilinestring(lines),
                        "minx": float(allc[:, 0].min()),
                        "miny": float(allc[:, 1].min()),
                        "maxx": float(allc[:, 0].max()),
                        "maxy": float(allc[:, 1].max()),
                        "length": float(total),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["fid", "wkb", "minx", "miny", "maxx", "maxy", "length"]
            )

    return src.mapInPandas(do, schema=LINE_SCHEMA)


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
    cands = pair_candidates(line_layer, method_layer, input_fid, method_fid, cell_zoom)
    return _grouped_line_op(cands, keep_inside=True)


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
    cands = pair_candidates(line_layer, method_layer, input_fid, method_fid, cell_zoom)
    erased = _grouped_line_op(cands, keep_inside=False)
    no_cand = line_layer.join(
        cands.select("in_fid").distinct(),
        line_layer[input_fid] == F.col("in_fid"),
        "left_anti",
    )
    return erased.unionByName(_lines_passthrough(no_cand, input_fid))


# ---------------------------------------------------------------------------
# point x polygon
# ---------------------------------------------------------------------------

POINT_SCHEMA = "fid long, x double, y double"


def _point_rows(batches, keep_inside: bool):
    for pdf in batches:
        rows = []
        for r in pdf.itertuples(index=False):
            g = geom.parse_wkb(bytes(r.in_wkb))
            if g.kind not in (geom.WKB_POINT, geom.WKB_MULTIPOINT):
                continue
            pts = np.asarray(g.parts, dtype=np.float64).reshape(-1, 2)
            polys = []
            for mw in r.m_wkbs:
                polys.extend(geom.parse_wkb(bytes(mw)).polygons())
            keep = _inside_any(pts[:, 0], pts[:, 1], polys)
            if not keep_inside:
                keep = ~keep
            for x, y in pts[keep]:
                rows.append({"fid": int(r.in_fid), "x": float(x), "y": float(y)})
        yield pd.DataFrame(rows, columns=["fid", "x", "y"])


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
    cands = pair_candidates(point_layer, method_layer, input_fid, method_fid, cell_zoom)
    grouped = cands.groupBy("in_fid").agg(
        F.first("in_wkb").alias("in_wkb"), F.collect_list("m_wkb").alias("m_wkbs")
    )
    out = grouped.mapInPandas(
        lambda it: _point_rows(it, keep_inside), schema=POINT_SCHEMA
    )
    if keep_inside:
        return out
    no_cand = point_layer.join(
        cands.select("in_fid").distinct(),
        point_layer[input_fid] == F.col("in_fid"),
        "left_anti",
    )

    def passthrough(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                g = geom.parse_wkb(bytes(r.wkb))
                if g.kind not in (geom.WKB_POINT, geom.WKB_MULTIPOINT):
                    continue
                for x, y in np.asarray(g.parts, dtype=np.float64).reshape(-1, 2):
                    rows.append({"fid": int(r.fid), "x": float(x), "y": float(y)})
            yield pd.DataFrame(rows, columns=["fid", "x", "y"])

    pt = no_cand.select(F.col(input_fid).alias("fid"), "wkb").mapInPandas(
        passthrough, schema=POINT_SCHEMA
    )
    return out.unionByName(pt)
