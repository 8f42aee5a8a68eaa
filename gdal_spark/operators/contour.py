"""Contour: iso-value lines from a raster band (marching squares).

Reference: alg/contour.cpp + alg/marching_squares/ (GDALContourGenerate):
pixel centers are grid nodes; a contour segment crosses each cell edge
where the two corner values straddle the level, at the linearly
interpolated position; saddle cells disambiguate by the cell-center
average (marching_squares/square.h).

Spark shape: per tile, segments are computed in GLOBAL node coordinates
(cells straddling a tile border get the missing right/bottom corners
from a 1-node halo exchange — thin strips, cogrouped by neighbor tile
id). Each tile chains its segments into partial polylines per level;
open chains that meet across tiles share one connected-component label
(an endpoint equi-join), and each label's chains merge in one walk over
the label-sorted runs (plans.grouping.group_by_key). Endpoints shared
between adjacent cells are bitwise-identical floats (same two corner
values, same formula), so chaining needs no tolerance.
"""

from __future__ import annotations

import logging
from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import geom
from ..plans.grouping import group_by_key

log = logging.getLogger(__name__)


def cell_segments(band: np.ndarray, level: float, origin=(0, 0)):
    """Marching-squares segments for one level over one array.

    Node (r, c) = pixel center; returns segments in (x=c, y=r) node
    coordinates offset by ``origin``. Vectorized case computation; the
    per-case emission loops over matching cells only."""
    b = np.asarray(band, dtype=np.float64)
    h, w = b.shape
    if h < 2 or w < 2:
        return []
    ox, oy = origin
    tl = b[:-1, :-1]
    tr = b[:-1, 1:]
    bl = b[1:, :-1]
    br = b[1:, 1:]
    case = (
        (tl >= level).astype(np.int8)
        | ((tr >= level).astype(np.int8) << 1)
        | ((br >= level).astype(np.int8) << 2)
        | ((bl >= level).astype(np.int8) << 3)
    )
    segs = []

    def interp(v0, v1):
        return (level - v0) / (v1 - v0)

    # cells touching a non-finite corner are SKIPPED, like
    # GDALContourGenerate skips nodata cells — this also makes the tile
    # halo exact: a missing neighbor strip stays NaN and exactly the
    # cells that need it drop out (no rectangle truncation)
    finite = (
        np.isfinite(tl) & np.isfinite(tr) & np.isfinite(bl) & np.isfinite(br)
    )
    ys, xs = np.nonzero((case != 0) & (case != 15) & finite)
    for r, c in zip(ys.tolist(), xs.tolist()):
        v_tl, v_tr = float(tl[r, c]), float(tr[r, c])
        v_bl, v_br = float(bl[r, c]), float(br[r, c])
        # edge crossing points (x, y) in node space
        top = (c + interp(v_tl, v_tr), float(r)) if (v_tl >= level) != (v_tr >= level) else None
        bottom = (c + interp(v_bl, v_br), float(r + 1)) if (v_bl >= level) != (v_br >= level) else None
        left = (float(c), r + interp(v_tl, v_bl)) if (v_tl >= level) != (v_bl >= level) else None
        right = (float(c + 1), r + interp(v_tr, v_br)) if (v_tr >= level) != (v_br >= level) else None
        k = int(case[r, c])
        pairs = []
        if k in (1, 14):
            pairs = [(top, left)]
        elif k in (2, 13):
            pairs = [(top, right)]
        elif k in (3, 12):
            pairs = [(left, right)]
        elif k in (4, 11):
            pairs = [(right, bottom)]
        elif k in (6, 9):
            pairs = [(top, bottom)]
        elif k in (7, 8):
            pairs = [(left, bottom)]
        elif k in (5, 10):
            # saddle: disambiguate with the center average
            center = (v_tl + v_tr + v_bl + v_br) / 4.0
            if (center >= level) == (k == 5):
                pairs = [(top, right), (bottom, left)]
            else:
                pairs = [(top, left), (bottom, right)]
        for a, bb in pairs:
            if a is None or bb is None or a == bb:
                # a == bb: a node lies exactly on the level — both edge
                # crossings collapse onto the corner (degenerate)
                continue
            segs.append((a[0] + ox, a[1] + oy, bb[0] + ox, bb[1] + oy))
    return segs


def chain_polylines(segments):
    """Chain undirected segments into polylines (closed rings stay
    closed; open lines end at data borders). Exact endpoint matching."""
    adj: dict[tuple, list] = defaultdict(list)
    for i, (x0, y0, x1, y1) in enumerate(segments):
        adj[(x0, y0)].append((i, (x1, y1)))
        adj[(x1, y1)].append((i, (x0, y0)))
    used = [False] * len(segments)
    lines = []
    # open chains first: start at degree-1 endpoints
    starts = [p for p, lst in adj.items() if len(lst) == 1]
    for start in sorted(starts):
        if all(used[i] for i, _ in adj[start]):
            continue
        line = [start]
        cur = start
        while True:
            nxt = None
            for i, other in adj[cur]:
                if not used[i]:
                    used[i] = True
                    nxt = other
                    break
            if nxt is None:
                break
            line.append(nxt)
            cur = nxt
        if len(line) >= 2:
            lines.append(np.array(line))
    # remaining are closed loops
    for i0 in range(len(segments)):
        if used[i0]:
            continue
        used[i0] = True
        x0, y0, x1, y1 = segments[i0]
        line = [(x0, y0), (x1, y1)]
        cur = (x1, y1)
        while cur != (x0, y0):
            nxt = None
            for i, other in adj[cur]:
                if not used[i]:
                    used[i] = True
                    nxt = other
                    break
            if nxt is None:
                break
            line.append(nxt)
            cur = nxt
        lines.append(np.array(line))
    return lines


def _nodes_to_geo(line: np.ndarray, gt) -> np.ndarray:
    # node (c, r) = pixel center -> pixel coords (c + 0.5, r + 0.5)
    px = line[:, 0] + 0.5
    py = line[:, 1] + 0.5
    x = gt[0] + px * gt[1] + py * gt[2]
    y = gt[3] + px * gt[4] + py * gt[5]
    return np.stack([x, y], axis=1)


def contour_array(band: np.ndarray, gt, levels):
    """Local contour: [(level, polyline geo-coords array), ...]."""
    out = []
    for lv in levels:
        segs = cell_segments(band, float(lv))
        for line in chain_polylines(segs):
            out.append((float(lv), _nodes_to_geo(line, gt)))
    return out


def contour_levels(base: float, interval: float, vmin: float, vmax: float):
    """GDALContourGenerate level list: base + k*interval within range."""
    k0 = int(np.ceil((vmin - base) / interval))
    k1 = int(np.floor((vmax - base) / interval))
    return [base + k * interval for k in range(k0, k1 + 1)]


def contour_levels_exp(base: float, vmin: float, vmax: float):
    """gdal_contour -e: exponential levels base^k within [vmin, vmax]
    (alg/contour.cpp ExponentialLevelRangeIterator — only positive
    values can have a level). base must exceed 1."""
    if base <= 1.0:
        raise ValueError(f"exponential base must be > 1, got {base}")
    lo = max(vmin, np.finfo(float).tiny)
    if vmax < lo:
        return []
    k0 = int(np.ceil(np.log(lo) / np.log(base) - 1e-12))
    k1 = int(np.floor(np.log(vmax) / np.log(base) + 1e-12))
    return [float(base) ** k for k in range(k0, k1 + 1)]


OUT_SCHEMA = "level double, n_points int, closed boolean, wkb binary, length double"

# chain-key packing bounds (documented, asserted): tile coords < 2^18 per
# axis, < 512 levels, < 65536 partial chains per (tile, level) — 62 bits
_CKEY_TILE_MAX = 1 << 18
_CKEY_LVL_MAX = 512
_CKEY_IDX_MAX = 1 << 16


def _pack_ckey(tx: int, ty: int, lvl_idx: int, idx: int) -> int:
    if not (0 <= tx < _CKEY_TILE_MAX and 0 <= ty < _CKEY_TILE_MAX):
        raise ValueError(
            f"tile coords ({tx},{ty}) outside [0, 2^18) — enlarge tiles or "
            "extend the chain-key packing"
        )
    if lvl_idx >= _CKEY_LVL_MAX:
        raise ValueError("more than 511 contour levels — extend key packing")
    if idx >= _CKEY_IDX_MAX:
        raise ValueError("more than 65535 partial chains in one (tile, level)")
    return ((ty * _CKEY_TILE_MAX + tx) * _CKEY_LVL_MAX + lvl_idx) * _CKEY_IDX_MAX + idx


def merge_chains(chains: list[np.ndarray]) -> list[np.ndarray]:
    """Merge partial polylines that share exact endpoints into maximal
    polylines — the cross-tile analog of :func:`chain_polylines`, with
    each partial chain acting as one segment that carries its interior
    points. Greedy at degree>2 junctions (same policy as the local
    chainer)."""
    adj: dict[tuple, list] = defaultdict(list)
    for i, pts in enumerate(chains):
        adj[tuple(pts[0])].append((i, 0))
        adj[tuple(pts[-1])].append((i, 1))
    used = [False] * len(chains)
    lines = []

    def walk(i0: int, end0: int) -> np.ndarray:
        used[i0] = True
        first = chains[i0] if end0 == 0 else chains[i0][::-1]
        parts = [first]
        cur = tuple(parts[-1][-1])
        while True:
            nxt = None
            for j, e in adj[cur]:
                if not used[j]:
                    nxt = (j, e)
                    break
            if nxt is None:
                break
            j, e = nxt
            used[j] = True
            p = chains[j] if e == 0 else chains[j][::-1]
            parts.append(p[1:])  # junction point already emitted
            cur = tuple(p[-1])
        return np.concatenate(parts)

    # open lines start at degree-1 endpoints
    for pt in sorted(adj):
        lst = adj[pt]
        if len(lst) == 1:
            i, e = lst[0]
            if not used[i]:
                lines.append(walk(i, e))
    # remaining partial chains belong to closed rings (or junction cycles)
    for i in range(len(chains)):
        if not used[i]:
            lines.append(walk(i, 0))
    return lines


def contour_tiles(
    tiles_df: DataFrame,
    gt,
    levels,
    tile_size: int = 256,
    driver_cc_max_edges: int = 100_000,
) -> DataFrame:
    """Distributed contour over the tiled layout: 1-node halo exchange
    (right column + bottom row + corner), per-tile marching squares in
    global node coords, chained into partial polylines WITHIN each
    (tile, level) group, then merged across tile borders by connected
    components over exact endpoint-equality edges (endpoints of adjacent
    tiles are bitwise-identical floats — same two corner values, same
    interpolation — so the equi-join is exact, no tolerance).

    Scale posture: no stage groups a whole level into one task. Chaining
    parallelism is O(tiles x levels); the border merge reuses
    :func:`polygonize.cc_labels` (driver union-find fast path under
    ``driver_cc_max_edges``, LIMIT-bounded, else fully distributed
    min-label propagation); final assembly is one task per OUTPUT line
    holding only chain endpoints + interior points of that line — the
    same accepted bound as polygonize's per-region assembly.
    NOTE: this operator executes EAGERLY at call time — the per-tile
    chain stage is localCheckpoint(eager=True)-materialized (it feeds
    both the closed-ring and the open-chain legs) and the border
    endpoint-pair graph is collected up to the driver cap. The returned
    DataFrame is cheap to re-use but the heavy compute has already run.
    """
    src = tiles_df.select("tile_x", "tile_y", "w", "h", "data")
    lvls = [float(v) for v in levels]

    def halo_export(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(bytes(r.data), dtype=np.float64).reshape(r.h, r.w)
                # to the LEFT neighbor: our first column; to the TOP: first row;
                # to the TOP-LEFT: corner pixel
                rows.append(
                    {"tile_x": int(r.tile_x) - 1, "tile_y": int(r.tile_y),
                     "kind": "col", "vals": arr[:, 0].tobytes()}
                )
                rows.append(
                    {"tile_x": int(r.tile_x), "tile_y": int(r.tile_y) - 1,
                     "kind": "row", "vals": arr[0, :].tobytes()}
                )
                rows.append(
                    {"tile_x": int(r.tile_x) - 1, "tile_y": int(r.tile_y) - 1,
                     "kind": "corner", "vals": arr[0, 0:1].tobytes()}
                )
            yield pd.DataFrame(rows, columns=["tile_x", "tile_y", "kind", "vals"])

    halos = src.mapInPandas(
        halo_export, schema="tile_x int, tile_y int, kind string, vals binary"
    )

    chain_schema = (
        "level double, ckey long, pts binary, "
        "x0 double, y0 double, x1 double, y1 double, closed boolean"
    )

    def tile_chains(key, tile_pdf: pd.DataFrame, halo_pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["level", "ckey", "pts", "x0", "y0", "x1", "y1", "closed"]
        if len(tile_pdf) == 0:
            return pd.DataFrame(columns=cols)
        r = tile_pdf.iloc[0]
        h, w = int(r["h"]), int(r["w"])
        arr = np.frombuffer(bytes(r["data"]), dtype=np.float64).reshape(h, w)
        ext = np.full((h + 1, w + 1), np.nan)
        ext[:h, :w] = arr
        for n in halo_pdf.itertuples(index=False):
            v = np.frombuffer(bytes(n.vals), dtype=np.float64)
            if n.kind == "col" and len(v) >= h:
                ext[:h, w] = v[:h]
            elif n.kind == "row" and len(v) >= w:
                ext[h, :w] = v[:w]
            elif n.kind == "corner":
                ext[h, w] = v[0]
        # missing halo strips stay NaN; cell_segments' finite-corner
        # mask then skips EXACTLY the cells that depend on them (a
        # sparse layout missing only the diagonal neighbor loses only
        # the corner cell, and nodata NaN inside the tile is skipped
        # like the reference does) — no rectangle truncation
        tx, ty = int(key[0]), int(key[1])
        ox = tx * tile_size
        oy = ty * tile_size
        rows = []
        for li, lv in enumerate(lvls):
            segs = cell_segments(ext, lv, origin=(ox, oy))
            for idx, line in enumerate(chain_polylines(segs)):
                pts = np.ascontiguousarray(line, dtype=np.float64)
                rows.append(
                    {
                        "level": lv,
                        "ckey": _pack_ckey(tx, ty, li, idx),
                        "pts": pts.tobytes(),
                        "x0": float(pts[0, 0]), "y0": float(pts[0, 1]),
                        "x1": float(pts[-1, 0]), "y1": float(pts[-1, 1]),
                        "closed": bool(np.array_equal(pts[0], pts[-1])),
                    }
                )
        return pd.DataFrame(rows, columns=cols)

    # partial chains per (tile, level) — parallelism O(tiles x levels);
    # materialized once (3 downstream consumers)
    chains = (
        src.groupBy("tile_x", "tile_y")
        .cogroup(halos.groupBy("tile_x", "tile_y"))
        .applyInPandas(tile_chains, schema=chain_schema)
        .localCheckpoint(eager=True)
    )

    def finalize(levels_s, pts_groups):
        rows = []
        for lv, node_lines in zip(levels_s, pts_groups):
            for line in node_lines:
                g = _nodes_to_geo(line, gt)
                rows.append(
                    {
                        "level": float(lv),
                        "n_points": len(g),
                        "closed": bool(np.array_equal(g[0], g[-1])),
                        "wkb": geom.wkb_linestring(g),
                        "length": float(np.hypot(*(np.diff(g, axis=0).T)).sum()),
                    }
                )
        cols = ["level", "n_points", "closed", "wkb", "length"]
        return pd.DataFrame(rows, columns=cols)

    # rings closed within one tile finalize in a narrow pass (no shuffle)
    def finalize_closed(batches):
        for pdf in batches:
            yield finalize(
                pdf["level"],
                [
                    [np.frombuffer(b, dtype=np.float64).reshape(-1, 2)]
                    for b in pdf["pts"]
                ],
            )

    closed_out = chains.where(F.col("closed")).mapInPandas(
        finalize_closed, schema=OUT_SCHEMA
    )

    open_chains = chains.where(~F.col("closed"))
    ep = open_chains.select(
        "ckey", "level", F.col("x0").alias("x"), F.col("y0").alias("y")
    ).union(
        open_chains.select(
            "ckey", "level", F.col("x1").alias("x"), F.col("y1").alias("y")
        )
    )
    ep_b = ep.select(
        F.col("level").alias("level_b"), F.col("x").alias("x_b"),
        F.col("y").alias("y_b"), F.col("ckey").alias("key_b"),
    )
    # endpoints of adjacent tiles' chains are bitwise-identical, so this
    # is an exact equi-join; level is part of the key (spreads hashing,
    # and only same-level chains may merge). Typical endpoint degree <= 2
    # so no .distinct() is needed.
    pairs = (
        ep.join(
            ep_b,
            (ep["level"] == F.col("level_b"))
            & (ep["x"] == F.col("x_b"))
            & (ep["y"] == F.col("y_b")),
        )
        .where(F.col("ckey") < F.col("key_b"))
        .select(F.col("ckey").alias("key"), "key_b")
    )

    # driver union-find fast path under the LIMIT-bounded cap, else the
    # fully distributed min-label propagation (polygonize.cc_labels)
    from .polygonize import cc_labels

    spark = tiles_df.sparkSession
    head = (
        pairs.limit(driver_cc_max_edges + 1).collect()
        if driver_cc_max_edges
        else []
    )
    if driver_cc_max_edges and len(head) <= driver_cc_max_edges:
        parent: dict[int, int] = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for e in head:
            ru, rv = find(int(e.key)), find(int(e.key_b))
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        mapping = [(k, find(k)) for k in parent]
        labels = (
            F.broadcast(spark.createDataFrame(mapping, "key long, gkey0 long"))
            if mapping
            else None
        )
    else:
        labels = cc_labels(pairs)

    if labels is not None:
        labeled = open_chains.join(
            labels, open_chains["ckey"] == labels["key"], "left"
        ).withColumn("gkey", F.coalesce(F.col("gkey0"), F.col("ckey")))
    else:
        labeled = open_chains.withColumn("gkey", F.col("ckey"))

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        parts = [
            np.frombuffer(b, dtype=np.float64).reshape(-1, 2)
            for b in pdf["pts"]
        ]
        return finalize([float(pdf["level"].iloc[0])], [merge_chains(parts)])

    merged = group_by_key(
        labeled.select("level", "gkey", "pts"), ("gkey",), (), assemble,
        "contour", OUT_SCHEMA, log,
    )
    return merged.unionByName(closed_out)


# ---------------------------------------------------------------------------
# Contour polygons (gdal_contour -p)
# ---------------------------------------------------------------------------
# Reference: apps/gdal_contour_lib.cpp polygon mode — polygons covering
# each [level_i, level_i+1) band, with the below-first and above-last
# bands included (attributes ELEV_FIELD_MIN/MAX). Re-expressed as a
# composition: classify pixels into band indices (np.digitize), then the
# engine's distributed polygonize produces the band polygons. (The
# reference traces iso-rings directly; classification+polygonize yields
# the same pixel-aligned region decomposition for raster input.)


def classify_levels(band: np.ndarray, levels) -> np.ndarray:
    """Pixel -> 1-based level-band index: 1 = below levels[0],
    len(levels)+1 = above the last level. Bands are [lo, hi). Non-finite
    (nodata) pixels map to band 0, which the polygonize stage excludes —
    np.digitize would otherwise put NaN past the last edge and inflate
    the top band (gdal_contour -p excludes nodata)."""
    b = np.asarray(band, dtype=np.float64)
    cls = np.digitize(b, np.asarray(levels, dtype=np.float64)) + 1.0
    cls[~np.isfinite(b)] = 0.0
    return cls


def band_bounds(levels):
    """[(band_index, lo, hi)] with -inf/+inf end caps."""
    edges = [float("-inf")] + [float(v) for v in levels] + [float("inf")]
    return [(k + 1, edges[k], edges[k + 1]) for k in range(len(edges) - 1)]


def contour_polygons_array(band: np.ndarray, gt, levels,
                           connect8: bool = False):
    """Local kernel/oracle: [(band_index, lo, hi, n_pixels, polygons)]
    per connected region of one level band."""
    from .polygonize import polygonize_array

    cls = classify_levels(band, levels)
    bounds = dict((k, (lo, hi)) for k, lo, hi in band_bounds(levels))
    out = []
    for value, n_px, polys in polygonize_array(cls, gt, connect8=connect8,
                                               exclude=(0.0,)):
        k = int(value)
        lo, hi = bounds[k]
        out.append((k, lo, hi, n_px, polys))
    return out


def contour_polygons_tiles(
    tiles_df: DataFrame,
    gt,
    levels,
    tile_size: int = 256,
    connect8: bool = False,
    driver_cc_max_edges: int = 100_000,
) -> DataFrame:
    """Distributed contour polygons: classify each tile in a narrow
    stage (float64 bytes in/out, no shuffle), then polygonize_tiles —
    output rows are connected level-band regions with (band, lo, hi,
    n_px, wkb, area). Inherits polygonize's distributed connected
    components, so cross-tile bands stitch without driver state."""
    from .polygonize import polygonize_tiles

    lv = [float(v) for v in levels]

    def classify(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(bytes(r.data), dtype=np.float64).reshape(
                    r.h, r.w
                )
                rows.append(
                    {
                        "tile_x": int(r.tile_x), "tile_y": int(r.tile_y),
                        "w": int(r.w), "h": int(r.h),
                        "data": classify_levels(arr, lv).tobytes(),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["tile_x", "tile_y", "w", "h", "data"]
            )

    classified = tiles_df.select(
        "tile_x", "tile_y", "w", "h", "data"
    ).mapInPandas(
        classify, schema="tile_x int, tile_y int, w int, h int, data binary"
    )
    polys = polygonize_tiles(
        classified, gt, tile_size=tile_size, connect8=connect8,
        exclude=(0.0,), driver_cc_max_edges=driver_cc_max_edges,
    )
    edges = band_bounds(lv)
    lo_map = F.create_map(
        *[F.lit(v) for k, lo, hi in edges for v in (float(k), lo)]
    )
    hi_map = F.create_map(
        *[F.lit(v) for k, lo, hi in edges for v in (float(k), hi)]
    )
    return (
        polys.withColumn("band", F.col("value").cast("int"))
        .withColumn("lo", lo_map[F.col("value")])
        .withColumn("hi", hi_map[F.col("value")])
        .drop("value")
    )
