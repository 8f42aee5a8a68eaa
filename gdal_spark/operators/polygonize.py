"""Polygonize: raster regions of equal value -> vector polygons.

Reference: alg/polygonize.cpp (GDALPolygonize, 587 LoC) — two-pass
connected-component labeling with an RPolygonizer ring builder, 4- or
8-connectedness (GDALPolygonize "8CONNECTED" option), nodata exclusion.

Spark mapping: the raster arrives as the engine's tiled layout
(tile_x, tile_y, w, h, data float64 rows — the rasterize output schema).

1. Per tile (one pandas pass): run-based union-find connected components
   (``label_components``), then per-region boundary edges in GLOBAL
   integer pixel-corner coordinates (only edges whose neighbor differs —
   O(perimeter), not O(area)) plus the tile-border runs needed for
   stitching.
2. Cross-tile stitch: border runs of adjacent tiles equi-join on the
   shared edge; matching (value-equal, overlapping) run pairs become
   label-equivalence EDGES. Small edge sets (bounded by
   ``driver_cc_max_edges``) resolve with a driver-side union-find;
   larger graphs run fully distributed min-label propagation with
   pointer doubling (``cc_labels``) — labels converge to the component
   minimum in O(log n) rounds of join+agg, no driver-side O(data)
   structure. The pixel data never leaves the executors either way.
3. Per-tile fragment chaining (inside pass 1): each tile chains its own
   interior boundary edges into compacted polyline fragments
   (``chain_fragments`` + collinear dropping — O(turns), bounded by the
   tile). Unit edges ON tile border lines ship separately ('w' rows).
4. Wall cancellation: an interior-border unit edge is emitted by BOTH
   adjacent tiles in opposite directions iff the region continues across
   the border; a groupBy (gkey, edge) direction-sum cancels those in a
   well-spread shuffle. Survivors are real boundary.
5. Region build keyed by the global label (plans.grouping.group_by_key:
   one key shuffle into one task per core, then one walk over the sorted
   runs): one region's pre-chained FRAGMENTS meet as one frame and merge
   endpoint-to-endpoint into rings (``merge_fragments`` — integer
   endpoints, exact), then assemble_polygons + the geo transform.

The per-region merge holds one region's compacted boundary (turn
vertices, not perimeter pixels) in memory — strictly less than the
reference's RPolygonizer contract, and the unit-edge chaining work is
distributed per tile instead of serialized per region. A
continent-spanning region's WKB row is still O(its vertices): that
serialization floor is inherent to emitting one geometry per region.
"""

from __future__ import annotations

import logging
from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import geom
from ..booleans import assemble_polygons
from ..plans.grouping import group_by_key

log = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# local kernel: run-based union-find CC
# ---------------------------------------------------------------------------


class _UF:
    __slots__ = ("p",)

    def __init__(self, n: int):
        self.p = list(range(n))

    def find(self, a: int) -> int:
        p = self.p
        while p[a] != a:
            p[a] = p[p[a]]
            a = p[a]
        return a

    def union(self, a: int, b: int):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _row_runs(row: np.ndarray):
    """(starts, ends, values) of equal-value runs in one row."""
    n = len(row)
    if n == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.int64), row
    brk = np.nonzero(row[1:] != row[:-1])[0] + 1
    starts = np.concatenate([[0], brk])
    ends = np.concatenate([brk, [n]])
    return starts, ends, row[starts]


def label_components(
    arr: np.ndarray, connect8: bool = False, exclude=None
) -> tuple[np.ndarray, int]:
    """Connected-component labels (1..n; 0 = excluded) of equal-value
    regions, 4- or 8-connected — the GDALPolygonize labeling pass."""
    a = np.asarray(arr)
    h, w = a.shape
    labels = np.zeros((h, w), dtype=np.int64)
    run_rows = []
    nruns = 0
    excl = set(exclude) if exclude is not None else set()
    for r in range(h):
        s, e, v = _row_runs(a[r])
        ids = np.arange(nruns, nruns + len(s))
        nruns += len(s)
        run_rows.append((s, e, v, ids))
    uf = _UF(nruns)
    pad = 1 if connect8 else 0
    for r in range(1, h):
        s0, e0, v0, i0 = run_rows[r - 1]
        s1, e1, v1, i1 = run_rows[r]
        j = 0
        for k in range(len(s1)):
            while j < len(s0) and e0[j] + pad <= s1[k]:
                j += 1
            jj = j
            while jj < len(s0) and s0[jj] < e1[k] + pad:
                if v0[jj] == v1[k]:
                    uf.union(int(i0[jj]), int(i1[k]))
                jj += 1
    # run id -> dense component label (excluded values -> 0)
    root = np.array([uf.find(i) for i in range(nruns)], dtype=np.int64)
    dense = {}
    nxt = 1
    for r in range(h):
        s, e, v, ids = run_rows[r]
        for k in range(len(s)):
            if v[k] in excl or (isinstance(v[k], float) and np.isnan(v[k])):
                continue
            rt = int(root[ids[k]])
            lab = dense.get(rt)
            if lab is None:
                lab = nxt
                dense[rt] = lab
                nxt += 1
            labels[r, s[k]:e[k]] = lab
    return labels, nxt - 1


def boundary_segment_arrays(labels: np.ndarray, origin=(0, 0)):
    """Vectorized directed boundary edges: only edges whose neighbor has
    a different label are emitted — O(perimeter), no Python loop.

    Returns (L, x0, y0, x1, y1) int64 arrays in GLOBAL pixel-corner
    coordinates offset by ``origin`` = (x_off, y_off)."""
    h, w = labels.shape
    ox, oy = origin
    padded = np.zeros((h + 2, w + 2), dtype=labels.dtype)
    padded[1:-1, 1:-1] = labels
    lab = padded[1:-1, 1:-1]

    outs = []
    # (neighbor slab, segment endpoints as fns of pixel corner x,y)
    for nbr, seg in (
        (padded[:-2, 1:-1], lambda x, y: (x, y, x + 1, y)),          # top
        (padded[1:-1, 2:], lambda x, y: (x + 1, y, x + 1, y + 1)),   # right
        (padded[2:, 1:-1], lambda x, y: (x + 1, y + 1, x, y + 1)),   # bottom
        (padded[1:-1, :-2], lambda x, y: (x, y + 1, x, y)),          # left
    ):
        ys, xs = np.nonzero((lab != nbr) & (lab != 0))
        x = xs.astype(np.int64) + ox
        y = ys.astype(np.int64) + oy
        x0, y0, x1, y1 = seg(x, y)
        outs.append((lab[ys, xs].astype(np.int64), x0, y0, x1, y1))
    return tuple(np.concatenate([o[i] for o in outs]) for i in range(5))


def boundary_segments(labels: np.ndarray, origin=(0, 0)):
    """Dict form of :func:`boundary_segment_arrays` —
    {label: [(x0, y0, x1, y1), ...]} (the local-oracle / buffer /
    footprint entry point). Region-on-the-inside clockwise in
    (x right, y down) pixel-corner coordinates, which flips to CCW once
    a north-up geotransform inverts y."""
    L, x0, y0, x1, y1 = boundary_segment_arrays(labels, origin)
    segs: dict[int, list] = defaultdict(list)
    order = np.argsort(L, kind="stable")
    for i in order.tolist():
        segs[int(L[i])].append((int(x0[i]), int(y0[i]), int(x1[i]), int(y1[i])))
    return segs


def chain_rings(segments) -> list[np.ndarray]:
    """Cancel opposite duplicates, then chain directed integer segments
    into closed rings. At pinch vertices the leftmost-continuation is
    arbitrary but deterministic (sorted adjacency)."""
    net: dict[tuple, int] = defaultdict(int)
    for x0, y0, x1, y1 in segments:
        a, b = (x0, y0), (x1, y1)
        if (b, a) in net and net[(b, a)] > 0:
            net[(b, a)] -= 1
            if net[(b, a)] == 0:
                del net[(b, a)]
        else:
            net[(a, b)] += 1
    adj: dict[tuple, list] = defaultdict(list)
    n = 0
    for (a, b), cnt in net.items():
        for _ in range(cnt):
            adj[a].append(b)
            n += 1
    for v in adj.values():
        v.sort()
    rings = []
    while n > 0:
        start = min(k for k, v in adj.items() if v)
        chain = [start]
        cur = adj[start].pop()
        n -= 1
        while cur != start:
            chain.append(cur)
            nxts = adj[cur]
            if not nxts:
                break  # broken chain: drop
            cur = nxts.pop()
            n -= 1
        else:
            if len(chain) >= 3:
                coords = np.array(chain + [chain[0]], dtype=np.float64)
                rings.append(_drop_collinear(coords))
    return rings


def chain_fragments(segments):
    """Chain directed unit segments (no duplicates — one tile's one
    region never emits opposite edges) into (closed_rings, open_chains)
    as integer-vertex point lists. Deterministic: open chains start at
    out-surplus vertices in sorted order, rings at the min remaining
    vertex; the successor choice pops the largest next vertex (the same
    rule as :func:`chain_rings`)."""
    adj: dict[tuple, list] = defaultdict(list)
    bal: dict[tuple, int] = defaultdict(int)
    for x0, y0, x1, y1 in segments:
        a, b = (int(x0), int(y0)), (int(x1), int(y1))
        adj[a].append(b)
        bal[a] += 1
        bal[b] -= 1
    for v in adj.values():
        v.sort()
    starts = []
    for k, d in bal.items():
        starts.extend([k] * max(0, d))
    chains = []
    for s in sorted(starts):
        if not adj.get(s):
            continue
        chain = [s]
        cur = s
        while adj.get(cur):
            cur = adj[cur].pop()
            chain.append(cur)
        if len(chain) >= 2:
            chains.append(chain)
    rings = []
    while True:
        rem = [k for k, v in adj.items() if v]
        if not rem:
            break
        s = min(rem)
        ring = [s]
        cur = adj[s].pop()
        ring.append(cur)
        while cur != s:
            nxt = adj[cur]
            if not nxt:
                break  # broken chain: drop
            cur = nxt.pop()
            ring.append(cur)
        if cur == s and len(ring) >= 4:
            rings.append(ring)
    return rings, chains


def _compact_polyline(pts) -> np.ndarray:
    """Open polyline: drop interior collinear vertices, keep endpoints."""
    a = np.asarray(pts, dtype=np.float64)
    if len(a) <= 2:
        return a
    d1 = a[1:-1] - a[:-2]
    d2 = a[2:] - a[1:-1]
    cross = d1[:, 0] * d2[:, 1] - d1[:, 1] * d2[:, 0]
    keep = np.ones(len(a), dtype=bool)
    keep[1:-1] = cross != 0
    return a[keep]


def merge_fragments(frags: list[np.ndarray]) -> list[np.ndarray]:
    """Merge directed open fragments (post wall-cancellation the endpoint
    graph is per-vertex balanced) into closed rings. At junctions the
    successor fragment with the largest second vertex wins — for
    axis-aligned boundary runs that ordering equals the unit-step
    ordering :func:`chain_rings` uses, independent of run length."""
    adj: dict[tuple, list] = defaultdict(list)
    for i, f in enumerate(frags):
        if len(f) >= 2:
            adj[tuple(f[0])].append(i)
    for k in adj:
        adj[k].sort(key=lambda i: tuple(frags[i][1]))
    used = [False] * len(frags)
    rings = []
    order = sorted(
        (i for i in range(len(frags)) if len(frags[i]) >= 2),
        key=lambda i: (tuple(frags[i][0]), tuple(frags[i][1])),
    )
    for i0 in order:
        if used[i0]:
            continue
        used[i0] = True
        parts = [frags[i0]]
        start = tuple(frags[i0][0])
        cur = tuple(frags[i0][-1])
        ok = True
        while cur != start:
            j = None
            lst = adj.get(cur)
            while lst:
                cand = lst.pop()
                if not used[cand]:
                    j = cand
                    break
            if j is None:
                ok = False  # broken chain: drop (mirrors chain_rings)
                break
            used[j] = True
            parts.append(frags[j][1:])  # junction vertex emitted once
            cur = tuple(frags[j][-1])
        if ok and sum(len(p) for p in parts) >= 4:
            rings.append(np.vstack(parts))
    return rings


def _drop_collinear(ring: np.ndarray) -> np.ndarray:
    """Remove interior collinear vertices (unit-edge chains -> runs)."""
    if len(ring) < 4:
        return ring
    pts = ring[:-1]
    prv = np.roll(pts, 1, axis=0)
    nxt = np.roll(pts, -1, axis=0)
    cross = (pts[:, 0] - prv[:, 0]) * (nxt[:, 1] - pts[:, 1]) - (
        pts[:, 1] - prv[:, 1]
    ) * (nxt[:, 0] - pts[:, 0])
    keep = cross != 0
    if keep.sum() < 3:
        return ring
    out = pts[keep]
    return np.vstack([out, out[0]])


def polygonize_array(arr, gt, connect8: bool = False, exclude=None):
    """Single-array polygonize (the local oracle): returns a list of
    (value, n_pixels, polygons) with polygons in geo coordinates."""
    labels, n = label_components(arr, connect8, exclude)
    segs = boundary_segments(labels)
    out = []
    for lab in range(1, n + 1):
        rings = chain_rings(segs[lab])
        geo_rings = [_px_ring_to_geo(r, gt) for r in rings]
        polys = assemble_polygons(geo_rings)
        mask = labels == lab
        vals = np.asarray(arr)[mask]
        out.append((float(vals[0]), int(mask.sum()), polys))
    return out


def _px_ring_to_geo(ring: np.ndarray, gt) -> np.ndarray:
    x = gt[0] + ring[:, 0] * gt[1] + ring[:, 1] * gt[2]
    y = gt[3] + ring[:, 0] * gt[4] + ring[:, 1] * gt[5]
    out = np.stack([x, y], axis=1)
    # a mirroring transform (north-up: gt5 < 0) flips orientation; restore
    # it so exteriors stay CCW and assemble_polygons classifies correctly
    det = gt[1] * gt[5] - gt[2] * gt[4]
    if det < 0:
        out = out[::-1].copy()
    return out


# ---------------------------------------------------------------------------
# distributed operator
# ---------------------------------------------------------------------------

# One unified local pass emits these row kinds (single decode + label per
# tile, vs two full passes in the earlier design):
#   kind 'f' (fragment):   key, pts = open boundary polyline (compacted)
#   kind 'r' (ring):       key, pts = closed boundary ring (compacted)
#   kind 'w' (wall):       key, a=x0 b=y0 c=x1 d=y1 — unit edge ON a tile
#                          border line; cancels by parity across tiles
#   kind 'n' (region row): key, value, npix          (one per local region)
#   kind 'v'/'h' (border): key, value, a=coord b=pos0 c=pos1
_ROW_SCHEMA = (
    "kind string, key long, value double, npix long, "
    "a long, b long, c long, d long, pts binary"
)

OUT_SCHEMA = (
    "fid long, value double, n_pixels long, wkb binary, "
    "minx double, miny double, maxx double, maxy double, area double"
)


def _tile_rows(pdf_iter, tile_size, connect8, exclude):
    cols = ["kind", "key", "value", "npix", "a", "b", "c", "d", "pts"]
    for pdf in pdf_iter:
        frames = []
        for r in pdf.itertuples(index=False):
            arr = np.frombuffer(bytes(r.data), dtype=np.float64).reshape(r.h, r.w)
            labels, n = label_components(arr, connect8, exclude)
            if n == 0:
                continue
            # key layout: tile_x[20] | tile_y[20] | label[22] — validate
            # the packing instead of silently colliding (a 2048^2 tile's
            # worst-case checkerboard has 2^21 regions < 2^22; larger
            # tiles or out-of-range tile indices would overflow fields)
            if not (0 <= int(r.tile_x) < 1 << 20
                    and 0 <= int(r.tile_y) < 1 << 20):
                raise ValueError(
                    f"tile index ({r.tile_x}, {r.tile_y}) outside the "
                    "20-bit key field"
                )
            if n >= 1 << 22:
                raise ValueError(
                    f"{n} regions in one tile overflow the 22-bit label "
                    "field — use tile_size <= 2048"
                )
            tkey = (int(r.tile_x) << 20 | int(r.tile_y)) << 22
            ox, oy = int(r.tile_x) * tile_size, int(r.tile_y) * tile_size

            # segments (vectorized O(perimeter)) -> chained IN-TILE into
            # compacted fragments (O(turns), bounded by the tile), so no
            # downstream task ever chains a whole region's unit edges.
            # Edges ON the tile's border lines stay unit ('w'): they may
            # cancel against the neighbor tile's opposite emission.
            L, x0, y0, x1, y1 = boundary_segment_arrays(labels, origin=(ox, oy))
            h, w = labels.shape
            is_wall = ((x0 == x1) & ((x0 == ox) | (x0 == ox + w))) | (
                (y0 == y1) & ((y0 == oy) | (y0 == oy + h))
            )
            frames.append(
                pd.DataFrame(
                    {
                        "kind": "w", "key": tkey | L[is_wall], "value": 0.0,
                        "npix": 0, "a": x0[is_wall], "b": y0[is_wall],
                        "c": x1[is_wall], "d": y1[is_wall], "pts": None,
                    },
                    columns=cols,
                )
            )
            inner = ~is_wall
            Li = L[inner]
            seg_i = np.stack(
                [x0[inner], y0[inner], x1[inner], y1[inner]], axis=1
            )
            frag_rows = []
            if len(Li):
                lorder = np.argsort(Li, kind="stable")
                Ls = Li[lorder]
                seg_s = seg_i[lorder]
                cut = np.nonzero(Ls[1:] != Ls[:-1])[0] + 1
                for lab, block in zip(
                    Ls[np.concatenate([[0], cut])],
                    np.split(seg_s, cut),
                ):
                    rings, chains = chain_fragments(block.tolist())
                    k = tkey | int(lab)
                    for rg in rings:
                        p = _drop_collinear(
                            np.asarray(rg, dtype=np.float64)
                        )
                        frag_rows.append(
                            ("r", k, 0.0, 0, 0, 0, 0, 0, p.tobytes())
                        )
                    for ch in chains:
                        p = _compact_polyline(ch)
                        frag_rows.append(
                            ("f", k, 0.0, 0, 0, 0, 0, 0, p.tobytes())
                        )
            if frag_rows:
                frames.append(pd.DataFrame(frag_rows, columns=cols))
            # one region row per label: pixel count + representative value
            counts = np.bincount(labels.ravel(), minlength=n + 1)
            uniq, first_idx = np.unique(labels.ravel(), return_index=True)
            firstval = np.zeros(n + 1, dtype=np.float64)
            firstval[uniq] = arr.ravel()[first_idx]
            labs = np.arange(1, n + 1, dtype=np.int64)
            frames.append(
                pd.DataFrame(
                    {
                        "kind": "n", "key": tkey | labs,
                        "value": firstval[1:], "npix": counts[1 : n + 1],
                        "a": 0, "b": 0, "c": 0, "d": 0, "pts": None,
                    },
                    columns=cols,
                )
            )
            # tile-border runs for cross-tile stitching
            h, w = labels.shape
            brows = []
            for side, line_lab, line_val, coord, off in (
                ("v", labels[:, -1], arr[:, -1], ox + w, oy),   # right border
                ("v", labels[:, 0], arr[:, 0], ox, oy),         # left border
                ("h", labels[-1, :], arr[-1, :], oy + h, ox),   # bottom border
                ("h", labels[0, :], arr[0, :], oy, ox),         # top border
            ):
                s, e, v = _row_runs(line_lab)
                for k in range(len(s)):
                    lab = int(v[k])
                    if lab == 0:
                        continue
                    brows.append(
                        (
                            side, tkey | lab, float(line_val[s[k]]), 0,
                            int(coord), int(s[k]) + off, int(e[k]) + off, 0,
                            None,
                        )
                    )
            if brows:
                frames.append(pd.DataFrame(brows, columns=cols))
        if frames:
            yield pd.concat(frames, ignore_index=True)
        else:
            yield pd.DataFrame(
                {
                    "kind": pd.Series(dtype=object),
                    "key": pd.Series(dtype=np.int64),
                    "value": pd.Series(dtype=np.float64),
                    "npix": pd.Series(dtype=np.int64),
                    "a": pd.Series(dtype=np.int64),
                    "b": pd.Series(dtype=np.int64),
                    "c": pd.Series(dtype=np.int64),
                    "d": pd.Series(dtype=np.int64),
                    "pts": pd.Series(dtype=object),
                }
            )


def cc_labels(pairs: DataFrame, max_iter: int = 64) -> DataFrame:
    """Distributed connected components: min-label propagation with
    pointer doubling. Input: undirected edge DataFrame (key, key_b).
    Output: (key, gkey0) for every node in the edge set, where gkey0 is
    the component-minimum node id.

    Labels only ever decrease, so convergence is detected when the
    decimal sum of all labels stops changing (exact — no long overflow).
    Pointer doubling (label := label[label]) collapses chain graphs in
    O(log n) rounds instead of O(diameter); each round is two shuffles
    plus one aggregate, with lineage truncated via eager
    localCheckpoint. Nothing proportional to the edge count ever lands
    on the driver — this is the 100-TB path; the driver union-find in
    :func:`polygonize_tiles` is only a small-input fast path."""
    sym = (
        pairs.select(F.col("key").alias("u"), F.col("key_b").alias("v"))
        .union(pairs.select(F.col("key_b").alias("u"), F.col("key").alias("v")))
        .persist()
    )
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("label"))
    )
    prev_sum = None
    for _ in range(max_iter):
        # propagate the neighbor's current label across each edge
        nb = sym.join(
            labels.select(
                F.col("u").alias("v"), F.col("label").alias("vlabel")
            ),
            "v",
        ).select("u", F.col("vlabel").alias("label"))
        new = labels.union(nb).groupBy("u").agg(F.min("label").alias("label"))
        # pointer doubling: label := label(label)
        hop = new.select(
            F.col("u").alias("mid"), F.col("label").alias("label2")
        )
        new = new.join(hop, new["label"] == hop["mid"], "left").select(
            "u", F.coalesce("label2", "label").alias("label")
        )
        new = new.localCheckpoint(eager=True)
        s = new.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        labels = new
        if s is None:
            break  # empty edge set: nothing to propagate, done
        if prev_sum is not None and s == prev_sum:
            break
        prev_sum = s
    sym.unpersist()
    return labels.select(
        F.col("u").alias("key"), F.col("label").alias("gkey0")
    )


def polygonize_tiles(
    tiles_df: DataFrame,
    gt,
    tile_size: int = 256,
    connect8: bool = False,
    exclude=(0.0,),
    driver_cc_max_edges: int = 100_000,
) -> DataFrame:
    """Distributed polygonize over the tiled raster layout. Returns one
    row per connected region: fid (stable global label), value, pixel
    count, multipolygon WKB in geo coords (+ envelope, area).

    Cross-tile label equivalence uses a driver union-find only while the
    edge set fits in ``driver_cc_max_edges`` (fetched with a LIMIT, so
    the driver never materializes more than the cap + 1 rows); beyond
    that it switches to fully distributed :func:`cc_labels`. Set the cap
    to 0 to force the distributed path. The region build runs one task
    per core (``group_by_key``'s explicit partition count), so AQE cannot
    coalesce the few-byte fragment rows into one task."""
    src = tiles_df.select("tile_x", "tile_y", "w", "h", "data")

    # ONE decode+label pass per tile; output is O(perimeter + regions)
    rows = src.mapInPandas(
        lambda it: _tile_rows(it, tile_size, connect8, exclude),
        schema=_ROW_SCHEMA,
    ).persist()

    borders = rows.where(F.col("kind").isin("v", "h"))
    b = borders.select(
        F.col("kind").alias("kind_b"), F.col("a").alias("coord_b"),
        F.col("b").alias("pos0_b"), F.col("c").alias("pos1_b"),
        F.col("value").alias("value_b"), F.col("key").alias("key_b"),
    )
    pad = 1 if connect8 else 0  # 8-connect: runs may link diagonally
    # value is part of the EQUI-join key: only same-value runs can merge,
    # and it spreads the hash partitioning beyond the ~O(tiles) distinct
    # grid lines. No .distinct(): duplicate edges (two regions touching
    # along several runs) are harmless to both consumers — the driver
    # union-find is idempotent and cc_labels aggregates with min() — so
    # the extra shuffle bought nothing.
    pairs = (
        borders.join(
            b,
            (borders["kind"] == b["kind_b"])
            & (borders["a"] == F.col("coord_b"))
            & (borders["value"] == F.col("value_b")),
            "inner",
        )
        .where(
            (F.col("key") < F.col("key_b"))
            & (F.col("b") < F.col("pos1_b") + F.lit(pad))
            & (F.col("c") + F.lit(pad) > F.col("pos0_b"))
        )
        .select("key", "key_b")
    )
    # keys on opposite sides of the same grid line share `coord`; a tile's
    # own two sides never collide because left/right emit distinct coords

    spark = tiles_df.sparkSession
    head = pairs.limit(driver_cc_max_edges + 1).collect() if driver_cc_max_edges else []
    mapping_df = None
    broadcast_map = False
    if driver_cc_max_edges and len(head) <= driver_cc_max_edges:
        # small-input fast path: driver union-find over <= cap edges
        parent: dict[int, int] = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for r in head:
            ru, rv = find(int(r.key)), find(int(r.key_b))
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        mapping = [(k, find(k)) for k in parent]
        if mapping:
            mapping_df = spark.createDataFrame(mapping, "key long, gkey0 long")
            broadcast_map = True
    else:
        mapping_df = cc_labels(pairs)

    segs = rows.where(F.col("kind").isin("f", "r", "w", "n"))
    if mapping_df is not None:
        m = F.broadcast(mapping_df) if broadcast_map else mapping_df
        remapped = (
            segs.join(m, "key", "left")
            .withColumn("gkey", F.coalesce(F.col("gkey0"), F.col("key")))
            .drop("gkey0")
        )
    else:
        remapped = segs.withColumn("gkey", F.col("key"))

    # wall parity: a unit edge on an interior tile border is emitted by
    # BOTH adjacent tiles in opposite directions iff the region continues
    # across — those cancel here (sum of directions = 0), in a shuffle
    # keyed by (gkey, edge), never inside a per-region task. Survivors
    # (region boundary that happens to lie on a tile line, incl. the
    # raster edge) rejoin the fragment stream as 2-point fragments.
    walls = remapped.where(F.col("kind") == "w")
    fwd = (F.col("a") < F.col("c")) | (
        (F.col("a") == F.col("c")) & (F.col("b") < F.col("d"))
    )
    wcan = walls.select(
        "gkey",
        F.when(fwd, F.col("a")).otherwise(F.col("c")).alias("cx0"),
        F.when(fwd, F.col("b")).otherwise(F.col("d")).alias("cy0"),
        F.when(fwd, F.col("c")).otherwise(F.col("a")).alias("cx1"),
        F.when(fwd, F.col("d")).otherwise(F.col("b")).alias("cy1"),
        F.when(fwd, F.lit(1)).otherwise(F.lit(-1)).alias("dir"),
    )
    surv = (
        wcan.groupBy("gkey", "cx0", "cy0", "cx1", "cy1")
        .agg(F.sum("dir").alias("net"))
        .where(F.col("net") != 0)
        .select(
            "gkey",
            F.lit("w").alias("kind"),
            F.lit(0.0).alias("value"),
            F.lit(0).cast("long").alias("npix"),
            F.when(F.col("net") > 0, F.col("cx0")).otherwise(F.col("cx1")).alias("a"),
            F.when(F.col("net") > 0, F.col("cy0")).otherwise(F.col("cy1")).alias("b"),
            F.when(F.col("net") > 0, F.col("cx1")).otherwise(F.col("cx0")).alias("c"),
            F.when(F.col("net") > 0, F.col("cy1")).otherwise(F.col("cy0")).alias("d"),
            F.lit(None).cast("binary").alias("pts"),
        )
    )
    final_in = remapped.where(F.col("kind") != "w").select(
        "gkey", "kind", "value", "npix", "a", "b", "c", "d", "pts"
    ).unionByName(surv)

    # pass 2: one region per group -> merge pre-chained fragments into
    # rings (O(turn vertices), not O(perimeter pixels)), emit polygon
    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = [
            "fid", "value", "n_pixels", "wkb",
            "minx", "miny", "maxx", "maxy", "area",
        ]
        np_ = pdf[pdf["kind"] == "n"]
        frags = [
            np.frombuffer(b, dtype=np.float64).reshape(-1, 2)
            for b in pdf.loc[pdf["kind"] == "f", "pts"]
        ]
        wp = pdf[pdf["kind"] == "w"]
        frags.extend(
            np.array([[r.a, r.b], [r.c, r.d]], dtype=np.float64)
            for r in wp.itertuples(index=False)
        )
        rings = [
            np.frombuffer(b, dtype=np.float64).reshape(-1, 2)
            for b in pdf.loc[pdf["kind"] == "r", "pts"]
        ]
        rings.extend(_drop_collinear(rg) for rg in merge_fragments(frags))
        geo_rings = [_px_ring_to_geo(r, gt) for r in rings]
        polys = assemble_polygons(geo_rings)
        if not polys:
            return pd.DataFrame(columns=cols)
        area, _c = geom.polygon_area_centroid(polys)
        allc = np.vstack([r for rings_ in polys for r in rings_])
        return pd.DataFrame(
            [
                {
                    "fid": int(pdf["gkey"].iloc[0]),
                    "value": float(np_["value"].iloc[0]),
                    "n_pixels": int(np_["npix"].sum()),
                    "wkb": geom.wkb_multipolygon(polys),
                    "minx": float(allc[:, 0].min()),
                    "miny": float(allc[:, 1].min()),
                    "maxx": float(allc[:, 0].max()),
                    "maxy": float(allc[:, 1].max()),
                    "area": float(area),
                }
            ],
            columns=cols,
        )

    out = group_by_key(final_in, ("gkey",), (), build, "polygonize_tiles", OUT_SCHEMA, log)
    # materialize so the persisted pass-1 rows can be released eagerly
    out = out.localCheckpoint(eager=True)
    rows.unpersist()
    return out
