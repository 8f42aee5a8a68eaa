"""Layer algebra: Intersection / Union / SymDifference / Identity /
Update / Clip / Erase between two polygon layers — distributed.

Reference: OGRLayer::Intersection (ogr/ogrsf_frmts/generic/
ogrlayer.cpp:3345-3700), Union (:3763), SymDifference (:4300), Identity
(:4730), Update (:5148), Clip (:5497), Erase (:5806) — each a nested
loop with envelope pretests and per-pair GEOS ops.

Spark mapping (SURVEY.md §2.3): instead of the reference's quadratic
nested loop, both layers explode into the grid cells covering their
envelopes (spatial_join.with_envelope_cells) and candidate pairs come
from a hash-partitioned CELL EQUI-JOIN; each pair is reported exactly
once via the owner-cell rule (the cell containing the top-left corner of
the envelope intersection), so no dedup shuffle is needed. The per-pair
geometry work runs in the slab-decomposition boolean kernel
(gdal_spark.booleans) — non-convex inputs and holes fully supported —
inside one Arrow-batched pandas pass.

Every operator but Intersection is ONE grouped pass, the way OGR's own
Union/Identity make one pass per feature: rows keyed by (side, fid) —
side 0 an input feature, side 1 a method feature — hold the feature's
own geometry first and then its candidates, and one kernel call per
group writes the intersection pieces (a AND b per candidate) and the
remainder (a minus, or intersected with, the union of the candidates;
the nonzero-winding normalization makes the combined candidate ring set
classify as their union, so no pairwise subtraction is needed). A
feature with no candidates passes through normalized (clip drops it).
The operators differ only in which outputs they keep:

=============  ==============  ================  ======================
operator       side-0 pieces   side-0 remainder  side 1
=============  ==============  ================  ======================
erase          -               a_not_b           -
clip           -               and               -
identity       yes             a_not_b           -
union          yes             a_not_b           a_not_b (swapped)
symdifference  -               a_not_b           a_not_b (swapped)
update         -               a_not_b           own rows, normalized
=============  ==============  ================  ======================

The pass is one ``mapInPandas`` over key-sorted partitions
(plans.grouping.map_key_runs): the kernel walks each (side, fid) run as
it streams across Arrow batches, at no per-group cost beyond its own
work, and every ``FOLD`` candidates fold into a partial union, so a
feature with 1e5 candidates never holds them all; hot cells in the
candidate join are salted (see pair_candidates). Intersection needs no
grouping: one map over the pairs.

Result attributes = input fid + method fid (ogrlayer.cpp:3272-3283
field-map semantics; callers join any further attributes back on fid).
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import geom
from ..booleans import boolean_full
from ..plans.grouping import map_key_runs
from .spatial_join import col_point_cell, with_envelope_cells

log = logging.getLogger(__name__)


def _is_ccw(ring: np.ndarray) -> bool:
    a, _ = geom.ring_area_centroid(ring)
    return a > 0


def clip_ring_convex(subject: np.ndarray, clip_ring: np.ndarray) -> np.ndarray | None:
    """Sutherland-Hodgman fast path: clip ``subject`` by the CONVEX
    ``clip_ring`` (both closed). Kept for rectangle/convex callers; the
    general path is gdal_spark.booleans."""
    clip_pts = clip_ring[:-1] if np.array_equal(clip_ring[0], clip_ring[-1]) else clip_ring
    if not _is_ccw(np.vstack([clip_pts, clip_pts[0]])):
        clip_pts = clip_pts[::-1]
    pts = subject[:-1] if np.array_equal(subject[0], subject[-1]) else subject
    pts = np.asarray(pts, dtype=np.float64)

    n = len(clip_pts)
    for i in range(n):
        if len(pts) == 0:
            return None
        a = clip_pts[i]
        b = clip_pts[(i + 1) % n]
        edge = b - a
        rel = pts - a
        side = edge[0] * rel[:, 1] - edge[1] * rel[:, 0]
        out = []
        m = len(pts)
        for j in range(m):
            cur, prv = pts[j], pts[j - 1]
            ci, pi = side[j] >= 0, side[j - 1] >= 0
            if ci:
                if not pi:
                    out.append(_edge_intersect(prv, cur, a, b))
                out.append(cur)
            elif pi:
                out.append(_edge_intersect(prv, cur, a, b))
        pts = np.array(out) if out else np.zeros((0, 2))
    if len(pts) < 3:
        return None
    return np.vstack([pts, pts[0]])


def _edge_intersect(p, q, a, b):
    r = q - p
    s = b - a
    denom = r[0] * s[1] - r[1] * s[0]
    if denom == 0:
        return q
    t = ((a[0] - p[0]) * s[1] - (a[1] - p[1]) * s[0]) / denom
    return p + r * t


# ---------------------------------------------------------------------------
# candidate pairs: cell equi-join with owner-cell dedup
# ---------------------------------------------------------------------------


_WORLD_M = 2 * np.pi * 6378137.0  # mercator world extent (meters)


def _adaptive_cell_zoom(i_env: DataFrame, m_env: DataFrame) -> int:
    """Pick the cell grid zoom from envelope statistics of BOTH layers:
    cell size ~ the median envelope extent (a typical feature covers
    ~1-4 cells), capped so the LARGEST feature never explodes into more
    than ~64x64 cells. One tiny aggregate (6 doubles to the driver) —
    replaces the fixed cell_zoom=4 that left one-cell hot spots at scale
    (SURVEY §4 skew prescription)."""
    def extents(env):
        return env.select(
            (F.col("maxx") - F.col("minx")).alias("w"),
            (F.col("maxy") - F.col("miny")).alias("h"),
        )

    stats = (
        extents(i_env).unionAll(extents(m_env))
        .agg(
            F.percentile_approx("w", 0.5).alias("med_w"),
            F.percentile_approx("h", 0.5).alias("med_h"),
            F.max("w").alias("max_w"),
            F.max("h").alias("max_h"),
        )
        .first()
    )
    med = max(float(stats.med_w or 0), float(stats.med_h or 0), 1e-9)
    mx = max(float(stats.max_w or 0), float(stats.max_h or 0), med)
    z_med = int(np.floor(np.log2(_WORLD_M / med)))
    z_cap = int(np.floor(np.log2(_WORLD_M / mx))) + 6  # largest <= 64x64 cells
    zoom = max(2, min(z_med, z_cap, 12))
    log.info(
        "pair_candidates: cell zoom %d from median envelope extent %.6g, "
        "maximum %.6g", zoom, med, mx,
    )
    return zoom


def pair_candidates(
    input_layer: DataFrame,
    method_layer: DataFrame,
    input_fid: str = "fid",
    method_fid: str = "fid",
    cell_zoom: int | None = None,
    hot_cell_threshold: int = 4096,
    max_salts: int = 32,
) -> DataFrame:
    """Envelope-intersecting (input, method) feature pairs, each emitted
    EXACTLY once: both sides explode into covering cells at ``cell_zoom``
    (``None`` = envelope-stat adaptive, see :func:`_adaptive_cell_zoom`),
    equi-join on cell, and a pair is kept only in the cell that contains
    the (max-minx, max-miny) corner of the envelope intersection — the
    owner-cell rule, so no dropDuplicates shuffle. The pair set is
    identical at ANY zoom (that corner lies in both envelopes, so its
    cell is always shared), which is what makes the zoom a pure
    performance knob.

    Hot-cell salting (2-D): cells holding more than
    ``hot_cell_threshold`` rows ON EITHER SIDE get ceil(n/threshold)
    (capped at ``max_salts``) salt buckets per side; each side
    hash-scatters over its own salts and replicates across the other
    side's, and the join key is (cell, salt_i, salt_m) — per-task pair
    count is bounded by (n_i/nsalt_i) x (n_m/nsalt_m) whichever side is
    hot. The hot-cell tables are count-agg outputs (bounded by
    rows/threshold) and travel as broadcasts — nothing collects to the
    driver. Columns: in_fid, in_wkb, m_fid, m_wkb."""
    i_env = input_layer.select(
        F.col(input_fid).alias("in_fid"), F.col("wkb").alias("in_wkb"),
        "minx", "miny", "maxx", "maxy",
    )
    m_env = method_layer.select(
        F.col(method_fid).alias("m_fid"), F.col("wkb").alias("m_wkb"),
        "minx", "miny", "maxx", "maxy",
    )
    if cell_zoom is None:
        cell_zoom = _adaptive_cell_zoom(input_layer, method_layer)
    i = with_envelope_cells(i_env, cell_zoom, out="cell").select(
        "in_fid", "in_wkb", "cell",
        F.col("minx").alias("i_minx"), F.col("miny").alias("i_miny"),
        F.col("maxx").alias("i_maxx"), F.col("maxy").alias("i_maxy"),
    )
    m = with_envelope_cells(m_env, cell_zoom, out="cell").select(
        "m_fid", "m_wkb", "cell",
        F.col("minx").alias("m_minx"), F.col("miny").alias("m_miny"),
        F.col("maxx").alias("m_maxx"), F.col("maxy").alias("m_maxy"),
    )

    # hot cells: computed on envelope metadata only (no wkb in the agg).
    # 2-D salting — a hot cell on EITHER side gets its rows scattered,
    # the other side replicates across those salts, and the join key is
    # (cell, salt_i, salt_m): every task's pair count is bounded by
    # (n_i / nsalt_i) x (n_m / nsalt_m), so a million input features in
    # one cell can no longer funnel into a single task either
    def _hot(env, fid_col, alias):
        return (
            with_envelope_cells(
                env.select(fid_col, "minx", "miny", "maxx", "maxy"),
                cell_zoom, out="cell",
            )
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > hot_cell_threshold)
            .select(
                "cell",
                F.least(
                    F.ceil(F.col("n") / hot_cell_threshold), F.lit(max_salts)
                ).cast("int").alias(alias),
            )
        )

    hot_m = _hot(m_env, "m_fid", "nsalt_m")
    hot_i = _hot(i_env, "in_fid", "nsalt_i")
    m = (
        m.join(F.broadcast(hot_m), "cell", "left")
        .join(F.broadcast(hot_i), "cell", "left")
        .withColumn(
            "salt_m",
            F.when(
                F.col("nsalt_m").isNotNull(),
                F.pmod(F.xxhash64("m_fid"), F.col("nsalt_m")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "salt_i",
            F.explode(
                F.sequence(F.lit(0), F.coalesce(F.col("nsalt_i"), F.lit(1)) - 1)
            ),
        )
        .drop("nsalt_m", "nsalt_i")
    )
    i = (
        i.join(F.broadcast(hot_m), "cell", "left")
        .join(F.broadcast(hot_i), "cell", "left")
        .withColumn(
            "salt_i",
            F.when(
                F.col("nsalt_i").isNotNull(),
                F.pmod(F.xxhash64("in_fid"), F.col("nsalt_i")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "salt_m",
            F.explode(
                F.sequence(F.lit(0), F.coalesce(F.col("nsalt_m"), F.lit(1)) - 1)
            ),
        )
        .drop("nsalt_m", "nsalt_i")
    )

    overlap = (
        (F.col("i_minx") <= F.col("m_maxx")) & (F.col("i_maxx") >= F.col("m_minx"))
        & (F.col("i_miny") <= F.col("m_maxy")) & (F.col("i_maxy") >= F.col("m_miny"))
    )
    owner = col_point_cell(
        F.greatest("i_minx", "m_minx"), F.greatest("i_miny", "m_miny"), cell_zoom
    )
    return (
        i.join(m, ["cell", "salt_i", "salt_m"])
        .where(overlap & (F.col("cell") == owner))
        .select("in_fid", "in_wkb", "m_fid", "m_wkb")
    )


# ---------------------------------------------------------------------------
# kernel plumbing
# ---------------------------------------------------------------------------

PIECE_SCHEMA = (
    "in_fid long, m_fid long, wkb binary, minx double, miny double, "
    "maxx double, maxy double, area double"
)

SINGLE_SCHEMA = (
    "fid long, wkb binary, minx double, miny double, maxx double, "
    "maxy double, area double"
)

PIECE_COLS = ["in_fid", "m_fid", "wkb", "minx", "miny", "maxx", "maxy", "area"]
_GEOM_COLS = PIECE_COLS[2:]

# candidates per partial union in a heavy group
FOLD = 64


def _polygons(wkb) -> list:
    return geom.parse_wkb(bytes(wkb)).polygons()


def _polys_envelope(polys):
    allc = np.vstack([r for rings in polys for r in rings])
    return (
        float(allc[:, 0].min()), float(allc[:, 1].min()),
        float(allc[:, 0].max()), float(allc[:, 1].max()),
    )


def _result(ids: tuple, result) -> list[tuple]:
    """``ids`` + (wkb, envelope, area) of one ``boolean_full`` result, as
    a one-row list; empty when the result has no area."""
    polys, area = result
    if not polys or area <= 0:
        return []
    return [(*ids, geom.wkb_multipolygon(polys), *_polys_envelope(polys), float(area))]


def _map_results(df: DataFrame, schema: str, row_results) -> DataFrame:
    """One Arrow-batched pass: ``row_results(row)`` -> rows of ``schema``."""
    cols = [f.split()[0] for f in schema.split(", ")]

    def do(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                rows += row_results(r)
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(do, schema=schema)


class UnionFold:
    """Ring set of a streamed union: every ``FOLD`` inputs are unioned
    into one partial, so a heavy group holds partial unions, not all of
    its inputs (VERDICT r2 wrong #2). Nonzero winding makes ``polys``
    classify as the union of everything added, so one final kernel call
    over it is exact."""

    def __init__(self):
        self.n = 0
        self.polys: list = []
        self._open = 0  # start of the inputs not folded yet

    def add(self, polys: list) -> None:
        if self.n and self.n % FOLD == 0:
            self.polys[self._open:] = boolean_full(self.polys[self._open:], [], "or")[0]
            self._open = len(self.polys)
        self.polys.extend(polys)
        self.n += 1


def _overlay_kernel(pieces: bool, op: str):
    """Kernel for one (side, fid) run: the feature's own row (role 0)
    first, then its candidates (role 1) in ``o_fid`` order, streamed.
    Side 0 writes ``a AND b`` per candidate when ``pieces``, and its
    remainder: ``a`` by ``op`` against the union of its candidates.
    Side 1 writes its remainder by ``a_not_b``. A feature with no
    candidates passes through normalised, except under ``and`` (clip),
    where nothing is left of it."""

    def kernel(key: tuple, run):
        side, fid = key
        a, fold = None, UnionFold()
        for _, _, role, o_fid, wkb in run:
            b = _polygons(wkb)
            if role == 0:
                if a is not None:
                    raise ValueError(
                        f"the {('input', 'method')[side]} layer has more "
                        f"than one feature with fid {fid}"
                    )
                a = b
                continue
            if pieces and side == 0:
                yield from _result((fid, o_fid), boolean_full(a, b, "and"))
            fold.add(b)
        rem_op = op if side == 0 else "a_not_b"
        if fold.n or rem_op != "and":
            ids = (fid, None) if side == 0 else (None, fid)
            yield from _result(ids, boolean_full(a, fold.polys, rem_op if fold.n else "or"))

    return kernel


def _group_row(side: int, fid: str, role: int, o_fid: str, wkb: str):
    """One overlay-pass row as a struct: (side, fid) is the group key;
    role 0 is the feature's own geometry, role 1 the candidate ``o_fid``.
    ``o_fid`` is never null (the own row repeats ``fid``), so it reaches
    pandas as int64, not as float64 with NaN."""
    return F.struct(
        F.lit(side).alias("side"), F.col(fid).cast("long").alias("fid"),
        F.lit(role).alias("role"), F.col(o_fid).cast("long").alias("o_fid"),
        F.col(wkb).alias("wkb"),
    ).alias("r")


def _overlay(
    input_layer, method_layer, input_fid, method_fid, cell_zoom,
    pieces=False, op="a_not_b", method_side=None,
) -> DataFrame:
    """The one grouped pass behind every operator but Intersection, as
    PIECE_SCHEMA rows. Side 0 groups each input feature with its method
    candidates. ``method_side`` adds side 1: ``"swap"`` groups each
    method feature with its input candidates, ``"own"`` passes method
    features through alone."""
    cands = pair_candidates(input_layer, method_layer, input_fid, method_fid, cell_zoom)
    rows = input_layer.select(_group_row(0, input_fid, 0, input_fid, "wkb"))
    sides = [_group_row(0, "in_fid", 1, "m_fid", "m_wkb")]
    if method_side is not None:
        rows = rows.unionByName(method_layer.select(_group_row(1, method_fid, 0, method_fid, "wkb")))
    if method_side == "swap":
        sides.append(_group_row(1, "m_fid", 1, "in_fid", "in_wkb"))
    rows = rows.unionByName(cands.select(F.explode(F.array(*sides)).alias("r")))
    return map_key_runs(
        rows.select("r.*"), ("side", "fid"), ("role", "o_fid"), _overlay_kernel(pieces, op),
        "layer_algebra", PIECE_SCHEMA, log,
    )


def _normalize_layer(layer: DataFrame, fid: str) -> DataFrame:
    """Pass features through the kernel untouched (op OR with empty other
    side): canonical multipolygon WKB + area, SINGLE_SCHEMA."""
    return _map_results(
        layer.select(F.col(fid).alias("fid"), "wkb"), SINGLE_SCHEMA,
        lambda r: _result((int(r.fid),), boolean_full(_polygons(r.wkb), [], "or")),
    )


# ---------------------------------------------------------------------------
# the seven OGR layer-algebra operators
# ---------------------------------------------------------------------------


def layer_intersection(
    input_layer: DataFrame,
    method_layer: DataFrame,
    input_fid: str = "fid",
    method_fid: str = "fid",
    cell_zoom: int | None = None,
) -> DataFrame:
    """OGRLayer::Intersection (ogrlayer.cpp:3345): one row per
    envelope-candidate pair whose geometries truly intersect; geometry =
    the intersection piece (multipolygon, holes preserved). Needs no
    grouping, so it stays one map over the pairs."""
    cands = pair_candidates(input_layer, method_layer, input_fid, method_fid, cell_zoom)
    return _map_results(
        cands, PIECE_SCHEMA,
        lambda r: _result(
            (int(r.in_fid), int(r.m_fid)),
            boolean_full(_polygons(r.in_wkb), _polygons(r.m_wkb), "and"),
        ),
    )


def layer_erase(
    input_layer: DataFrame,
    method_layer: DataFrame,
    input_fid: str = "fid",
    method_fid: str = "fid",
    cell_zoom: int | None = None,
) -> DataFrame:
    """OGRLayer::Erase (ogrlayer.cpp:5806): each input feature minus the
    union of all intersecting method features; features with no
    candidates pass through (normalized)."""
    out = _overlay(input_layer, method_layer, input_fid, method_fid, cell_zoom)
    return out.select(F.col("in_fid").alias("fid"), *_GEOM_COLS)


def layer_clip(
    input_layer: DataFrame,
    method_layer: DataFrame,
    input_fid: str = "fid",
    method_fid: str = "fid",
    cell_zoom: int | None = None,
) -> DataFrame:
    """OGRLayer::Clip (ogrlayer.cpp:5497): each input feature intersected
    with the union of the method layer (one row per surviving input fid)."""
    out = _overlay(input_layer, method_layer, input_fid, method_fid, cell_zoom, op="and")
    return out.select(F.col("in_fid").alias("fid"), *_GEOM_COLS)


def layer_identity(
    input_layer: DataFrame,
    method_layer: DataFrame,
    input_fid: str = "fid",
    method_fid: str = "fid",
    cell_zoom: int | None = None,
) -> DataFrame:
    """OGRLayer::Identity (ogrlayer.cpp:4730): input split by the method
    layer = intersection pieces (in_fid, m_fid) + the uncovered remainder
    of each input feature (in_fid, NULL m_fid)."""
    return _overlay(
        input_layer, method_layer, input_fid, method_fid, cell_zoom, pieces=True
    )


def layer_union(
    input_layer: DataFrame,
    method_layer: DataFrame,
    input_fid: str = "fid",
    method_fid: str = "fid",
    cell_zoom: int | None = None,
) -> DataFrame:
    """OGRLayer::Union (ogrlayer.cpp:3763): intersection pieces + the
    input-only remainders (m_fid NULL) + the method-only remainders
    (in_fid NULL)."""
    return _overlay(
        input_layer, method_layer, input_fid, method_fid, cell_zoom,
        pieces=True, method_side="swap",
    )


def layer_symdifference(
    input_layer: DataFrame,
    method_layer: DataFrame,
    input_fid: str = "fid",
    method_fid: str = "fid",
    cell_zoom: int | None = None,
) -> DataFrame:
    """OGRLayer::SymDifference (ogrlayer.cpp:4300): input-only remainders
    + method-only remainders (no intersection pieces)."""
    return _overlay(
        input_layer, method_layer, input_fid, method_fid, cell_zoom,
        method_side="swap",
    )


def layer_update(
    input_layer: DataFrame,
    method_layer: DataFrame,
    input_fid: str = "fid",
    method_fid: str = "fid",
    cell_zoom: int | None = None,
) -> DataFrame:
    """OGRLayer::Update (ogrlayer.cpp:5148): method features as-is, plus
    the parts of input features the method layer does not cover. ``src``
    marks which layer a row came from."""
    out = _overlay(
        input_layer, method_layer, input_fid, method_fid, cell_zoom,
        method_side="own",
    )
    return out.select(
        F.coalesce("in_fid", "m_fid").alias("fid"), *_GEOM_COLS,
        F.when(F.col("in_fid").isNull(), "method").otherwise("input").alias("src"),
    )
