"""Spatial joins: the two-phase envelope->exact shape of the reference.

Reference semantics being reproduced:
- ``OGRLayer::FilterGeometry`` two-phase spatial filter
  (ogr/ogrsf_frmts/generic/ogrlayer.cpp:2253-2325): envelope reject,
  envelope-contain fast accept (2287-2293), exact test last.
- Ray-cast point-in-ring (ogr/ogrlinearring.cpp:453-531) with hole
  handling (ogr/ogrpolygon.cpp:780-812) — in gdal_spark.geom.
- Layer-algebra nested loop with prepared-geometry pretests
  (ogrlayer.cpp:3345-3700) -> here a cell-id equi-join that Spark hash
  partitions, or a broadcast join ("copy method layer into memory layer
  for best performance", ogrlayer.cpp:3284-3285 — GDAL's own advice is
  literally Spark's broadcast hash join).
- First-match-only LEFT JOIN of OGR SQL
  (ogr/ogrsf_frmts/generic/ogr_gensql.cpp:1497-1527) via row_number.

Phase 1 is pure Column math (Catalyst prunes + pushes it down; AQE
handles skewed cells); phase 2 is one Arrow-vectorized pandas UDF that
groups each batch by polygon so the ray-cast runs vectorized over all
points of that polygon at once.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BooleanType
from pyspark.sql.window import Window

from .. import geom
from ..grid import EARTH_RADIUS, ORIGIN_SHIFT


# ---------------------------------------------------------------------------
# cell covering as Column math (phase-1 join key)
# ---------------------------------------------------------------------------

Z_SHIFT = 58
X_SHIFT = 29


def col_cell(z, tx, ty):
    """Pack (z, tx, ty) into the int64 cell id of gdal_spark.cells."""
    z = z if isinstance(z, Column) else F.lit(z)
    return (
        F.shiftleft(z.cast("long"), Z_SHIFT)
        .bitwiseOR(F.shiftleft(tx.cast("long"), X_SHIFT))
        .bitwiseOR(ty.cast("long"))
    )


def col_point_cell(x, y, zoom: int, tile_size: int = 256):
    """Mercator-meter point -> covering cell at ``zoom`` (column math)."""
    ir = 2 * math.pi * EARTH_RADIUS / tile_size
    res = ir / (2.0**zoom)
    ts = float(tile_size)
    tx = (F.ceil(((x + ORIGIN_SHIFT) / res) / ts) - 1).cast("long")
    ty = (F.ceil(((y + ORIGIN_SHIFT) / res) / ts) - 1).cast("long")
    n1 = F.lit((1 << zoom) - 1).cast("long")
    tx = F.greatest(F.lit(0).cast("long"), F.least(n1, tx))
    ty = F.greatest(F.lit(0).cast("long"), F.least(n1, ty))
    return col_cell(zoom, tx, ty)


def sql_double(v: float) -> str:
    """``v`` as a Spark SQL DOUBLE literal (bit-exact, like ``F.lit(v)``)."""
    v = float(v)
    if math.isfinite(v):
        return f"{v!r}D"
    return f"CAST('{v}' AS DOUBLE)"


def tile_coord_sql(m: str, zoom: int, tile_size: int = 256) -> str:
    """SQL twin of the tile math in ``col_point_cell``: the tile index of
    the Mercator coordinate ``m`` (SQL) at ``zoom``, clamped to the grid.
    SQL text costs one driver-to-JVM call where the ``functions`` form
    costs several per function."""
    ir = 2 * math.pi * EARTH_RADIUS / tile_size
    res = ir / (2.0**zoom)
    t = (
        f"CAST(ceil((({m} + {sql_double(ORIGIN_SHIFT)}) / {sql_double(res)})"
        f" / {sql_double(tile_size)}) - 1 AS BIGINT)"
    )
    return f"greatest(CAST(0 AS BIGINT), least(CAST({(1 << zoom) - 1} AS BIGINT), {t}))"


def _cell_sql(zoom: int, tx: str, ty: str) -> str:
    """SQL twin of ``col_cell``."""
    return (
        f"shiftleft(CAST({zoom} AS BIGINT), {Z_SHIFT})"
        f" | shiftleft(CAST({tx} AS BIGINT), {X_SHIFT}) | CAST({ty} AS BIGINT)"
    )


def point_cell_sql(x: str, y: str, zoom: int) -> str:
    """SQL twin of ``col_point_cell`` over the SQL operands ``x``, ``y``."""
    return _cell_sql(zoom, tile_coord_sql(x, zoom), tile_coord_sql(y, zoom))


def sql_ident(name: str) -> str:
    """Column ``name`` as SQL text resolving like ``F.col(name)``: dots
    separate nested fields, backticks quote."""
    if "`" in name:
        return name
    return "`" + name.replace(".", "`.`") + "`"


def with_envelope_cells(df: DataFrame, zoom: int, out: str = "cell") -> DataFrame:
    """Explode each row into the cells covering its (minx..maxy) envelope —
    the distributed replacement for the reference's R-tree/quadtree index
    (SURVEY.md §4 "spatial index scan")."""
    x0, x1, y0, y1 = (tile_coord_sql(c, zoom) for c in ("minx", "maxx", "miny", "maxy"))
    return (
        df.withColumn("_cx", F.expr(f"explode(sequence({x0}, {x1}))"))
        .withColumn("_cy", F.expr(f"explode(sequence({y0}, {y1}))"))
        .withColumn(out, F.expr(_cell_sql(zoom, "_cx", "_cy")))
        .drop("_cx", "_cy")
    )


# ---------------------------------------------------------------------------
# phase-2 exact refine (Arrow-vectorized)
# ---------------------------------------------------------------------------


@F.pandas_udf(BooleanType())
def _pip_udf(xs: pd.Series, ys: pd.Series, wkbs: pd.Series) -> pd.Series:
    """Exact point-in-polygon, vectorized per distinct polygon per batch."""
    out = np.zeros(len(xs), dtype=bool)
    if len(xs) == 0:
        return pd.Series(out)
    px = xs.to_numpy(dtype=float)
    py = ys.to_numpy(dtype=float)
    groups: dict[bytes, list[int]] = {}
    for i, b in enumerate(wkbs):
        groups.setdefault(bytes(b), []).append(i)
    for wkb, idxs in groups.items():
        g = geom.parse_wkb(wkb)
        ii = pd.Index(idxs)
        res = geom.points_in_geometry(px[ii], py[ii], g)
        out[ii] = res
    return pd.Series(out)


def refine_pip(df: DataFrame, x: str = "x", y: str = "y", wkb: str = "wkb") -> DataFrame:
    return df.where(_pip_udf(F.col(x), F.col(y), F.col(wkb)))


# ---------------------------------------------------------------------------
# the join operators
# ---------------------------------------------------------------------------


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    how: str = "inner",
    x: str = "x",
    y: str = "y",
    broadcast_polys: bool = True,
    cell_zoom: int | None = None,
    point_key: str | None = None,
    first_match_order: str | None = None,
    envelope_fast_accept: bool = True,
) -> DataFrame:
    """Join points to the polygons containing them.

    Phase 1: broadcast hash join on envelope predicates (small polygon
    layer — the common case and the reference's own best practice), or a
    cell equi-join at ``cell_zoom`` for a large polygon layer.
    Phase 2: exact ray-cast refine; rectangles whose envelope equals the
    geometry skip it (``m_bFilterIsEnvelope`` fast accept,
    ogrlayer.cpp:2287-2293) when ``envelope_fast_accept``.

    how: inner | left | left_semi | left_anti. ``left`` with
    ``first_match_order`` reproduces OGR SQL first-match-only LEFT JOIN
    (ogr_gensql.cpp:1497-1527).

    NOTE: for semi/anti/left modes, ``point_key`` defaults to (x, y) —
    distinct point rows with identical coordinates then collapse to one.
    Pass ``point_key`` whenever point identity matters.
    """
    px, py = sql_ident(x), sql_ident(y)
    env_pred = f"{px} >= minx AND {px} <= maxx AND {py} >= miny AND {py} <= maxy"

    polys = polygons
    if cell_zoom is not None:
        points = points.withColumn("_pcell", F.expr(point_cell_sql(px, py, cell_zoom)))
        polys = with_envelope_cells(polys, cell_zoom, out="_pcell2")
        cond = F.expr(f"_pcell = _pcell2 AND {env_pred}")
    else:
        cond = F.expr(env_pred)
        if broadcast_polys:
            polys = F.broadcast(polys)

    if how in ("left_semi", "left_anti"):
        # need the refine before the semi/anti: do an inner match set first
        matched = (
            points.join(polys, cond, "inner")
            if cell_zoom is None
            else points.join(polys, cond, "inner").drop("_pcell", "_pcell2")
        )
        matched = _refine(matched, x, y, envelope_fast_accept)
        keys = [point_key] if point_key else [x, y]
        m = matched.select(*keys).dropDuplicates(keys)
        return points.drop("_pcell") .join(m, keys, "left_semi" if how == "left_semi" else "left_anti")

    joined = points.join(polys, cond, "inner")
    if cell_zoom is not None:
        # a polygon can meet a point in several covering cells only if the
        # point sits in exactly its own cell -> cells are disjoint, no dup
        joined = joined.drop("_pcell", "_pcell2")
    refined = _refine(joined, x, y, envelope_fast_accept)

    if how == "inner":
        return refined
    if how == "left":
        keys = [point_key] if point_key else [x, y]
        if first_match_order is not None:
            w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
                F.col(first_match_order)
            )
            refined = refined.withColumn("_rn", F.row_number().over(w)).where(
                F.col("_rn") == 1
            ).drop("_rn")
        poly_cols = [c for c in polygons.columns if c not in points.columns]
        right = refined.select(*keys, *poly_cols)
        left_side = points.drop("_pcell") if cell_zoom is not None else points
        return left_side.join(right, keys, "left")
    raise ValueError(f"unsupported how={how!r}")


def _refine(df: DataFrame, x: str, y: str, envelope_fast_accept: bool) -> DataFrame:
    if not envelope_fast_accept:
        return refine_pip(df, x, y)
    # rectangle-equals-envelope rows skip the exact test: the envelope
    # predicate already decided them (ogrlayer.cpp:2287-2293). One UDF
    # decides rect-ness ONCE per distinct polygon inside the batch and
    # runs the ray-cast only for the non-rectangle groups — a separate
    # is_rect UDF OR'd in SQL would still evaluate the ray-cast for every
    # row (Spark evaluates Python UDFs in a pre-filter projection node).
    return df.where(_pip_or_rect_udf(x, y, "wkb"))


def _wkb_is_rect(bb: bytes) -> bool:
    """True when the WKB is a single-ring polygon equal to its envelope:
    a closed 5-point ring through the four envelope corners along
    axis-aligned edges."""
    try:
        g = geom.parse_wkb(bb)
    except (ValueError, IndexError, struct.error):
        return False
    if g.kind != geom.WKB_POLYGON or len(g.parts) != 1:
        return False
    r = g.parts[0]
    if len(r) != 5 or not np.array_equal(r[0], r[4]):
        return False
    xs = np.unique(r[:4, 0])
    ys = np.unique(r[:4, 1])
    if len(xs) != 2 or len(ys) != 2:
        return False
    corners = {(x, y) for x in xs.tolist() for y in ys.tolist()}
    if {tuple(p) for p in r[:4].tolist()} != corners:
        return False
    # every edge must be axis-aligned (exactly one coord changes): a
    # bowtie like (0,0)(2,2)(0,2)(2,0) has the same vertex SET as a
    # rectangle but diagonal edges — fast-accepting its envelope would
    # be wrong
    d = np.diff(r, axis=0)
    return bool(np.all((d[:, 0] == 0) != (d[:, 1] == 0)))


@F.pandas_udf(BooleanType())
def _pip_or_rect_udf(xs: pd.Series, ys: pd.Series, wkbs: pd.Series) -> pd.Series:
    out = np.zeros(len(xs), dtype=bool)
    if len(xs) == 0:
        return pd.Series(out)
    px = xs.to_numpy(dtype=float)
    py = ys.to_numpy(dtype=float)
    groups: dict[bytes, list[int]] = {}
    for i, b in enumerate(wkbs):
        groups.setdefault(bytes(b), []).append(i)
    for wkb, idxs in groups.items():
        ii = pd.Index(idxs)
        if _wkb_is_rect(wkb):
            out[ii] = True  # envelope predicate already decided these
            continue
        g = geom.parse_wkb(wkb)
        out[ii] = geom.points_in_geometry(px[ii], py[ii], g)
    return pd.Series(out)


def polygon_aggregate_join(
    points: DataFrame,
    polygons: DataFrame,
    aggs: list,
    group_cols: list[str] | None = None,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Zonal statistics: aggregate point attributes per containing polygon
    (the data-metrics gridding family, alg/gdalgrid.cpp:649-800 /
    alg/gdal_alg.h:402-416, generalized to polygon zones)."""
    group_cols = group_cols or ["fid"]
    j = point_in_polygon_join(points, polygons, how="inner", x=x, y=y)
    return j.groupBy(*group_cols).agg(*aggs)
