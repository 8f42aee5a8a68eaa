"""kNN join by cell-ring expansion — the distributed analog of the
reference's quadtree radius search.

Reference semantics: GDALGridInverseDistanceToAPowerNearestNeighbor
(alg/gdalgrid.cpp:245-340) searches a quadtree (port/cpl_quad_tree.cpp)
with a growing radius, sorts candidates by distance, keeps <= nMaxPoints
and requires >= nMinPoints. Here the quadtree is the hierarchical cell
grid: a query's candidates are the points of every cell within Chebyshev
radius R of its cell (x wraps around the antimeridian, y is clipped at
the grid edge, each cell once, so no candidate pair repeats).

Start radius. One aggregate over the points counts them per cell of a
histogram grid at hz = ``min(zoom, 10)`` (a driver table of at most
1024 x 1024 counts however fine ``zoom`` is). On the driver a summed-area table over those counts
gives, for each distinct query cell, the smallest Chebyshev radius r whose
disk of histogram cells holds at least k points. Those k points lie
within sqrt(2) * (r + 1) histogram cells of any point in the query's
cell, so the query's R starts at floor(sqrt(2) * (r + 1) * 2^(zoom - hz)) + 1
data cells, capped by ``max_radius_cells`` and by the radius that covers
``max_search_dist``. The disk is clipped, not wrapped: distance is
planar, and a cell across the antimeridian is a grid's width away even
though candidate generation wraps x.

Completeness. Every point within R * cell_size of the query lies in a
candidate cell, so a query is done once its k-th ranked candidate lies
within R * cell_size (or ``max_search_dist <= R * cell_size``): its k
nearest are then exact, ties broken by point id. The histogram bound only picks
the first R; correctness rests on this rule alone. A query that fails it
— points or queries clamped into edge cells from outside the Mercator
square break the bound — reruns with a doubled R (driver-side loop over
the *remaining* queries only); at the widest ring the doubling from 1
reaches (the first power of two >= ``max_radius_cells``) it emits what it
found.

Everything is DataFrame ops: explode(ring cells) -> equi-join on cell ->
one window per query that ranks the candidates (row_number, ties broken
by point id, so results are deterministic) and reads the k-th one's
distance for the done flag. One localCheckpoint and one isEmpty a round.
AQE re-plans each round; the candidate join broadcasts the cached points
when they are small. The expressions are SQL text (``selectExpr``,
``F.expr``) rather than ``functions`` calls: each of those costs several
driver-to-JVM round trips; written that way a ``knn_join`` call made
about 2200 of them, over half its time on small inputs.
"""

from __future__ import annotations

import functools
import logging
import math

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..grid import ORIGIN_SHIFT
from .spatial_join import sql_double, tile_coord_sql

log = logging.getLogger(__name__)

# finest histogram grid: 1024 x 1024 counts (8 MB on the driver)
HIST_MAX_ZOOM = 10


def _keyed_cells(points, queries, zoom, query_key, point_key, qx, qy, px, py):
    """Both sides under the join's internal names, with their cells."""
    pts = points.select(point_key, px, py).toDF("_pk", "_px", "_py").selectExpr(
        "_pk",
        "_px",
        "_py",
        f"{tile_coord_sql('_px', zoom)} AS p_tx",
        f"{tile_coord_sql('_py', zoom)} AS p_ty",
    )
    qs = queries.select(query_key, qx, qy).toDF("_qk", "_qx", "_qy").selectExpr(
        "_qk",
        "_qx",
        "_qy",
        f"{tile_coord_sql('_qx', zoom)} AS q_tx",
        f"{tile_coord_sql('_qy', zoom)} AS q_ty",
    )
    return pts, qs


def _ring_candidates(qs: DataFrame, pts: DataFrame, radius: str, n_side: int) -> DataFrame:
    """Join each query row with the points of every cell within Chebyshev
    ``radius`` (SQL: an int literal or a column of ``qs``) of its
    (q_tx, q_ty): x wraps, y is clipped to [0, n_side), each cell once.
    Adds ``dist``."""
    r = f"CAST({radius} AS BIGINT)"
    n = f"CAST({n_side} AS BIGINT)"
    x0 = f"CASE WHEN 2 * {r} + 1 >= {n} THEN CAST(0 AS BIGINT) ELSE q_tx - {r} END"
    x1 = f"CASE WHEN 2 * {r} + 1 >= {n} THEN {n} - 1 ELSE q_tx + {r} END"
    cells = qs.selectExpr(
        "*", f"explode(transform(sequence({x0}, {x1}), c -> pmod(c, {n}))) AS c_tx"
    ).selectExpr(
        "*", f"explode(sequence(greatest(q_ty - {r}, CAST(0 AS BIGINT)), least(q_ty + {r}, {n} - 1))) AS c_ty"
    )
    # plain multiplication, not pow(): bitwise-identical to the
    # (a-b)*(a-b) form any SQL oracle uses
    return cells.join(pts, F.expr("c_tx = p_tx AND c_ty = p_ty"), "inner").selectExpr(
        "*", "sqrt((_qx - _px) * (_qx - _px) + (_qy - _py) * (_qy - _py)) AS dist"
    )


def _covering_radius(dist: float, cell_size: float) -> int:
    """Smallest R >= 1 with ``dist <= R * cell_size`` (the done rule's
    float comparison)."""
    r = max(1, math.ceil(dist / cell_size))
    while r * cell_size < dist:
        r += 1
    return r


def _start_radii(cells, k: int, hz: int, shift: int, cap: int) -> np.ndarray:
    """Per query cell (rows of ``cells`` with ``_nqry > 0``) the first ring
    radius in data cells, from the point counts ``_npts`` per histogram
    cell (``_hx``, ``_hy``) at zoom ``hz`` = data zoom - ``shift``."""
    n_h = 1 << hz
    counts = np.zeros((n_h + 1, n_h + 1), np.int64)
    p = cells[cells["_npts"] > 0]
    counts[p["_hy"].to_numpy() + 1, p["_hx"].to_numpy() + 1] = p["_npts"].to_numpy()
    sat = counts.cumsum(0).cumsum(1)
    q = cells[cells["_nqry"] > 0]
    qx, qy = q["_hx"].to_numpy(np.int64), q["_hy"].to_numpy(np.int64)

    def in_disk(r):
        # points in the Chebyshev disk of radius r, clipped at the edge
        x0, x1 = np.maximum(qx - r, 0), np.minimum(qx + r, n_h - 1) + 1
        y0, y1 = np.maximum(qy - r, 0), np.minimum(qy + r, n_h - 1) + 1
        return sat[y1, x1] - sat[y0, x1] - sat[y1, x0] + sat[y0, x0]

    # smallest r with >= k points, vectorised; n_h: no disk holds k points
    lo = np.zeros(len(q), np.int64)
    hi = np.full(len(q), n_h, np.int64)
    active = lo < hi
    while active.any():
        mid = (lo + hi) // 2
        ok = in_disk(mid) >= k
        hi = np.where(active & ok, mid, hi)
        lo = np.where(active & ~ok, mid + 1, lo)
        active = lo < hi
    ring = np.floor(math.sqrt(2.0) * (lo + 1) * (1 << shift)).astype(np.int64) + 1
    return np.where(lo < n_h, np.minimum(ring, cap), cap)


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    query_key: str = "qid",
    point_key: str = "pid",
    qx: str = "x",
    qy: str = "y",
    px: str = "x",
    py: str = "y",
    zoom: int = 7,
    max_radius_cells: int = 64,
    max_search_dist: float | None = None,
) -> DataFrame:
    """For each query row, the k nearest point rows (Euclidean, in the
    shared planar CRS). Returns queries' key columns + point key + dist +
    rank. Radius-bounded variant: pass ``max_search_dist`` (the reference's
    dfSearchRadius); rows then may have fewer than k neighbors.
    """
    spark = queries.sparkSession
    sc = spark.sparkContext
    n_side = 1 << zoom
    cell_size = (2 * ORIGIN_SHIFT) / n_side
    # the widest ring: where the radius doubling from 1 first reaches
    # max_radius_cells (stragglers emit what this ring found)
    cap = 1
    while cap < max_radius_cells:
        cap *= 2
    hz = min(zoom, HIST_MAX_ZOOM)
    shift = zoom - hz
    pts, qs = _keyed_cells(points, queries, zoom, query_key, point_key, qx, qy, px, py)
    pts = pts.persist()

    description = sc.getLocalProperty("spark.job.description")
    try:
        sc.setJobDescription("knn_join: histogram")
        cells = (
            pts.selectExpr(
                f"shiftright(p_tx, {shift}) AS _hx",
                f"shiftright(p_ty, {shift}) AS _hy",
                "1 AS _npts",
                "0 AS _nqry",
            )
            .unionByName(
                qs.selectExpr(
                    f"shiftright(q_tx, {shift}) AS _hx",
                    f"shiftright(q_ty, {shift}) AS _hy",
                    "0 AS _npts",
                    "1 AS _nqry",
                )
            )
            .groupBy("_hx", "_hy")
            .agg(F.expr("sum(_npts) AS _npts"), F.expr("sum(_nqry) AS _nqry"))
            .toPandas()
        )
        starts = _start_radii(cells, k, hz, shift, cap)
        if max_search_dist is not None and math.isfinite(max_search_dist):
            starts = np.minimum(starts, _covering_radius(max_search_dist, cell_size))
        qcells = cells[cells["_nqry"] > 0]
        radii = spark.createDataFrame(
            qcells[["_hx", "_hy"]].assign(_r=starts).astype("int64"),
            "_hx long, _hy long, _r long",
        )
        remaining = qs.join(
            radii,
            F.expr(f"shiftright(q_tx, {shift}) = _hx AND shiftright(q_ty, {shift}) = _hy"),
            "left",
        ).selectExpr(
            "_qk", "_qx", "_qy", "q_tx", "q_ty", f"coalesce(_r, CAST({cap} AS BIGINT)) AS _r"
        )

        query_cols = ["_qk", "_qx", "_qy", "q_tx", "q_ty", "_r"]
        reach = f"_r * {sql_double(cell_size)}"
        # one window per query ranks by (dist, point id), the query's
        # sentinel row (below) last, and reads the k-th neighbour's dist:
        # null (not done) when fewer than k candidates were found
        w = "PARTITION BY _qk ORDER BY _s, dist, _pk"
        kth = (
            f"nth_value(dist, {int(k)}) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND UNBOUNDED FOLLOWING)"
            if k >= 1
            else "0.0D"
        )
        done = f"coalesce({kth} <= {reach}, false) OR _r >= {cap}"
        if max_search_dist is not None:
            # the bounded neighbourhood is fully scanned
            done += f" OR {sql_double(max_search_dist)} <= {reach}"
        null_pk = F.lit(None).cast(pts.schema["_pk"].dataType).alias("_pk")
        results = []
        rounds = 0
        while True:
            rounds += 1
            sc.setJobDescription(f"knn_join: round {rounds}")
            cand = _ring_candidates(remaining, pts, "_r", n_side)
            if max_search_dist is not None:
                cand = cand.where(f"dist <= {sql_double(max_search_dist)}")
            # a sentinel row per query carries it through the round even
            # when it has no candidate, so the not-done queries come out
            # of the checkpoint without an anti-join
            ranked = (
                cand.selectExpr(*query_cols, "_pk", "dist", "false AS _s")
                .unionByName(
                    remaining.select(
                        *query_cols, null_pk, F.expr("CAST(NULL AS DOUBLE) AS dist"),
                        F.expr("true AS _s"),
                    )
                )
                .selectExpr("*", f"row_number() OVER ({w}) AS rank", f"{done} AS _done")
                .where(f"_s OR rank <= {int(k)}")
                # truncate lineage: each round's plan must not replay all
                # prior rounds
                .localCheckpoint(eager=True)
            )
            results.append(ranked.where("NOT _s AND _done"))
            remaining = ranked.where("_s AND NOT _done").selectExpr(
                *query_cols[:-1], f"least(_r * 2, CAST({cap} AS BIGINT)) AS _r"
            )
            if remaining.isEmpty():
                break
    finally:
        sc.setLocalProperty("spark.job.description", description)
        # every round was localCheckpointed, so the result no longer
        # depends on the cached points
        pts.unpersist()
    log.info(
        "knn_join: queries per start radius %s, %d round(s)",
        {int(r): int(n) for r, n in qcells["_nqry"].groupby(starts).sum().items()},
        rounds,
    )
    return (
        functools.reduce(DataFrame.unionByName, results)
        .select("_qk", "_pk", "dist", "rank")
        .toDF(query_key, point_key, "dist", "rank")
    )


def radius_join(
    queries: DataFrame,
    points: DataFrame,
    radius: float,
    query_key: str = "qid",
    point_key: str = "pid",
    qx: str = "x",
    qy: str = "y",
    px: str = "x",
    py: str = "y",
    zoom: int = 7,
) -> DataFrame:
    """All (query, point) pairs within Euclidean ``radius`` — the search
    ellipse of the GDALGrid algorithms (circular: radius1 == radius2,
    angle 0; alg/gdal_alg.h GDALGridMovingAverageOptions). One cell
    equi-join over a FIXED Chebyshev ring (ceil(radius / cell_size)), no
    iteration. Returns query keys + point key + dist."""
    n_side = 1 << zoom
    cell_size = (2 * ORIGIN_SHIFT) / n_side
    ring = max(0, int(math.ceil(radius / cell_size)))
    pts, qs = _keyed_cells(points, queries, zoom, query_key, point_key, qx, qy, px, py)
    joined = _ring_candidates(qs, pts, str(ring), n_side).where(
        f"dist <= {sql_double(radius)}"
    )
    return joined.select("_qk", "_pk", "dist").toDF(query_key, point_key, "dist")


def grid_moving_average(
    queries: DataFrame,
    points: DataFrame,
    radius: float,
    value_col: str = "z",
    min_points: int = 0,
    query_key: str = "qid",
    point_key: str = "pid",
    zoom: int = 7,
) -> DataFrame:
    """GDALGridMovingAverage (alg/gdalgrid.cpp): arithmetic mean of all
    point values inside the search circle; fewer than ``min_points``
    neighbours -> row dropped (the reference writes nodata)."""
    rj = radius_join(queries, points, radius, query_key, point_key, zoom=zoom)
    vals = points.select(F.col(point_key).alias("_vpk"), F.col(value_col).alias("_val"))
    j = rj.join(vals, rj[point_key] == vals["_vpk"], "inner")
    out = j.groupBy(query_key).agg(
        F.avg("_val").alias("avg_z"), F.count("*").alias("n")
    )
    if min_points > 0:
        out = out.where(F.col("n") >= min_points)
    return out


def grid_nearest(
    queries: DataFrame,
    points: DataFrame,
    value_col: str = "z",
    query_key: str = "qid",
    point_key: str = "pid",
    zoom: int = 7,
) -> DataFrame:
    """GDALGridNearestNeighbor: value of the single nearest point."""
    nn = knn_join(queries, points, 1, query_key=query_key, point_key=point_key, zoom=zoom)
    vals = points.select(F.col(point_key).alias("_vpk"), F.col(value_col).alias("_val"))
    return nn.join(vals, nn[point_key] == vals["_vpk"], "inner").select(
        query_key, F.col("_val").alias("nearest_z"), "dist"
    )


def grid_data_metrics(
    queries: DataFrame,
    points: DataFrame,
    radius: float,
    value_col: str = "z",
    query_key: str = "qid",
    point_key: str = "pid",
    zoom: int = 7,
) -> DataFrame:
    """GDALGrid data-metrics family (alg/gdal_alg.h:402-416 /
    gdalgrid.cpp:649-800): per node over the search circle —
    minimum, maximum, range, count, average_distance (point->node)."""
    rj = radius_join(queries, points, radius, query_key, point_key, zoom=zoom)
    vals = points.select(F.col(point_key).alias("_vpk"), F.col(value_col).alias("_val"))
    j = rj.join(vals, rj[point_key] == vals["_vpk"], "inner")
    return j.groupBy(query_key).agg(
        F.min("_val").alias("min_z"),
        F.max("_val").alias("max_z"),
        (F.max("_val") - F.min("_val")).alias("range_z"),
        F.count("*").alias("n"),
        F.avg("dist").alias("avg_dist"),
    )


def idw_interpolate(
    queries: DataFrame,
    points: DataFrame,
    value_col: str = "z",
    k: int = 8,
    power: float = 2.0,
    smoothing: float = 0.0,
    query_key: str = "qid",
    point_key: str = "pid",
    zoom: int = 7,
) -> DataFrame:
    """Inverse-distance-weighted value at each query from its k nearest
    points (GDALGridInverseDistanceToAPower semantics, alg/gdalgrid.cpp:
    120-230: weight = 1/dist^power, exact hit short-circuits)."""
    nn = knn_join(queries, points, k, query_key=query_key, point_key=point_key, zoom=zoom)
    vals = points.select(F.col(point_key).alias("_vpk"), F.col(value_col).alias("_val"))
    j = nn.join(vals, nn[point_key] == vals["_vpk"], "inner")
    d2 = F.col("dist") * F.col("dist") + F.lit(smoothing * smoothing)
    if smoothing != 0.0:
        # GDAL only short-circuits when d2 ~ 0; with smoothing the
        # coincident point gets a FINITE weight and averages with the
        # rest (gdalgrid.cpp:170-188)
        j = j.withColumn("_w", F.pow(d2, -power / 2.0))
        return j.groupBy(query_key).agg(
            (F.sum(F.col("_w") * F.col("_val")) / F.sum("_w")).alias("idw")
        )
    w = F.when(d2 == 0, F.lit(None)).otherwise(F.pow(d2, -power / 2.0))
    j = j.withColumn("_w", w)
    # deterministic exact hit: the coincident point with the smallest key
    exact = j.where(F.col("dist") == 0).groupBy(query_key).agg(
        F.min_by("_val", "_vpk").alias("idw")
    )
    approx = (
        j.where(F.col("dist") > 0)
        .groupBy(query_key)
        .agg((F.sum(F.col("_w") * F.col("_val")) / F.sum("_w")).alias("idw"))
        .join(exact.select(query_key), query_key, "left_anti")
    )
    return exact.unionByName(approx)
