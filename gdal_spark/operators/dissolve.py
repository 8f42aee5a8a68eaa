"""Dissolve: union every geometry sharing an attribute key — the OGR
SQL ``ST_Union`` aggregate / ``ogr2ogr -dialect sqlite -sql "SELECT k,
ST_Union(geometry) ... GROUP BY k"`` workflow.

Reference: OGRGeometry::UnaryUnion (ogr/ogrgeometry.cpp:5235; the
deprecated UnionCascaded at :5137) — GDAL collects the features into one
GeometryCollection and hands it to GEOS. At 10^12 rows nothing can be
collected into one geometry object; here the union distributes:

One key-sorted pass (plans.grouping.map_key_runs) streams each key's
features into the kernel across Arrow batches. The kernel folds every
``layer_algebra.FOLD`` features into a partial union (layer_algebra's
UnionFold), then makes ONE slab-kernel call over the partials: after
orientation normalization the combined ring set classifies as the union
of its features under the nonzero winding rule (gdal_spark.booleans
module docstring), and the union of partial unions is the union, so the
result is exact. A key's folds run in its one sorted run, so a hot key
folds serially: at 2e4 features under one key that costs no more than
the final call, which dominates, but at 1e5 it is slower than spreading
the folds over tasks would be. The kernel holds dissolved partials —
bounded by the dissolved boundary complexity of the key, not by its
feature count (the same documented bound as polygonize's per-region
assembly; a key whose DISSOLVED perimeter itself exceeds task memory
would need the polygonize-style fragment/wall-cancellation pass, which
no OGR workload we model reaches because UnaryUnion callers dissolve by
attribute, not by continent-sized label).

Output: one row per key — canonical multipolygon WKB, envelope, exact
area (straight from the slab trapezoids), and ``n_parts`` = number of
disjoint polygons in the dissolved result (holes do not count as
parts).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

from ..booleans import boolean_full
from ..plans.grouping import map_key_runs
from .layer_algebra import UnionFold, _polygons, _result

log = logging.getLogger(__name__)


def _dissolve_kernel(key: tuple, run) -> list[tuple]:
    """One key's (k, wkb) rows, streamed -> its dissolved multipolygon."""
    fold = UnionFold()
    for _, w in run:
        if w is not None:
            fold.add(_polygons(w))
    polys, area = boolean_full(fold.polys, [], "or")
    return [(*r, len(polys)) for r in _result(key, (polys, area))]


def dissolve(layer: DataFrame, by: str = "key", geom_col: str = "wkb") -> DataFrame:
    """Union all geometries per distinct value of ``by``.

    Returns one row per key: ``by`` (original name and type), ``wkb``
    (canonical multipolygon), ``minx/miny/maxx/maxy``, ``area``,
    ``n_parts``. Keys whose features dissolve to zero area vanish
    (matching the engine's other layer ops, which drop empty results).
    """
    ktype = layer.schema[by].dataType.simpleString()
    schema = (
        f"k {ktype}, wkb binary, minx double, miny double, "
        "maxx double, maxy double, area double, n_parts int"
    )
    rows = layer.select(F.col(by).alias("k"), F.col(geom_col).alias("g"))
    out = map_key_runs(rows, ("k",), (), _dissolve_kernel, "dissolve", schema, log)
    return out.withColumnRenamed("k", by)
