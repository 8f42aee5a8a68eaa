"""gdalbuildvrt analog: place N same-CRS rasters onto one common grid.

Reference: apps/gdalbuildvrt_lib.cpp (~2.5k LoC) — union extent over all
sources, target resolution highest|lowest|average|user, north-up only
(no rotated sources), later sources paint over earlier ones where their
data is valid. The reference emits a lazy VRT; at engine scale a mosaic
READ is a tile compose, so the operator materializes composed output
tiles directly (the same stance tile.compose_tiles takes for the
mercator pyramid).

Distributed shape:
1. ONE metadata aggregation (extent/resolution over the georef columns,
   never pixels) -> target grid; the driver holds a single row.
2. Per-image fragment cut: the covered output-tile range is Column math;
   the pyramid's fragment pass (tile._map_fragments) decodes each source
   ONCE and warps it into each overlapped output tile with tile._warp_cut
   (same-CRS affine -> affine, exact mapping; the source alpha goes
   through the same transform). Fragments leave the stage in the
   pyramid's final form: each is its edge-clipped tile as if it were
   the only source, PNG-encoded with its checksums.
3. (tx, ty) compose through plans.grouping.group_by_key (one tile-key
   shuffle, one sort, one mapInPandas walking the sorted runs) — the
   tile-key shuffle IS the mosaic, one task per core. A one-source tile
   passes through undecoded; elsewhere sources paint in image_id order
   (buildvrt paints in command-line order; image_id is the deterministic
   distributed equivalent) where valid, with the pyramid's compose
   helper.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..plans.grouping import group_by_key
from .tile import (
    _check_on_error, _compose_frame, _map_fragments, _warp_cut, log,
)

MOSAIC_TILE_SCHEMA = (
    "tx long, ty long, w int, h int, png binary, checksum int, "
    "checksums array<int>, n_src int, src_ids array<string>, "
    "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, gt5 double"
)


def mosaic_grid(images: DataFrame, resolution: str = "highest",
                target_res: tuple[float, float] | None = None):
    """Target grid (gt, W, H, srid) from ONE metadata aggregation —
    the gdalbuildvrt extent/resolution scan (apps/gdalbuildvrt_lib.cpp
    analyses sources the same way, without reading pixels).

    ``resolution``: 'highest' (finest pixel, the default), 'lowest',
    'average', or 'user' with ``target_res=(rx, ry)``."""
    if resolution == "user":
        if target_res is None:
            raise ValueError("resolution='user' needs target_res=(rx, ry)")
    elif resolution not in ("highest", "lowest", "average"):
        raise ValueError(f"unknown resolution rule {resolution!r}")
    agg = images.select(
        F.min("gt0").alias("minx"),
        F.max(F.col("gt0") + F.col("w") * F.col("gt1")).alias("maxx"),
        F.max("gt3").alias("maxy"),
        F.min(F.col("gt3") + F.col("h") * F.col("gt5")).alias("miny"),
        F.min("gt1").alias("rx_hi"),
        F.max("gt1").alias("rx_lo"),
        F.avg("gt1").alias("rx_av"),
        F.min(-F.col("gt5")).alias("ry_hi"),
        F.max(-F.col("gt5")).alias("ry_lo"),
        F.avg(-F.col("gt5")).alias("ry_av"),
        F.count_distinct("srid").alias("n_srid"),
        F.first("srid").alias("srid"),
        F.max(F.abs("gt2") + F.abs("gt4")).alias("rot"),
        F.min("gt1").alias("gt1_min"),
        F.max("gt5").alias("gt5_max"),
    ).collect()[0]
    if agg.minx is None:
        raise ValueError("mosaic over zero source images")
    if agg.n_srid != 1:
        # buildvrt parity: "gdalbuildvrt does not support heterogeneous
        # projection" — reproject with warp_images first
        raise ValueError(f"mosaic sources span {agg.n_srid} CRS; warp first")
    if agg.rot != 0.0:
        raise ValueError("mosaic requires north-up sources (gt2 == gt4 == 0)")
    if agg.gt1_min <= 0.0 or agg.gt5_max >= 0.0:
        raise ValueError("mosaic requires gt1 > 0 and gt5 < 0 sources")
    if resolution == "user":
        rx, ry = float(target_res[0]), float(target_res[1])
    elif resolution == "highest":
        rx, ry = float(agg.rx_hi), float(agg.ry_hi)
    elif resolution == "lowest":
        rx, ry = float(agg.rx_lo), float(agg.ry_lo)
    else:
        rx, ry = float(agg.rx_av), float(agg.ry_av)
    # round the raster size OUT so the union extent is covered
    # (buildvrt rounds the same way, then keeps the origin fixed)
    W = max(1, int(math.ceil((agg.maxx - agg.minx) / rx - 1e-9)))
    H = max(1, int(math.ceil((agg.maxy - agg.miny) / ry - 1e-9)))
    gt = (float(agg.minx), rx, 0.0, float(agg.maxy), 0.0, -ry)
    return gt, W, H, int(agg.srid)


def build_mosaic(
    images: DataFrame,
    resolution: str = "highest",
    target_res: tuple[float, float] | None = None,
    tile_size: int = 512,
    resampling: str = "near",
    on_error: str = "fail",
) -> DataFrame:
    """Compose all source images onto the common grid; returns one row
    per non-empty output tile with its own geotransform, composed RGBA
    PNG and GDAL checksums. Edge tiles are clipped to the raster size
    (tw/th < tile_size), like retile.

    ``on_error='skip'`` drops sources whose bytes fail to decode instead
    of aborting the mosaic (the warp_images convention; default 'fail'
    matches gdalbuildvrt)."""
    _check_on_error(on_error)

    gt, W, H, srid = mosaic_grid(images, resolution, target_res)
    ts = int(tile_size)
    ntx = (W + ts - 1) // ts
    nty = (H + ts - 1) // ts
    minx, rx = gt[0], gt[1]
    maxy, ry = gt[3], -gt[5]

    # covered output-tile range per image: pure Column math
    x0 = F.col("gt0")
    x1 = F.col("gt0") + F.col("w") * F.col("gt1")
    y1 = F.col("gt3")
    y0 = F.col("gt3") + F.col("h") * F.col("gt5")
    eps = 1e-9
    txmin = F.greatest(F.lit(0), F.floor((x0 - minx) / (ts * rx) + eps)).cast("long")
    txmax = F.least(F.lit(ntx - 1), F.floor((x1 - minx) / (ts * rx) - eps)).cast("long")
    tymin = F.greatest(F.lit(0), F.floor((maxy - y1) / (ts * ry) + eps)).cast("long")
    tymax = F.least(F.lit(nty - 1), F.floor((maxy - y0) / (ts * ry) - eps)).cast("long")
    ranged = (
        images.withColumn("txmin", txmin)
        .withColumn("txmax", txmax)
        .withColumn("tymin", tymin)
        .withColumn("tymax", tymax)
        .where((F.col("txmax") >= F.col("txmin")) & (F.col("tymax") >= F.col("tymin")))
    )

    def tile_gt(tx, ty):
        return (minx + tx * ts * rx, rx, 0.0, maxy - ty * ts * ry, 0.0, -ry)

    def tile_shape(tx, ty):
        # edge tiles are clipped to the raster size
        return min(ts, H - ty * ts), min(ts, W - tx * ts)

    def cuts(r, arr, alpha_src):
        src_gt = (r.gt0, r.gt1, r.gt2, r.gt3, r.gt4, r.gt5)
        for tx in range(int(r.txmin), int(r.txmax) + 1):
            for ty in range(int(r.tymin), int(r.tymax) + 1):
                tile, alpha = _warp_cut(
                    arr, alpha_src, src_gt, int(r.srid), tile_shape(tx, ty),
                    tile_gt(tx, ty), int(r.srid), resampling,
                )
                if alpha.any():
                    yield 0, tx, ty, tile, alpha

    def compose(pdf):
        tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
        th, tw = tile_shape(tx, ty)
        gts = dict(zip(("gt0", "gt1", "gt2", "gt3", "gt4", "gt5"), tile_gt(tx, ty)))
        return _compose_frame(
            pdf, (th, tw), MOSAIC_TILE_SCHEMA, tx=tx, ty=ty, w=tw, h=th, **gts
        )

    frags = _map_fragments(ranged, on_error, cuts)
    return group_by_key(
        frags, ("tx", "ty"), (), compose, "build_mosaic", MOSAIC_TILE_SCHEMA, log
    )
