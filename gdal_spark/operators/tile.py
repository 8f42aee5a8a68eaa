"""XYZ/TMS tile pyramid — the engine's gdal2tiles, as a Spark dataflow.

Pipeline (SURVEY.md §3.3 mapping):

1. **zoom planning** — per-image native zoom from pixel size
   (ZoomForPixelSize, gdal2tiles.py:503-509) as pure Column math.
2. **tile assignment** — inside stage 3's one mapInPandas: each image's
   covered (z, tx, ty) range per level comes from ``grid.tile_range``
   over its bounds (gdal2tiles.py:2428-2435 tminmax build), after the
   image is decoded once for all its tiles. Only tiles that some image
   covers are ever cut, so the skip-no-source rule of
   generate_base_tiles (2797-2962; the "single biggest saver at scale",
   SURVEY.md §4) holds by construction. ``assign_tiles`` still builds
   the same (image, tile) work list as Column math + ``explode(sequence
   (...))`` for callers that want it without pixels; no pyramid builder
   calls it.
3. **fragment cut** — one mapInPandas over image rows for every tile
   grid and level range, keyed by a grid object (``MercatorGrid`` or
   ``GeodeticGrid``, built for the tile size): decode once per image, emit
   one fragment per covered tile of each level. Sources north-up in the
   grid's CRS follow the gdal2tiles geo_query + oversample +
   scale_query_to_tile path digit for digit (gdal2tiles.py:2964-3006,
   1334-1394); other sources take the exact per-tile warp (the
   gdalalg_raster_tile.cpp:647-649 per-tile WarpRegionToBuffer
   formulation). Each fragment leaves in final form: the tile this
   source alone would compose to (pixels where its alpha is set, alpha
   appended as 255/0, gdal2tiles.py:2815), encoded once as the tile PNG,
   with its GDAL checksums (alg/gdalchecksum.cpp).
4. **compose** — ``plans.grouping.group_by_key`` on (z, tx, ty): a key
   hash repartition into ``defaultParallelism`` partitions, a sort, then
   one mapInPandas walking the sorted runs, each tile's fragments as one
   frame. A one-fragment tile (most of them: gdal2tiles' create_base_tile
   writes a tile straight from its source) passes through as cut, with
   no decode or encode. Where sources overlap, the fragments are decoded
   and painted in image_id order (gdalbuildvrt placement,
   apps/gdalbuildvrt_lib.cpp), then encoded and checksummed. Tiles leave
   with their lineage columns in frames of at most the session's Arrow
   batch cap (each row carries a PNG). The tile-key shuffle **is** the
   mosaic; mosaic.build_mosaic composes through the same helper.
5. **overviews** — the same grouping keyed by the parent tile, children
   in (tx, ty) order: place <=4 children in a 2x2 buffer by (x%2,
   y-parity) (gdal2tiles.py:1536-1550), 2:1 average downsample with exact
   edge weights (gcore/overview.cpp), iterate z-1 .. tminz.

Scale notes: fragments, not whole images, cross the shuffle (one tile
PNG each). The compose shuffle has an explicit partition count, so AQE
cannot coalesce it: fragments are small PNGs, and a size-driven coalesce
would put the whole CPU-bound mosaic into one task.
"""

from __future__ import annotations

import logging
import math

import numpy as np

from .. import codecs
from ..checksum import image_checksums
from ..grid import (
    ORIGIN_SHIFT, EARTH_RADIUS, GeodeticGrid, MercatorGrid, geo_query, xyz_flip,
)
from ..plans.grouping import group_by_key
from ..resample import SAMPLERS, WINDOW_KERNELS, resize
from .warp import geo_transform_points, warp_array

from pyspark.sql import Column
from pyspark.sql import functions as F

_MERC = MercatorGrid()

log = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# stage 1+2: zoom planning + tile assignment (pure Column math)
# ---------------------------------------------------------------------------


def col_zoom_for_pixel_size(pixel_size, max_zoom: int = 31, tile_size: int = 256):
    """ZoomForPixelSize (gdal2tiles.py:503-509) as a Column expression:
    the last zoom that does not scale up, i.e. floor(log2(IR / ps)),
    clamped to [0, max_zoom]."""
    ir = 2 * math.pi * EARTH_RADIUS / tile_size
    raw = F.floor(F.log2(F.lit(ir) / pixel_size))
    return F.greatest(F.lit(0), F.least(F.lit(max_zoom), raw)).cast("int")


def native_zoom_col(tile_size: int = 256):
    """Native (max) zoom of an image row from its mercator pixel size.

    4326 rows: degree pixel size -> meters via the equatorial scale
    originShift/180 (the same scale LatLonToMeters applies to x,
    gdal2tiles.py:422-429)."""
    ps_m = F.when(F.col("srid") == 4326, F.col("gt1") * (ORIGIN_SHIFT / 180.0)).otherwise(
        F.col("gt1")
    )
    return col_zoom_for_pixel_size(ps_m, tile_size=tile_size)


def assign_tiles(images, zoom, tile_size: int = 256):
    """Explode each image row into its covered (z, tx, ty) TMS tiles at
    ``zoom`` (int or Column). Pure column math -> stays in WholeStageCodegen;
    Catalyst prunes to the 5 footprint columns before the explode."""
    z = zoom if isinstance(zoom, Column) else F.lit(int(zoom))
    ir = 2 * math.pi * EARTH_RADIUS / tile_size
    res = F.lit(ir) / F.pow(F.lit(2.0), z.cast("double"))
    ts = float(tile_size)

    def m2t(m):
        p = (m + ORIGIN_SHIFT) / res
        return (F.ceil(p / ts) - 1).cast("long")

    n1 = F.pow(F.lit(2.0), z.cast("double")).cast("long") - 1
    tminx = F.greatest(F.lit(0).cast("long"), m2t(F.col("minx")))
    tminy = F.greatest(F.lit(0).cast("long"), m2t(F.col("miny")))
    tmaxx = F.least(n1, m2t(F.col("maxx")))
    tmaxy = F.least(n1, m2t(F.col("maxy")))

    return (
        images.withColumn("z", z.cast("int"))
        .withColumn("_tminx", tminx)
        .withColumn("_tminy", tminy)
        .withColumn("_tmaxx", tmaxx)
        .withColumn("_tmaxy", tmaxy)
        .where(
            (F.col("_tmaxx") >= F.col("_tminx")) & (F.col("_tmaxy") >= F.col("_tminy"))
        )
        .withColumn("tx", F.explode(F.sequence(F.col("_tminx"), F.col("_tmaxx"))))
        .withColumn("ty", F.explode(F.sequence(F.col("_tminy"), F.col("_tmaxy"))))
        .drop("_tminx", "_tminy", "_tmaxx", "_tmaxy")
    )


# ---------------------------------------------------------------------------
# stage 3: fragment cut (mapInPandas — decode each image once)
# ---------------------------------------------------------------------------

# px: the fragment's final-form tile PNG (``_fragment_row``), c: its
# color channels without alpha, checksums: the GDAL checksums of that
# tile. alpha is always empty: the alpha is px's last channel.
FRAGMENT_SCHEMA = (
    "z int, tx long, ty long, image_id string, px binary, alpha binary, c int, "
    "checksums array<int>"
)
FRAGMENT_COLUMNS = ["z", "tx", "ty", "image_id", "px", "alpha", "c", "checksums"]


def _native_zoom_col(grid):
    """Per-image native zoom on ``grid``: the mercator ZoomForPixelSize,
    or gdal2tiles' geodetic one (resFact) from the DEGREE pixel size."""
    if grid.epsg == 3857:
        return native_zoom_col(grid.tile_size)
    ps_deg = F.when(F.col("srid") == 4326, F.col("gt1")).otherwise(
        F.col("gt1") / (ORIGIN_SHIFT / 180.0)
    )
    raw = F.floor(F.log2(F.lit(grid.res_fact) / ps_deg))
    return F.greatest(F.lit(0), F.least(F.lit(31), raw)).cast("int")


def _grid_bounds(r, grid):
    """Image footprint in ``grid``'s CRS: the 3857 footprint columns, or
    lon/lat for the geodetic grid (a 4326 source's own extent)."""
    if grid.epsg == 3857:
        return r.minx, r.miny, r.maxx, r.maxy
    if r.srid == 4326:
        return r.gt0, r.gt3 + r.h * r.gt5, r.gt0 + r.w * r.gt1, r.gt3
    xs, ys = geo_transform_points(
        np.array([r.minx, r.maxx]), np.array([r.miny, r.maxy]), 3857, 4326
    )
    return float(xs[0]), float(ys[0]), float(xs[1]), float(ys[1])


def _cut_window(arr, alpha_src, gt, w, h, bounds, ts: int, resampling: str):
    """geo_query cut of one tile from a north-up source already in the
    tile grid's CRS."""
    bminx, bminy, bmaxx, bmaxy = bounds
    (rx, ry, rxs, rys), (wx, wy, wxs, wys) = geo_query(
        gt, w, h, bminx, bmaxy, bmaxx, bminy, querysize=ts
    )
    rx, ry, rxs, rys = int(rx), int(ry), int(rxs), int(rys)
    wx, wy, wxs, wys = int(wx), int(wy), int(wxs), int(wys)
    if rxs <= 0 or rys <= 0 or wxs <= 0 or wys <= 0:
        return None
    patch = arr[ry : ry + rys, rx : rx + rxs]
    apatch = alpha_src[ry : ry + rys, rx : rx + rxs]
    kern = resampling
    if (
        kern not in WINDOW_KERNELS
        and kern != "near"
        and (rxs > 2 * wxs or rys > 2 * wys)
    ):
        kern = "average"
    up = resize(patch.astype(np.float64), wys, wxs, kern)
    aup = resize(apatch.astype(np.float64)[:, :, None], wys, wxs, "average")[:, :, 0]
    c = up.shape[2]
    dq = np.zeros((ts, ts, c), dtype=np.float64)
    aq = np.zeros((ts, ts), dtype=np.float64)
    dq[wy : wy + wys, wx : wx + wxs] = up
    aq[wy : wy + wys, wx : wx + wxs] = aup
    tile = np.clip(np.round(dq), 0, 255).astype(np.uint8)
    alpha = np.where(aq >= 127.5, 255, 0).astype(np.uint8)
    return tile, alpha


def _warp_cut(arr, alpha_src, gt, srid, shape, dst_gt, dst_srid, resampling):
    """Per-tile warp of a source and its alpha through one transform
    (the apps/gdalalg_raster_tile.cpp:647-649 formulation). A pixel is
    opaque where the source covers it and the warped source alpha is at
    least half (the 127.5 threshold of _cut_window), so source
    transparency survives the warp. Returns (uint8 (h,w,c), alpha (h,w))."""
    out, cov = warp_array(arr, gt, srid, shape, dst_gt, dst_srid, resampling)
    a_out, _cov = warp_array(
        alpha_src.astype(np.float64), gt, srid, shape, dst_gt, dst_srid, resampling
    )
    tile = np.atleast_3d(np.clip(np.round(out), 0, 255).astype(np.uint8))
    a2 = np.atleast_3d(a_out)[:, :, 0]
    alpha = np.where((cov > 0) & (a2 >= 127.5), 255, 0).astype(np.uint8)
    return tile, alpha


def _cut_one(arr, alpha_src, r, z: int, tx: int, ty: int, tile_size: int, resampling: str,
             grid=None):
    """Cut one (image, tile) fragment of ``grid`` (default: the mercator
    grid for ``tile_size``). Returns (tile_rgb uint8 (ts,ts,c), alpha
    uint8 (ts,ts)) or None if the tile has no coverage."""
    grid = MercatorGrid(tile_size) if grid is None else grid
    ts = tile_size
    gt = (r.gt0, r.gt1, r.gt2, r.gt3, r.gt4, r.gt5)
    bminx, bminy, bmaxx, bmaxy = (float(v) for v in grid.tile_bounds(tx, ty, z))

    if r.srid == grid.epsg and gt[2] == 0.0 and gt[4] == 0.0:
        # gdal2tiles base-tile path: geo_query read/write windows.
        # NOTE: for read windows >2x the write window this path uses the
        # exact area-average reducer REGARDLESS of `resampling` (the
        # oversample+shrink gdal2tiles performs converges to the area
        # integral; point kernels on a >2x decimation would alias) —
        # the per-tile WARP branch below honors the kernel literally.
        # (gdal2tiles.py:2964-3006, create_base_tile 1283-1436). gdal2tiles
        # oversamples to querysize=4*ts then downsamples; we resize the read
        # window straight to the write window in one pass — same integral
        # (area-average is exact, resize_average edge weighting), ~16x less
        # memory traffic per fragment.
        cut = _cut_window(
            arr, alpha_src, gt, r.w, r.h,
            (bminx, bminy, bmaxx, bmaxy), ts, resampling,
        )
        if cut is None:
            return None
        tile, alpha = cut
    else:
        # per-tile warp; every GRA_* kernel goes straight through (no
        # silent fallback)
        res = float(grid.resolution(z))
        dst_gt = (bminx, res, 0.0, bmaxy, 0.0, -res)
        samp = resampling if (resampling in SAMPLERS or resampling in WINDOW_KERNELS) else "bilinear"
        tile, alpha = _warp_cut(
            arr, alpha_src, gt, r.srid, (ts, ts), dst_gt, grid.epsg, samp
        )
    if not alpha.any():
        return None
    return tile, alpha


def _decode_rgb_alpha(raw: bytes, fmt: str):
    arr = codecs.decode_image(raw, fmt)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.shape[2] == 4:
        return arr[:, :, :3], arr[:, :, 3]
    return arr, np.full(arr.shape[:2], 255, dtype=np.uint8)


def _decode_or_none(raw: bytes, fmt: str, on_error: str):
    """Decode, or (on_error='skip') swallow corrupt bytes — one
    truncated blob among 10^12 must not kill the tile job; default
    'fail' aborts like gdal2tiles."""
    try:
        return _decode_rgb_alpha(raw, fmt)
    except Exception:
        if on_error == "skip":
            return None
        raise


def _check_on_error(on_error: str) -> None:
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")


def _fragment_row(r, z, tx, ty, tile, alpha):
    # Final form: the tile this fragment alone composes to, encoded and
    # checksummed as ``_tile_frame`` would. A one-fragment tile (the
    # common case) then leaves compose as is, and an overlap decodes one
    # PNG per fragment; painting reads only alpha > 0 and the pixels
    # under it, which this form keeps.
    m = alpha > 0
    rgba = np.dstack([tile * m[:, :, None], np.where(m, np.uint8(255), np.uint8(0))])
    png, sums = _encode_tile(rgba)
    return {
        "z": int(z),
        "tx": int(tx),
        "ty": int(ty),
        "image_id": r.image_id,
        "px": png,
        "alpha": b"",
        "c": int(tile.shape[2]),
        "checksums": sums,
    }


def _map_fragments(rows, on_error: str, cuts):
    """One mapInPandas over image rows: decode each image once (or skip
    it, ``on_error``) and emit a fragment for every (z, tx, ty, tile,
    alpha) that ``cuts(r, arr, alpha_src)`` yields. Image bytes are never
    duplicated across tiles; only PNG fragments leave the stage."""
    import pandas as pd

    def do(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                dec = _decode_or_none(bytes(r.bytes), r.fmt, on_error)
                if dec is not None:
                    out.extend(_fragment_row(r, *f) for f in cuts(r, *dec))
            yield pd.DataFrame(out, columns=FRAGMENT_COLUMNS)

    return rows.mapInPandas(do, schema=FRAGMENT_SCHEMA)


def _cut(images, grid, tminz, tmaxz, levels_below, resampling: str, on_error: str):
    """Fragments of ``grid`` for a range of zoom levels per image, every
    level cut straight from the source. Levels: native zoom z_n (or
    ``tmaxz``) down to ``tminz`` — or, with ``levels_below=k``, down to
    z_n - k."""
    _check_on_error(on_error)
    ts = grid.tile_size
    # explicit tmaxz wins (gdal2tiles cuts past native zoom by upsampling
    # when asked); otherwise per-image native zoom
    imgs = images.withColumn(
        "zmax", _native_zoom_col(grid) if tmaxz is None else F.lit(int(tmaxz))
    )
    lo = F.lit(0 if tminz is None else int(tminz))
    if levels_below is not None:
        lo = F.greatest(lo, F.col("zmax") - int(levels_below))
    imgs = imgs.withColumn("zmin", F.least(lo, F.col("zmax")))

    def cuts(r, arr, alpha_src):
        bounds = _grid_bounds(r, grid)
        for z in range(int(r.zmax), int(r.zmin) - 1, -1):
            tminx, tminy, tmaxx, tmaxy = (int(v) for v in grid.tile_range(*bounds, z))
            for tx in range(tminx, tmaxx + 1):
                for ty in range(tminy, tmaxy + 1):
                    cut = _cut_one(arr, alpha_src, r, z, tx, ty, ts, resampling, grid)
                    if cut is not None:
                        yield (z, tx, ty, *cut)

    return _map_fragments(imgs, on_error, cuts)


def cut_fragments(images, zoom=None, tile_size: int = 256, resampling: str = "average", on_error: str = "fail"):
    """images (+ optional fixed zoom; default = per-image native zoom) ->
    fragments DF of one level."""
    return _cut(images, MercatorGrid(tile_size), zoom, zoom, 0, resampling, on_error)


# ---------------------------------------------------------------------------
# stage 4: compose fragments -> tiles (the tile-key shuffle IS the mosaic)
# ---------------------------------------------------------------------------

TILE_SCHEMA = (
    "z int, tx long, ty long, y_xyz long, png binary, w int, h int, "
    "checksum int, checksums array<int>, n_src int, src_ids array<string>"
)


def _paint(pdf, shape):
    """Paint a tile's fragments in image_id order (gdalbuildvrt
    placement): each fragment's opaque pixels overwrite what lies under
    them. Returns the RGBA array and the painted image ids."""
    c = int(pdf["c"].max())
    buf = np.zeros((*shape, c), dtype=np.uint8)
    alpha = np.zeros(shape, dtype=np.uint8)
    src_ids = []
    for r in pdf.sort_values("image_id").itertuples(index=False):
        frag = codecs.decode_png(bytes(r.px))
        tile, m = frag[:, :, :-1], frag[:, :, -1] > 0
        if tile.shape[2] < c:  # gray fragment into RGB mosaic: replicate
            tile = np.repeat(tile[:, :, :1], c, axis=2)
        buf[m] = tile[m]
        alpha[m] = 255
        src_ids.append(r.image_id)
    return np.dstack([buf, alpha]), src_ids


def _encode_tile(rgba):
    """The tile encoder: PNG bytes and GDAL checksums of ``rgba``."""
    # level 3: ~2x faster than the zlib default for ~2% larger tiles
    # (150 -> 154 KB measured on a photographic tile)
    return codecs.encode_png(rgba, level=3), image_checksums(rgba)


def _tile_row(schema: str, png, sums, **cols):
    import pandas as pd

    return pd.DataFrame(
        [{**cols, "png": png, "checksum": sums[0], "checksums": sums}],
        columns=[f.split()[0] for f in schema.split(", ")],
    )


def _tile_frame(rgba, schema: str, **cols):
    """One row of ``schema`` (in its column order): ``cols`` plus the PNG
    and GDAL checksums of ``rgba``."""
    return _tile_row(schema, *_encode_tile(rgba), **cols)


def _compose_frame(pdf, shape, schema: str, **cols):
    """One composed tile of ``shape`` from its fragments ``pdf``: a row
    of ``schema`` with ``cols``, the lineage columns, PNG and checksums.
    A lone fragment is already the tile (``_fragment_row``) and passes
    through undecoded; two or more are painted and encoded."""
    if len(pdf) == 1:
        r = next(pdf.itertuples(index=False))
        return _tile_row(
            schema, bytes(r.px), [int(v) for v in r.checksums],
            n_src=1, src_ids=[r.image_id], **cols,
        )
    rgba, src_ids = _paint(pdf, shape)
    return _tile_frame(rgba, schema, n_src=len(src_ids), src_ids=src_ids, **cols)


def _compose_group(pdf, tile_size: int):
    z, tx, ty = (int(pdf[k].iloc[0]) for k in ("z", "tx", "ty"))
    return _compose_frame(
        pdf, (tile_size, tile_size), TILE_SCHEMA, z=z, tx=tx, ty=ty,
        y_xyz=int(xyz_flip(ty, z)), w=tile_size, h=tile_size,
    )


def compose_tiles(fragments, tile_size: int = 256):
    """Mosaic fragments into one tile per (z, tx, ty)."""
    return group_by_key(
        fragments, ("z", "tx", "ty"), (),
        lambda pdf: _compose_group(pdf, tile_size), "compose_tiles", TILE_SCHEMA, log,
    )


def cut_base_tiles(images, zoom=None, tile_size: int = 256, resampling: str = "average"):
    """End-to-end base-tile cut: assignment -> fragments -> composed tiles."""
    return compose_tiles(cut_fragments(images, zoom, tile_size, resampling), tile_size)


# ---------------------------------------------------------------------------
# stage 5: overview zoom levels (4 -> 1 reduce per zoom)
# ---------------------------------------------------------------------------


def _overview_group(pdf, tile_size: int):
    ts = tile_size
    pz = int(pdf["z"].iloc[0]) - 1
    ptx = int(pdf["ptx"].iloc[0])
    pty = int(pdf["pty"].iloc[0])
    buf = np.zeros((2 * ts, 2 * ts, 4), dtype=np.uint8)
    src_ids: list[str] = []
    n_src = 0
    for r in pdf.itertuples(index=False):
        child = codecs.decode_png(bytes(r.png))
        if child.ndim == 2:
            child = child[:, :, None]
        if child.shape[2] == 2:  # gray+alpha -> RGBA
            child = np.dstack([np.repeat(child[:, :, :1], 3, axis=2), child[:, :, 1]])
        elif child.shape[2] == 3:  # RGB -> RGBA
            child = np.dstack([child, np.full(child.shape[:2], 255, dtype=np.uint8)])
        elif child.shape[2] == 1:
            child = np.dstack(
                [np.repeat(child, 3, axis=2), np.full(child.shape[:2], 255, dtype=np.uint8)]
            )
        dx = int(r.tx) % 2
        dy = int(r.ty) % 2
        # TMS ty grows north; buffer row 0 is the north half
        # (gdal2tiles.py:1536-1550 y-parity flip)
        ox = dx * ts
        oy = (1 - dy) * ts
        buf[oy : oy + ts, ox : ox + ts] = child
        n_src += int(r.n_src)
        src_ids.extend(list(r.src_ids)[:16])
    down = resize(buf.astype(np.float64), ts, ts, "average")
    tile = np.clip(np.round(down), 0, 255).astype(np.uint8)
    # re-binarize alpha after averaging
    tile[:, :, 3] = np.where(tile[:, :, 3] >= 128, 255, 0)
    return _tile_frame(
        tile, TILE_SCHEMA, z=pz, tx=ptx, ty=pty, y_xyz=int(xyz_flip(pty, pz)),
        w=ts, h=ts, n_src=n_src, src_ids=src_ids[:64],
    )


def overview_tiles(tiles, tile_size: int = 256):
    """One zoom step up: compose <=4 children per parent then 2:1 average
    downsample (create_overview_tile, gdal2tiles.py:1471-1600). z=0 tiles
    have no parent and are dropped from the input."""
    parents = (
        tiles.where(F.col("z") > 0)
        .withColumn("ptx", (F.col("tx") / 2).cast("long"))
        .withColumn("pty", (F.col("ty") / 2).cast("long"))
    )
    return group_by_key(
        parents, ("z", "ptx", "pty"), ("tx", "ty"),
        lambda pdf: _overview_group(pdf, tile_size), "overview_tiles", TILE_SCHEMA, log,
    )


def tile_pyramid(
    images,
    tminz: int,
    tmaxz: int,
    tile_size: int = 256,
    resampling: str = "average",
    persist: bool = True,
):
    """Full pyramid, gdal2tiles REDUCE semantics: base tiles at tmaxz,
    then each level z-1 derived from level z (the "best overview" source
    selection of gcore/rasterio.cpp:4086-4174), so total work is a
    geometric series in tile count.

    The chained reduces are materialization barriers (each level must
    finish before the next starts) — use :func:`tile_pyramid_direct` when
    throughput/scaling matters more than bit-parity with the
    overview-of-overview rounding chain. With ``persist`` the final union
    is checkpointed eagerly and every per-level cache is released
    immediately, so a long session does not accumulate executor storage."""
    level = cut_base_tiles(images, tmaxz, tile_size, resampling)
    if persist:
        level = level.persist()
    out = [level]
    for _z in range(tmaxz, tminz, -1):
        level = overview_tiles(level, tile_size)
        if persist:
            level = level.persist()
        out.append(level)
    result = out[0]
    for lv in out[1:]:
        result = result.unionByName(lv)
    if persist:
        result = result.localCheckpoint(eager=True)
        for lv in out:
            lv.unpersist()
    return result


# ---------------------------------------------------------------------------
# direct pyramid: every level cut from the source, ONE shuffle, no barriers
# ---------------------------------------------------------------------------


def cut_fragments_levels(
    images,
    tminz: int | None = None,
    tmaxz: int | None = None,
    levels_below: int | None = None,
    tile_size: int = 256,
    resampling: str = "average",
    on_error: str = "fail",
):
    """Fragments for a RANGE of zoom levels in one narrow pass: decode
    each image once, cut every covered tile of every level straight from
    the source (the per-tile formulation of apps/gdalalg_raster_tile.cpp
    — each zoom is an independent area-average of the source, not an
    overview-of-overviews).

    Levels per image: native zoom z_n (capped by ``tmaxz``) down to
    ``tminz`` — or, with ``levels_below=k``, down to z_n - k (per-image
    relative overviews, the bench/throughput shape).

    Scale notes: this trades ~33%% extra resample work (each level reads
    the full read-window again) for ZERO inter-level shuffles or
    persist+count barriers — the whole pyramid is map -> one tile-key
    shuffle -> compose, so wall-clock scales with executors instead of
    being serialized through per-level materializations.
    """
    return _cut(
        images, MercatorGrid(tile_size), tminz, tmaxz, levels_below, resampling, on_error
    )


def geodetic_tile_pyramid(
    images,
    tminz: int | None = None,
    tmaxz: int | None = None,
    levels_below: int | None = None,
    tile_size: int = 256,
    resampling: str = "average",
    tmscompatible: bool = True,
):
    """Single-action geodetic pyramid (gdal2tiles --profile geodetic,
    gdal2tiles.py:534-660): the direct cut over the GeodeticGrid (2*2^z x
    2^z tiles per level with tmscompatible) -> one tile-key shuffle ->
    compose."""
    grid = GeodeticGrid(tile_size=tile_size, tmscompatible=tmscompatible)
    return compose_tiles(
        _cut(images, grid, tminz, tmaxz, levels_below, resampling, "fail"), tile_size
    )


def tile_pyramid_direct(
    images,
    tminz: int | None = None,
    tmaxz: int | None = None,
    levels_below: int | None = None,
    tile_size: int = 256,
    resampling: str = "average",
    on_error: str = "fail",
):
    """Single-action pyramid: all levels cut from source in one map
    stage, composed through ONE tile-key shuffle. No persist, no
    barriers — the plan is scan -> mapInPandas -> exchange -> compose.
    ``on_error='skip'`` drops undecodable source rows instead of
    aborting (the warp_images convention)."""
    return compose_tiles(
        cut_fragments_levels(
            images, tminz, tmaxz, levels_below, tile_size, resampling,
            on_error=on_error,
        ),
        tile_size,
    )
