"""Tile-grid math: GlobalMercator (EPSG:3857) and GlobalGeodetic (EPSG:4326).

Semantics follow the reference implementation in
``swig/python/gdal-utils/osgeo_utils/gdal2tiles.py:315-560`` (GlobalMercator /
GlobalGeodetic classes) digit-for-digit, including:

- originShift = 2*pi*6378137/2 = 20037508.342789244  (gdal2tiles.py:419)
- initialResolution = 2*pi*6378137/tile_size = 156543.03392804062 for 256
  (gdal2tiles.py:416)
- PixelsToTile uses ``int(ceil(p/ts) - 1)``  (gdal2tiles.py:473-477)
- ZoomForPixelSize: first zoom whose resolution is below the pixel size,
  minus one ("We don't want to scale up")  (gdal2tiles.py:503-509)
- XYZ<->TMS y flip: ``y_xyz = 2**z - 1 - y_tms``  (gdal2tiles.py GoogleTile)
- geo_query window math with its asymmetric roundings (+0.001 / +0.5 and
  int() truncation-toward-zero)  (gdal2tiles.py:2964-3006)

Two APIs are provided for each transform:

1. numpy-vectorized (used inside pandas UDFs and in unit tests), and
2. Spark ``Column`` expressions (pure column math — tile assignment never
   leaves the JVM / Catalyst, so it is pushed down, pruned and codegen'd).

Both evaluate the same IEEE-double expression tree so results agree bitwise.
"""

from __future__ import annotations

import math

import numpy as np

try:  # Column-expression half is optional so numpy half works without a JVM
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    _HAVE_SPARK = True
except Exception:  # pragma: no cover
    _HAVE_SPARK = False

EARTH_RADIUS = 6378137.0
ORIGIN_SHIFT = 2 * math.pi * EARTH_RADIUS / 2.0  # 20037508.342789244
MAXZOOMLEVEL = 32
PI = math.pi


# ---------------------------------------------------------------------------
# numpy side
# ---------------------------------------------------------------------------


class MercatorGrid:
    """TMS Global Mercator pyramid (EPSG:3857), 256px tiles by default.

    Vectorized re-derivation of gdal2tiles.py:315-530. All functions accept
    scalars or numpy arrays.
    """

    epsg = 3857

    def __init__(self, tile_size: int = 256) -> None:
        self.tile_size = tile_size
        self.initial_resolution = 2 * math.pi * EARTH_RADIUS / tile_size
        self.origin_shift = ORIGIN_SHIFT

    def latlon_to_meters(self, lat, lon):
        mx = lon * self.origin_shift / 180.0
        my = np.log(np.tan((90 + np.asarray(lat, dtype=np.float64)) * PI / 360.0)) / (
            PI / 180.0
        )
        my = my * self.origin_shift / 180.0
        return np.asarray(mx, dtype=np.float64), my

    def meters_to_latlon(self, mx, my):
        lon = (np.asarray(mx, dtype=np.float64) / self.origin_shift) * 180.0
        lat = (np.asarray(my, dtype=np.float64) / self.origin_shift) * 180.0
        lat = 180.0 / PI * (2 * np.arctan(np.exp(lat * PI / 180.0)) - PI / 2.0)
        return lat, lon

    def resolution(self, zoom):
        return self.initial_resolution / (2.0 ** np.asarray(zoom))

    def meters_to_pixels(self, mx, my, zoom):
        res = self.resolution(zoom)
        px = (np.asarray(mx, dtype=np.float64) + self.origin_shift) / res
        py = (np.asarray(my, dtype=np.float64) + self.origin_shift) / res
        return px, py

    def pixels_to_meters(self, px, py, zoom):
        res = self.resolution(zoom)
        mx = np.asarray(px, dtype=np.float64) * res - self.origin_shift
        my = np.asarray(py, dtype=np.float64) * res - self.origin_shift
        return mx, my

    def pixels_to_tile(self, px, py):
        # int(ceil(p / ts) - 1): ceil then -1; values are integral so the
        # int() truncation cannot flip them.
        ts = float(self.tile_size)
        tx = (np.ceil(np.asarray(px, dtype=np.float64) / ts) - 1).astype(np.int64)
        ty = (np.ceil(np.asarray(py, dtype=np.float64) / ts) - 1).astype(np.int64)
        return tx, ty

    def meters_to_tile(self, mx, my, zoom):
        px, py = self.meters_to_pixels(mx, my, zoom)
        return self.pixels_to_tile(px, py)

    def tile_bounds(self, tx, ty, zoom):
        """(minx, miny, maxx, maxy) in EPSG:3857 meters, TMS tile coords."""
        ts = self.tile_size
        minx, miny = self.pixels_to_meters(
            np.asarray(tx) * ts, np.asarray(ty) * ts, zoom
        )
        maxx, maxy = self.pixels_to_meters(
            (np.asarray(tx) + 1) * ts, (np.asarray(ty) + 1) * ts, zoom
        )
        return minx, miny, maxx, maxy

    def zoom_for_pixel_size(self, pixel_size):
        """Max scale-down zoom closest to pixel_size (never scales up)."""
        ps = np.asarray(pixel_size, dtype=np.float64)
        res = self.initial_resolution / (2.0 ** np.arange(MAXZOOMLEVEL))
        # first zoom i with ps > res(i); resolutions are monotone decreasing
        cond = ps[..., None] > res  # (..., 32)
        any_true = cond.any(axis=-1)
        first_true = np.argmax(cond, axis=-1)
        zoom = np.where(any_true, np.maximum(0, first_true - 1), MAXZOOMLEVEL - 1)
        return zoom.astype(np.int64) if zoom.ndim else int(zoom)

    def tile_range(self, ominx, ominy, omaxx, omaxy, zoom):
        """Per-zoom covered tile range, cropped to [0, 2**z-1] on both axes.

        Mirrors gdal2tiles.py:2428-2435 (tminmax table build).
        """
        tminx, tminy = self.meters_to_tile(ominx, ominy, zoom)
        tmaxx, tmaxy = self.meters_to_tile(omaxx, omaxy, zoom)
        n = np.int64(2) ** np.asarray(zoom) - 1
        tminx = np.maximum(0, tminx)
        tminy = np.maximum(0, tminy)
        tmaxx = np.minimum(n, tmaxx)
        tmaxy = np.minimum(n, tmaxy)
        return tminx, tminy, tmaxx, tmaxy


class GeodeticGrid:
    """TMS Global Geodetic pyramid (EPSG:4326), gdal2tiles.py:534-660.

    tmscompatible=True -> two horizontal tiles at zoom 0 (resFact=180/ts),
    else one (resFact=360/ts).
    """

    epsg = 4326

    def __init__(self, tile_size: int = 256, tmscompatible: bool = True) -> None:
        self.tile_size = tile_size
        self.columns_z0 = 2 if tmscompatible else 1
        self.res_fact = 360.0 / self.columns_z0 / tile_size

    def resolution(self, zoom):
        return self.res_fact / (2.0 ** np.asarray(zoom))

    def lonlat_to_pixels(self, lon, lat, zoom):
        res = self.resolution(zoom)
        px = (180.0 + np.asarray(lon, dtype=np.float64)) / res
        py = (90.0 + np.asarray(lat, dtype=np.float64)) / res
        return px, py

    def pixels_to_tile(self, px, py):
        ts = float(self.tile_size)
        tx = (np.ceil(np.asarray(px, dtype=np.float64) / ts) - 1).astype(np.int64)
        ty = (np.ceil(np.asarray(py, dtype=np.float64) / ts) - 1).astype(np.int64)
        return tx, ty

    def lonlat_to_tile(self, lon, lat, zoom):
        px, py = self.lonlat_to_pixels(lon, lat, zoom)
        return self.pixels_to_tile(px, py)

    def tile_range(self, lon0, lat0, lon1, lat1, zoom):
        """Covered tile range of a lon/lat box, cropped to the grid's
        2**z rows and columns_z0 * 2**z columns."""
        tminx, tminy = self.lonlat_to_tile(lon0, lat0, zoom)
        tmaxx, tmaxy = self.lonlat_to_tile(lon1, lat1, zoom)
        n = np.int64(2) ** np.asarray(zoom)
        tminx = np.maximum(0, tminx)
        tminy = np.maximum(0, tminy)
        tmaxx = np.minimum(self.columns_z0 * n - 1, tmaxx)
        tmaxy = np.minimum(n - 1, tmaxy)
        return tminx, tminy, tmaxx, tmaxy

    def tile_bounds(self, tx, ty, zoom):
        res = self.resolution(zoom)
        ts = self.tile_size
        minx = np.asarray(tx) * ts * res - 180.0
        miny = np.asarray(ty) * ts * res - 90.0
        maxx = (np.asarray(tx) + 1) * ts * res - 180.0
        maxy = (np.asarray(ty) + 1) * ts * res - 90.0
        return minx, miny, maxx, maxy


def xyz_flip(ty, zoom):
    """TMS<->XYZ y flip (involution): y' = 2**z - 1 - y."""
    return (np.int64(2) ** np.asarray(zoom)) - 1 - np.asarray(ty)


# ---------------------------------------------------------------------------
# geo_query — tile-bounds -> source read window + dest write window
# ---------------------------------------------------------------------------


def _py_int(a):
    """Vectorized Python int(): truncation toward zero."""
    return np.trunc(np.asarray(a, dtype=np.float64)).astype(np.int64)


def geo_query(gt, raster_x, raster_y, ulx, uly, lrx, lry, querysize=0):
    """Map a geographic query box to read window (rx,ry,rxsize,rysize) and
    write window (wx,wy,wxsize,wysize), clamping at raster borders.

    Exact re-derivation of gdal2tiles.py:2964-3006 including the +0.001 /
    +0.5 roundings and int() truncation. Scalar or numpy-array inputs
    (gt is the 6-tuple geotransform; per-array gt via gt arrays works too).
    """
    gt0, gt1, gt3, gt5 = (np.asarray(gt[i], dtype=np.float64) for i in (0, 1, 3, 5))
    ulx = np.asarray(ulx, dtype=np.float64)
    uly = np.asarray(uly, dtype=np.float64)
    lrx = np.asarray(lrx, dtype=np.float64)
    lry = np.asarray(lry, dtype=np.float64)
    raster_x = np.asarray(raster_x, dtype=np.int64)
    raster_y = np.asarray(raster_y, dtype=np.int64)

    rx = _py_int((ulx - gt0) / gt1 + 0.001)
    ry = _py_int((uly - gt3) / gt5 + 0.001)
    rxsize = np.maximum(1, _py_int((lrx - ulx) / gt1 + 0.5))
    rysize = np.maximum(1, _py_int((lry - uly) / gt5 + 0.5))

    if querysize:
        wxsize = np.full_like(rxsize, querysize)
        wysize = np.full_like(rysize, querysize)
    else:
        wxsize = rxsize.copy()
        wysize = rysize.copy()

    wx = np.zeros_like(rx)
    neg = rx < 0
    if np.any(neg):
        rxshift = np.abs(rx)
        wx = np.where(neg, _py_int(wxsize * (rxshift.astype(np.float64) / rxsize)), wx)
        wxsize = np.where(neg, wxsize - wx, wxsize)
        rxsize = np.where(
            neg,
            rxsize - _py_int(rxsize * (rxshift.astype(np.float64) / rxsize)),
            rxsize,
        )
        rx = np.where(neg, 0, rx)
    over = rx + rxsize > raster_x
    if np.any(over):
        wxsize = np.where(
            over,
            _py_int(wxsize * ((raster_x - rx).astype(np.float64) / rxsize)),
            wxsize,
        )
        rxsize = np.where(over, raster_x - rx, rxsize)

    wy = np.zeros_like(ry)
    neg = ry < 0
    if np.any(neg):
        ryshift = np.abs(ry)
        wy = np.where(neg, _py_int(wysize * (ryshift.astype(np.float64) / rysize)), wy)
        wysize = np.where(neg, wysize - wy, wysize)
        rysize = np.where(
            neg,
            rysize - _py_int(rysize * (ryshift.astype(np.float64) / rysize)),
            rysize,
        )
        ry = np.where(neg, 0, ry)
    over = ry + rysize > raster_y
    if np.any(over):
        wysize = np.where(
            over,
            _py_int(wysize * ((raster_y - ry).astype(np.float64) / rysize)),
            wysize,
        )
        rysize = np.where(over, raster_y - ry, rysize)

    return (rx, ry, rxsize, rysize), (wx, wy, wxsize, wysize)


# ---------------------------------------------------------------------------
# Spark Column side — same expression trees, evaluated JVM-side by Catalyst
# ---------------------------------------------------------------------------

if _HAVE_SPARK:

    def col_lonlat_to_meters(lon: Column, lat: Column) -> tuple[Column, Column]:
        """EPSG:4326 -> EPSG:3857 as pure column math (no UDF)."""
        mx = lon * ORIGIN_SHIFT / 180.0
        my = (
            F.log(F.tan((F.lit(90.0) + lat) * PI / 360.0))
            / (PI / 180.0)
            * ORIGIN_SHIFT
            / 180.0
        )
        return mx, my

    def col_meters_to_tile_tms(
        mx: Column, my: Column, zoom: int, tile_size: int = 256
    ) -> tuple[Column, Column]:
        """Mercator meters -> TMS tile coords at a fixed zoom, column math."""
        res = (2 * PI * EARTH_RADIUS / tile_size) / (2.0**zoom)
        px = (mx + ORIGIN_SHIFT) / res
        py = (my + ORIGIN_SHIFT) / res
        tx = (F.ceil(px / float(tile_size)) - 1).cast("long")
        ty = (F.ceil(py / float(tile_size)) - 1).cast("long")
        return tx, ty

    def col_xyz_flip(ty: Column, zoom) -> Column:
        z = F.lit(zoom) if not isinstance(zoom, Column) else zoom
        return F.pow(F.lit(2.0), z.cast("double")).cast("long") - 1 - ty

    def col_tile_bounds_tms(
        tx: Column, ty: Column, zoom, tile_size: int = 256
    ) -> tuple[Column, Column, Column, Column]:
        """TMS tile -> mercator-meter bounds; zoom may be a Column or int."""
        z = zoom if isinstance(zoom, Column) else F.lit(zoom)
        res = F.lit(2 * PI * EARTH_RADIUS / tile_size) / F.pow(
            F.lit(2.0), z.cast("double")
        )
        ts = float(tile_size)
        minx = tx.cast("double") * ts * res - ORIGIN_SHIFT
        miny = ty.cast("double") * ts * res - ORIGIN_SHIFT
        maxx = (tx.cast("double") + 1) * ts * res - ORIGIN_SHIFT
        maxy = (ty.cast("double") + 1) * ts * res - ORIGIN_SHIFT
        return minx, miny, maxx, maxy
