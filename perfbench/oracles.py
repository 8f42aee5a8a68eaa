"""Output oracles. Each one derives the expected answer without Spark,
and the spatial ones without ``gdal_spark.geom``: a bug shared by the
engine and its oracle would otherwise pass unseen."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# point in polygon
# ---------------------------------------------------------------------------


def polygon_rings(wkb: bytes) -> list[np.ndarray]:
    """Rings of a 2-D WKB Polygon (either byte order), parsed here rather
    than by the engine."""
    order = "<" if wkb[0] == 1 else ">"
    kind, nrings = struct.unpack_from(order + "II", wkb, 1)
    if kind != 3:
        raise ValueError(f"not a WKB polygon (type {kind})")
    off, rings = 9, []
    for _ in range(nrings):
        (npts,) = struct.unpack_from(order + "I", wkb, off)
        off += 4
        pts = np.frombuffer(wkb, dtype=order + "f8", count=2 * npts, offset=off)
        rings.append(pts.reshape(npts, 2).astype(np.float64))
        off += 16 * npts
    return rings


def points_in_rings(px: np.ndarray, py: np.ndarray, rings: list) -> np.ndarray:
    """Even-odd crossing test over all rings of one polygon (holes flip the
    parity). A ring of fewer than 4 points is not a ring and never
    contains anything, as in OGR."""
    inside = np.zeros(len(px), dtype=bool)
    if not rings or len(rings[0]) < 4:
        return inside
    for ring in rings:
        if len(ring) < 4:
            continue
        x0, y0 = ring[:-1, 0], ring[:-1, 1]
        x1, y1 = ring[1:, 0], ring[1:, 1]
        for a, b, c, d in zip(x0, y0, x1, y1):
            straddle = (b > py) != (d > py)
            if not straddle.any():
                continue
            xcross = a + (py - b) * (c - a) / np.where(d != b, d - b, 1.0)
            inside ^= straddle & (px < xcross)
    return inside


def pip_pairs(points: pd.DataFrame, polys: pd.DataFrame):
    """(pid, fid) pairs of every point inside every polygon, and the
    number of pairs that pass the envelope test (the join's phase-1
    candidates). Rectangles are decided by their envelope alone."""
    px = points["x"].to_numpy(np.float64)
    py = points["y"].to_numpy(np.float64)
    pid = points["pid"].to_numpy(np.int64)
    out, candidates = [], 0
    for r in polys.itertuples(index=False):
        env = (px >= r.minx) & (px <= r.maxx) & (py >= r.miny) & (py <= r.maxy)
        candidates += int(env.sum())
        if not env.any():
            continue
        rings = polygon_rings(bytes(r.wkb))
        if _is_envelope(rings, (r.minx, r.miny, r.maxx, r.maxy)):
            hit = env
        else:
            hit = env.copy()
            hit[env] = points_in_rings(px[env], py[env], rings)
        out.append(pd.DataFrame({"pid": pid[hit], "fid": np.full(hit.sum(), r.fid, np.int64)}))
    pairs = pd.concat(out, ignore_index=True) if out else pd.DataFrame(
        {"pid": np.array([], np.int64), "fid": np.array([], np.int64)})
    return pairs, candidates


def _is_envelope(rings, env) -> bool:
    if len(rings) != 1 or len(rings[0]) != 5:
        return False
    r = rings[0]
    xs, ys = set(r[:, 0].tolist()), set(r[:, 1].tolist())
    if xs != {env[0], env[2]} or ys != {env[1], env[3]}:
        return False
    d = np.diff(r, axis=0)
    return bool(np.all((d[:, 0] == 0) != (d[:, 1] == 0)))


# ---------------------------------------------------------------------------
# k nearest neighbours
# ---------------------------------------------------------------------------


def knn_brute(queries: pd.DataFrame, points: pd.DataFrame, k: int) -> pd.DataFrame:
    """Full sort per query; ties on distance go to the smaller pid (the
    order of ``q_knn_sql``). Distances use the same float operations as
    the engine, so equal inputs give bit-equal distances."""
    px = points["x"].to_numpy(np.float64)
    py = points["y"].to_numpy(np.float64)
    pid = points["pid"].to_numpy(np.int64)
    rows = []
    for q in queries.itertuples(index=False):
        dx, dy = q.x - px, q.y - py
        dist = np.sqrt(dx * dx + dy * dy)
        order = np.lexsort((pid, dist))[:k]
        rows.append(pd.DataFrame({
            "qid": np.full(len(order), q.qid, np.int64),
            "pid": pid[order],
            "rank": np.arange(1, len(order) + 1, dtype=np.int64),
        }))
    return pd.concat(rows, ignore_index=True)


# ---------------------------------------------------------------------------
# comparison
# ---------------------------------------------------------------------------


def same_rows(got: pd.DataFrame, want: pd.DataFrame, atol: dict | None = None) -> bool:
    """Equal as multisets of rows. Columns named in ``atol`` compare within
    that absolute tolerance, the rest exactly."""
    atol = atol or {}
    cols = list(want.columns)
    if len(got) != len(want) or set(got.columns) != set(cols):
        return False
    g = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    w = want[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    for c in cols:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if c in atol:
            if not np.allclose(a.astype(float), b.astype(float), rtol=0, atol=atol[c]):
                return False
        elif not np.array_equal(a.astype(b.dtype), b):
            return False
    return True


# ---------------------------------------------------------------------------
# raster <-> vector (DuckDB twins)
# ---------------------------------------------------------------------------


def polygonize_pixels_sql(methods_sql: str, px: float, n: int) -> str:
    """Pixel count of each rasterized method rectangle on an n x n grid of
    ``px`` metre pixels anchored at (-2e7, 2e7); the scanline rounding
    rules of ``q_polygonize_regions_sql`` (x: floor(p + 0.5) half-open
    span, y: pixel centre strictly inside) with the grid as parameters."""
    org = 20000000.0
    return (
        f"WITH m AS ({methods_sql}), g AS (SELECT fid, "
        f"CAST(least({n}, floor((maxx + {org}) / {px} + 0.5)) "
        f"- greatest(0, floor((minx + {org}) / {px} + 0.5)) AS BIGINT) AS nx, "
        f"CAST(least({n}, ceil(({org} - miny) / {px} - 0.5)) "
        f"- greatest(0, ceil(({org} - maxy) / {px} - 0.5)) AS BIGINT) AS ny "
        "FROM m) "
        "SELECT nx * ny AS n_pixels FROM g WHERE nx > 0 AND ny > 0"
    )


def duckdb_frames(sqls: dict, tables: dict) -> dict:
    """Run each query in ``sqls`` over the pandas ``tables`` in DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        for name, df in tables.items():
            con.register(name, df)
        return {k: con.execute(q).df() for k, q in sqls.items()}
    finally:
        con.close()


# ---------------------------------------------------------------------------
# pixels
# ---------------------------------------------------------------------------


def pixel_digest(arr: np.ndarray) -> int:
    """crc32 over shape, dtype and pixels of one raster; a single band
    counts as 2-D whichever way a format stores it."""
    if arr.ndim == 3 and arr.shape[2] == 1:
        arr = arr[:, :, 0]
    a = np.ascontiguousarray(arr)
    head = f"{a.shape}{a.dtype.str}".encode()
    return zlib.crc32(a.tobytes(), zlib.crc32(head))
