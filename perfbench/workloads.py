"""The four workloads. Each one builds its inputs from the seed in
set-up, runs one job per repetition through a :class:`Tracer`, and
checks the job's output against its oracle.

Why these four (NOTES.md has the full map): ``pyramid`` is the paper's
headline job and exercises codecs, resample, checksum and the tile
shuffle; ``spatial_join`` exercises geom, the join operators and
Catalyst with no pixel codec; ``raster_vector`` is the only one that runs
rasterize, polygonize, layer algebra and booleans, and is dominated by
serial stages; ``ingest`` is the only one where the format drivers do the
work. A change aimed at one should leave the others where they were.
"""

from __future__ import annotations

import math
import os
import shutil
from collections import defaultdict
from types import SimpleNamespace

import numpy as np
import pandas as pd

from . import oracles, pyramid_pins

TILE = 256
IMAGES = 25
SIDECAR_FMT = "png"


def _id_base(seed: int) -> int:
    # ids stay below 1e8 so image_id keeps the fixtures' 8-digit form;
    # 0 and 1 are the fixtures' special world/byte.tif rows
    return 2 + (seed % 9973) * 9973


def pyramid_tiles(r) -> list[tuple[int, int, int]]:
    """(z, tx, ty) of every tile ``tile_pyramid_direct(levels_below=1)``
    cuts image ``r`` into (an image record or anything with its ``gt1``,
    ``srid`` and footprint fields): its native zoom and one level below."""
    from gdal_spark.grid import EARTH_RADIUS, ORIGIN_SHIFT
    from gdal_spark.operators import tile as T

    ir = 2 * math.pi * EARTH_RADIUS / TILE
    ps = r.gt1 * (ORIGIN_SHIFT / 180.0) if r.srid == 4326 else r.gt1
    zmax = max(0, min(31, math.floor(math.log(ir / ps) / math.log(2.0))))
    out = []
    for z in range(zmax, max(0, zmax - 1) - 1, -1):
        n1 = (1 << z) - 1
        tminx, tminy, tmaxx, tmaxy = T._MERC.tile_range(r.minx, r.miny, r.maxx, r.maxy, z)
        out.extend((z, tx, ty)
                   for tx in range(max(0, int(tminx)), min(n1, int(tmaxx)) + 1)
                   for ty in range(max(0, int(tminy)), min(n1, int(tmaxy)) + 1))
    return out


# Tiles an image is cut into (at its native zoom, one level below), by
# size: the picks of a size class cycle through these, roughly in the
# shares the fixtures produce them. Each cut fragment is a full tile to
# resample and encode whatever the source size, so the fragment count,
# not the pixel count, sets the pyramid job's work; pinning it per class
# makes that work the same for every seed.
FRAGMENT_PATTERNS = {
    20: ((1, 1),),
    64: ((1, 1), (2, 1), (2, 2)),
    128: ((1, 1), (2, 1), (2, 2), (4, 2)),
    256: ((2, 1), (4, 2), (2, 2), (4, 4), (1, 1)),
}


def select_images(seed: int, n: int = IMAGES, max_side: int = 256,
                  by_hot: bool = True) -> list[int]:
    """Image ids for a seed, stratified so that every seed gets the same
    count of each (size, in-hot-tile, format, fragment pattern) class:
    the pixels and places differ per seed, the amount of work does not,
    so the figures of two seeds can be compared. Sizes are the bench
    tier's up to ``max_side``, in their tier shares; with ``by_hot`` a
    fifth of each size lies in the hot tile (where tiles are shared); the
    picks of each class cycle through the formats, in FMTS order, and the
    size's FRAGMENT_PATTERNS. ``n`` must split into whole classes."""
    from gdal_spark import fixtures

    sizes = [s for s in fixtures.BENCH_SIZES if max(s[:2]) <= max_side]
    hot_shares = ((True, 0.2), (False, 0.8)) if by_hot else ((None, 1.0),)
    quota = defaultdict(int)
    for s in set(sizes):
        patterns = FRAGMENT_PATTERNS[s[0]]
        for hot, share in hot_shares:
            q = n * sizes.count(s) / len(sizes) * share
            if abs(q - round(q)) > 1e-9:
                raise ValueError(f"n={n} does not split into whole strata")
            for j in range(round(q)):
                fmt = fixtures.FMTS[j % len(fixtures.FMTS)]
                quota[(s, hot, fmt, patterns[j % len(patterns)])] += 1
    hb = fixtures._HOT_BOUNDS
    picked, i = [], _id_base(seed)
    while len(picked) < n:
        spec = fixtures.image_spec(i, "bench")
        gt = spec["gt"]
        cx = gt[0] + spec["w"] * gt[1] / 2
        cy = gt[3] + spec["h"] * gt[5] / 2
        hot = (hb[0] <= cx <= hb[2] and hb[1] <= cy <= hb[3]) if by_hot else None
        minx, miny, maxx, maxy = fixtures.footprint_meters(gt, spec["w"], spec["h"], spec["srid"])
        zs = [z for z, _x, _y in pyramid_tiles(SimpleNamespace(
            gt1=gt[1], srid=spec["srid"], minx=minx, miny=miny, maxx=maxx, maxy=maxy))]
        pattern = (zs.count(zs[0]), len(zs) - zs.count(zs[0]))
        key = ((spec["w"], spec["h"], spec["c"]), hot, spec["fmt"], pattern)
        if quota[key] > 0:
            quota[key] -= 1
            picked.append(i)
        i += 1
    return picked


def image_records(ids: list[int]) -> pd.DataFrame:
    from gdal_spark import fixtures

    return pd.DataFrame([fixtures.image_record(i, "bench") for i in ids])


def write_parquet(pdf: pd.DataFrame, path: str, files: int = 1) -> str:
    """Materialise a driver-side table as ``files`` Parquet files, without
    a Spark job: set-up should cost what the inputs cost, not Spark's
    per-job overhead."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for k, part in enumerate(np.array_split(np.arange(len(pdf)), files)):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[part], preserve_index=False),
                       os.path.join(path, f"part-{k:05d}.parquet"))
    return path


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _d, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _frames_mb(*frames: pd.DataFrame) -> float:
    return sum(int(f.memory_usage(index=False, deep=False).sum()) for f in frames) / 2**20


class Workload:
    """One workload. ``setup`` returns the inputs (paths and small
    driver-side tables); ``expected`` derives the oracle's answer from
    them without Spark; ``job`` runs one repetition and returns its output;
    ``check`` compares the two."""

    name = ""

    def __init__(self, seed: int, cpus: int):
        self.seed = seed
        self.cpus = cpus

    def setup(self, spark, work: str) -> dict:
        raise NotImplementedError

    def expected(self, inputs: dict):
        raise NotImplementedError

    def job(self, spark, inputs: dict, tracer, rep: int):
        raise NotImplementedError

    def check(self, output, expected) -> bool:
        raise NotImplementedError

    def items(self, inputs: dict) -> int:
        raise NotImplementedError

    def output_mb(self, output) -> float:
        raise NotImplementedError

    def layer_metrics(self, tracer, inputs: dict, expected, reps: int) -> dict:
        """Per-layer metrics of this workload, per repetition."""
        return {}


# ---------------------------------------------------------------------------
# pyramid
# ---------------------------------------------------------------------------


class Pyramid(Workload):
    name = "pyramid"

    def setup(self, spark, work):
        ids = select_images(self.seed % pyramid_pins.PINNED_SEEDS)
        path = write_parquet(image_records(ids), os.path.join(work, "images.parquet"), self.cpus)
        return {"ids": ids, "images": path}

    def expected(self, inputs):
        """Tile count and checksum sum pinned for this seed's input set
        (``pyramid_pins``): recomputed once without Spark, not at run
        time from the kernels the job itself runs."""
        return pyramid_pins.load()[self.seed % pyramid_pins.PINNED_SEEDS]

    def job(self, spark, inputs, tracer, rep):
        from pyspark.sql import functions as F

        from gdal_spark.operators.tile import (
            compose_tiles, cut_fragments_levels, tile_pyramid_direct,
        )

        imgs = spark.read.parquet(inputs["images"])
        agg = [F.count("*").alias("n"), F.sum("checksum").alias("cks"),
               F.sum(F.length("png")).alias("size")]
        if not tracer.enabled:
            with tracer.span("tile"):
                tiles = tile_pyramid_direct(imgs, levels_below=1, resampling="bilinear")
                row = tiles.agg(*agg).collect()[0]
        else:
            # traced: materialise the fragments so cut and compose time apart
            with tracer.span("tile.cut"):
                frags = cut_fragments_levels(
                    imgs, levels_below=1, resampling="bilinear"
                ).localCheckpoint(eager=True)
            with tracer.span("tile.compose"):
                row = compose_tiles(frags, TILE).agg(*agg).collect()[0]
            f = frags.agg(
                F.count("*").alias("n"),
                F.sum(F.length("px") + F.length("alpha")).alias("bytes"),
                F.sum((F.length("alpha") == 0).cast("int")).alias("opaque"),
            ).collect()[0]
            tracer.count("tile.fragments", f["n"])
            tracer.count("tile.fragment_bytes", f["bytes"])
            tracer.count("tile.opaque_fragments", f["opaque"])
            tracer.count("tile.tiles", row["n"])
        return {"tiles": int(row["n"]), "checksum_sum": int(row["cks"]),
                "png_bytes": int(row["size"])}

    def check(self, output, expected):
        # the PNG bytes are output_mb, a metric: a codec change may move them
        return all(output[k] == v for k, v in expected.items())

    def items(self, inputs):
        return len(inputs["ids"])

    def output_mb(self, output):
        return output["png_bytes"] / 2**20

    def layer_metrics(self, tracer, inputs, expected, reps):
        c = tracer.counts
        frags = c.get("tile.fragments", 0.0)
        return {
            "tile.cut_s": tracer.span_s("tile.cut") / reps,
            "tile.compose_s": tracer.span_s("tile.compose") / reps,
            "tile.fragments": frags / reps,
            "tile.fragment_mb": c.get("tile.fragment_bytes", 0.0) / 2**20 / reps,
            "tile.opaque_fragment_ratio": c.get("tile.opaque_fragments", 0.0) / frags if frags else 0.0,
            "tile.tiles": c.get("tile.tiles", 0.0) / reps,
        }


# ---------------------------------------------------------------------------
# spatial_join
# ---------------------------------------------------------------------------


class SpatialJoin(Workload):
    name = "spatial_join"
    POINTS = 10000
    FOOTPRINTS = 4096
    ZONES = 512
    QUERIES = 48
    CELL_ZOOM = 4
    # ~10 points per kNN cell and k = 32: about half the queries finish in
    # the first ring round and all in the second, whatever the seed, so
    # the work is the same for every seed and the ring loop's anti-join
    # decides the answer (a wrong one loses the unfinished queries)
    K = 32
    KNN_ZOOM = 5

    def setup(self, spark, work):
        from gdal_spark import fixtures, geom

        base = 10**6 + (self.seed % 9973) * 100_003
        pts = pd.DataFrame([fixtures.point_record(p) for p in range(base, base + self.POINTS)])
        foot = []
        for fid, i in enumerate(range(_id_base(self.seed), _id_base(self.seed) + self.FOOTPRINTS)):
            s = fixtures.image_spec(i, "bench")
            minx, miny, maxx, maxy = fixtures.footprint_meters(s["gt"], s["w"], s["h"], s["srid"])
            foot.append({"fid": fid, "wkb": geom.wkb_rect(minx, miny, maxx, maxy),
                         "minx": minx, "miny": miny, "maxx": maxx, "maxy": maxy})
        foot = pd.DataFrame(foot)
        zones = pd.DataFrame([fixtures.feature_record(f) for f in range(self.ZONES)])
        rng = np.random.default_rng(self.seed)
        queries = pd.DataFrame({
            "qid": np.arange(self.QUERIES, dtype=np.int64),
            "x": rng.uniform(-2e7, 2e7, self.QUERIES),
            "y": rng.uniform(-1.9e7, 1.9e7, self.QUERIES),
        })
        paths = {}
        for name, pdf, files in (("points", pts, self.cpus), ("footprints", foot, 1),
                                 ("zones", zones[["fid", "wkb", "minx", "miny", "maxx", "maxy"]], 1),
                                 ("queries", queries, 1)):
            paths[name] = write_parquet(pdf, os.path.join(work, f"{name}.parquet"), files)
        return {**paths, "points_pdf": pts[["pid", "x", "y"]], "footprints_pdf": foot,
                "zones_pdf": zones, "queries_pdf": queries}


    def expected(self, inputs):
        pts = inputs["points_pdf"]
        foot, foot_c = oracles.pip_pairs(pts, inputs["footprints_pdf"])
        zones, zones_c = oracles.pip_pairs(pts, inputs["zones_pdf"])
        knn = oracles.knn_brute(inputs["queries_pdf"], pts, self.K)
        return {"footprints": foot, "zones": zones, "knn": knn,
                "candidates": foot_c + zones_c}

    def job(self, spark, inputs, tracer, rep):
        from gdal_spark.operators.knn import knn_join
        from gdal_spark.operators.spatial_join import point_in_polygon_join

        pts = spark.read.parquet(inputs["points"])
        out = {}
        # the footprint rectangles take the broadcast path, the zones the
        # cell equi-join path
        for layer, kw in (("footprints", {}),
                          ("zones", {"cell_zoom": self.CELL_ZOOM, "broadcast_polys": False})):
            with tracer.span(f"spatial_join.{layer}"):
                polys = spark.read.parquet(inputs[layer])
                out[layer] = point_in_polygon_join(pts, polys, **kw).select(
                    "pid", "fid").toPandas()
        with tracer.span("knn"):
            q = spark.read.parquet(inputs["queries"])
            out["knn"] = knn_join(q, pts, k=self.K, zoom=self.KNN_ZOOM).select(
                "qid", "pid", "rank").toPandas()
        return out

    def check(self, output, expected):
        return all(oracles.same_rows(output[k], expected[k])
                   for k in ("footprints", "zones", "knn"))

    def items(self, inputs):
        return self.POINTS

    def output_mb(self, output):
        return _frames_mb(*output.values())

    def layer_metrics(self, tracer, inputs, expected, reps):
        pip_spans = ("spatial_join.footprints", "spatial_join.zones")
        prof = tracer.profile_of(*pip_spans)
        rect = tracer.profile_of("spatial_join.footprints")
        matches = len(expected["footprints"]) + len(expected["zones"])
        candidates = expected["candidates"]
        return {
            "geom.pip_s": prof.func_cum("geom.points_in_geometry") / reps,
            "geom.pip_rect_s": rect.func_cum("geom.points_in_geometry") / reps,
            "geom.parse_wkb_s": prof.func_cum("geom.parse_wkb") / reps,
            "geom.calls": prof.func_calls("geom.points_in_geometry", "geom.parse_wkb") / reps,
            "spatial_join.s": tracer.span_s(*pip_spans) / reps,
            "spatial_join.candidates": candidates,
            "spatial_join.matches": matches,
            "spatial_join.match_ratio": matches / candidates if candidates else 0.0,
            "knn.s": tracer.span_s("knn") / reps,
            "knn.jobs": tracer.jobs("knn") / reps,
            "knn.candidates": sum(s.shuffle_read_records for s in tracer.stages("knn")) / reps,
        }


# ---------------------------------------------------------------------------
# raster_vector
# ---------------------------------------------------------------------------


class RasterVector(Workload):
    name = "raster_vector"
    # Its cost is Spark's per-job overhead, not pixels or rectangles: ~35
    # Spark jobs a repetition (23 in layer_union), ~10 s a warm job on 4
    # CPUs at this size or at 500 px and 5x the rectangles. The inputs
    # are kept small so the oracle and the set-up stay cheap.
    KEEP = 0.02         # share of the entry's 9000 input / 2250 method keys
    SIDE = 256          # pixels per side: one 256 x 256 tile
    PX = 40_000_000.0 / SIDE   # metres per pixel over the whole Mercator square

    @property
    def gt(self):
        return (-20000000.0, self.PX, 0.0, 20000000.0, 0.0, -self.PX)

    def setup(self, spark, work):
        """The seed's part and supplier keys as Parquet; the job derives
        the two rectangle layers from them with ``_disjoint_rect_layers``
        (column arithmetic, fused into the operators' first stages)."""
        rng = np.random.default_rng(self.seed)
        part = np.sort(rng.choice(np.arange(1, 9001), int(9000 * self.KEEP), replace=False))
        supp = np.sort(rng.choice(np.arange(1, 2251), int(2250 * self.KEEP), replace=False))
        tables = {"part": pd.DataFrame({"p_partkey": part.astype(np.int64)}),
                  "supplier": pd.DataFrame({"s_suppkey": supp.astype(np.int64)})}
        sf = os.path.join(work, "sf")
        for name, pdf in tables.items():
            write_parquet(pdf, os.path.join(sf, f"{name}.parquet"))
        return {"sf": sf, "tables": tables}

    def expected(self, inputs):
        import __spark_entry__ as entry

        got = oracles.duckdb_frames(
            {"regions": oracles.polygonize_pixels_sql(entry._DISJ_M_SQL, self.PX, self.SIDE),
             "union": entry.q_layer_union_areas_sql()},
            inputs["tables"],
        )
        return {"regions": got["regions"], "union": got["union"]}

    def job(self, spark, inputs, tracer, rep):
        from pyspark.sql import functions as F

        from gdal_spark.operators.layer_algebra import layer_union
        from gdal_spark.operators.polygonize import polygonize_tiles
        from gdal_spark.operators.rasterize import rasterize

        import __spark_entry__ as entry

        ins, meth = entry._disjoint_rect_layers(spark, inputs["sf"])
        with tracer.span("rasterize"):
            tiles = rasterize(spark, meth, self.gt, self.SIDE, self.SIDE,
                              burn_value=1.0, merge="replace")
            if tracer.enabled:
                tiles = tiles.localCheckpoint(eager=True)
        with tracer.span("polygonize"):
            regions = polygonize_tiles(tiles, self.gt, tile_size=TILE, exclude=(0.0,)).select(
                "n_pixels").toPandas()
        with tracer.span("layer_algebra"):
            union = layer_union(ins, meth).select(
                F.coalesce(F.col("in_fid"), F.lit(-1)).cast("long").alias("in_fid"),
                F.coalesce(F.col("m_fid"), F.lit(-1)).cast("long").alias("m_fid"),
                F.round(F.col("area") / 1.0e6, 4).alias("area_km2"),
            ).toPandas()
        tracer.count("polygonize.regions", len(regions))
        return {"regions": regions, "union": union}

    def check(self, output, expected):
        return (oracles.same_rows(output["regions"], expected["regions"])
                and oracles.same_rows(output["union"], expected["union"],
                                      atol={"area_km2": 1e-3}))

    def items(self, inputs):
        return self.SIDE * self.SIDE

    def output_mb(self, output):
        return _frames_mb(*output.values())

    def layer_metrics(self, tracer, inputs, expected, reps):
        prof = tracer.profile_of()
        return {
            "rasterize.s": tracer.span_s("rasterize") / reps,
            "polygonize.s": tracer.span_s("polygonize") / reps,
            "polygonize.regions": tracer.counts.get("polygonize.regions", 0.0) / reps,
            "layer_algebra.s": tracer.span_s("layer_algebra") / reps,
            "booleans.s": prof.module_time("booleans") / reps,
        }


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class Ingest(Workload):
    name = "ingest"
    FORMATS = ("gtiff", "sidecar", "envi")
    # many small files, the usual ingest shape: every file is one Spark
    # task, and the per-task cost, not the pixels, sets the time
    IMAGES = 9
    MAX_SIDE = 64

    def setup(self, spark, work):
        from gdal_spark import fixtures
        from gdal_spark.formats.envi import write_envi
        from gdal_spark.formats.gtiff import write_gtiff
        from gdal_spark.formats.sidecar import write_plain_rasters

        ids = select_images(self.seed, self.IMAGES, self.MAX_SIDE, by_hot=False)
        df = spark.createDataFrame(image_records(ids), schema=fixtures.IMAGE_COLUMNS)
        dirs = {f: os.path.join(work, "in", f) for f in self.FORMATS}
        write_gtiff(df, dirs["gtiff"])
        write_plain_rasters(df, dirs["sidecar"], fmt=SIDECAR_FMT)
        write_envi(df, dirs["envi"])
        globs = {"gtiff": os.path.join(dirs["gtiff"], "*.tif"),
                 "sidecar": os.path.join(dirs["sidecar"], f"*.{SIDECAR_FMT}"),
                 "envi": os.path.join(dirs["envi"], "*.img")}
        return {"ids": ids, "globs": globs, "dirs": dirs, "out": os.path.join(work, "out"),
                "read_bytes": sum(_dir_bytes(d) for d in dirs.values())}


    def expected(self, inputs):
        from gdal_spark import codecs, fixtures

        digests = {}
        for i in inputs["ids"]:
            rec = fixtures.image_record(i, "bench")
            digests[rec["image_id"]] = oracles.pixel_digest(
                codecs.decode_image(rec["bytes"], rec["fmt"]))
        return digests

    def job(self, spark, inputs, tracer, rep):
        from pyspark.sql import functions as F

        from gdal_spark.formats.envi import scan_envi
        from gdal_spark.formats.gtiff import scan_gtiff
        from gdal_spark.formats.sidecar import scan_plain_rasters

        scans = {"gtiff": scan_gtiff, "sidecar": scan_plain_rasters, "envi": scan_envi}
        cols = ["image_id", "bytes", "w", "h", "fmt", "gt0", "gt1", "gt2", "gt3",
                "gt4", "gt5", "srid"]
        parts = []
        for fmt, scan in scans.items():
            with tracer.span(f"formats.{fmt}.scan"):
                df = scan(spark, inputs["globs"][fmt]).select(
                    *cols, F.lit(fmt).alias("source"))
                if tracer.enabled:
                    df = df.localCheckpoint(eager=True)
            parts.append(df)
        out = inputs["out"]
        with tracer.span("formats.write"):
            union = parts[0].unionByName(parts[1]).unionByName(parts[2])
            union.write.mode("overwrite").parquet(out)
        written = _dir_bytes(out)
        return {"path": out, "bytes": written}

    def check(self, output, expected):
        import pyarrow.parquet as pq

        from gdal_spark import codecs

        t = pq.read_table(output["path"], columns=["image_id", "bytes", "source"]).to_pandas()
        if len(t) != len(self.FORMATS) * len(expected):
            return False
        seen = defaultdict(set)
        for r in t.itertuples(index=False):
            if expected.get(r.image_id) != oracles.pixel_digest(codecs.decode_raw(bytes(r.bytes))):
                return False
            seen[r.source].add(r.image_id)
        return all(seen[f] == set(expected) for f in self.FORMATS)

    def items(self, inputs):
        return len(self.FORMATS) * len(inputs["ids"])

    def output_mb(self, output):
        return output["bytes"] / 2**20

    def layer_metrics(self, tracer, inputs, expected, reps):
        return {
            "formats.gtiff.scan_s": tracer.span_s("formats.gtiff.scan") / reps,
            "formats.sidecar.scan_s": tracer.span_s("formats.sidecar.scan") / reps,
            "formats.envi.scan_s": tracer.span_s("formats.envi.scan") / reps,
            "formats.write_s": tracer.span_s("formats.write") / reps,
            "formats.files": self.items(inputs),
            "formats.read_mb": inputs["read_bytes"] / 2**20,
        }


WORKLOADS = {w.name: w for w in (Pyramid, SpatialJoin, RasterVector, Ingest)}
