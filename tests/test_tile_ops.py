"""Spark-level tests: tile pyramid, warp_images, translate_images.

Mirrors the reference test shape: per-tile GDAL checksums + tile-grid
alignment (autotest/pyscripts/test_gdal2tiles.py:85-124) and caption
passthrough through every shuffle (FIXTURES.md per-row invariant)."""

import logging
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark import codecs, fixtures
from gdal_spark.checksum import image_checksums
from gdal_spark.grid import MercatorGrid
from gdal_spark.operators.tile import (
    FRAGMENT_COLUMNS,
    FRAGMENT_SCHEMA,
    TILE_SCHEMA,
    _compose_frame,
    _compose_group,
    _fragment_row,
    _overview_group,
    _tile_frame,
    assign_tiles,
    compose_tiles,
    cut_base_tiles,
    native_zoom_col,
    overview_tiles,
    tile_pyramid,
    tile_pyramid_direct,
)
from gdal_spark.operators.translate import translate_images
from gdal_spark.operators.warp import warp_images

MERC = MercatorGrid()


@pytest.fixture(scope="module")
def images64(spark):
    df = fixtures.images_df(spark, 64, tier="t2", partitions=8).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def world(spark):
    """The 400x200 global RGB image (small_world analog) only."""
    df = fixtures.images_df(spark, 1, tier="t2", partitions=1).persist()
    df.count()
    yield df
    df.unpersist()


class TestAssignment:
    def test_world_covers_whole_grid(self, world):
        # global extent covers every tile at each zoom
        for z in (0, 1, 2):
            rows = assign_tiles(world, z).select("z", "tx", "ty").collect()
            got = {(r.tx, r.ty) for r in rows}
            assert got == {(x, y) for x in range(2**z) for y in range(2**z)}

    def test_assignment_matches_numpy_oracle(self, spark, images64):
        z = 6
        rows = assign_tiles(images64, z).select("image_id", "tx", "ty").collect()
        got = {}
        for r in rows:
            got.setdefault(r.image_id, set()).add((r.tx, r.ty))
        src = images64.select("image_id", "minx", "miny", "maxx", "maxy").collect()
        for s in src:
            tminx, tminy, tmaxx, tmaxy = MERC.tile_range(s.minx, s.miny, s.maxx, s.maxy, z)
            expected = {
                (x, y)
                for x in range(int(tminx), int(tmaxx) + 1)
                for y in range(int(tminy), int(tmaxy) + 1)
            }
            assert got.get(s.image_id, set()) == expected, s.image_id

    def test_native_zoom_column_matches_numpy(self, spark, images64):
        rows = images64.withColumn("nz", native_zoom_col()).select(
            "image_id", "gt1", "srid", "nz"
        ).collect()
        from gdal_spark.grid import ORIGIN_SHIFT

        for r in rows:
            ps = r.gt1 * (ORIGIN_SHIFT / 180.0) if r.srid == 4326 else r.gt1
            assert r.nz == MERC.zoom_for_pixel_size(ps), r.image_id


class TestWorldPyramid:
    def test_z0_tile_shape_and_determinism(self, spark, world):
        tiles = cut_base_tiles(world, zoom=0, resampling="bilinear").collect()
        assert len(tiles) == 1
        t = tiles[0]
        assert (t.z, t.tx, t.ty, t.y_xyz) == (0, 0, 0, 0)
        arr = codecs.decode_png(bytes(t.png))
        assert arr.shape == (256, 256, 4)
        assert t.checksums == image_checksums(arr)
        # run again: bit-identical checksums (determinism)
        tiles2 = cut_base_tiles(world, zoom=0, resampling="bilinear").collect()
        assert tiles2[0].checksums == t.checksums

    def test_world_pixels_land_in_right_hemisphere(self, spark, world):
        """Left half of the z=1 grid must come from the west half of the
        source (tile grid alignment, the test_gdal2tiles.py assertion)."""
        spec = fixtures.image_spec(0)
        src = fixtures.pattern_array(spec)
        tiles = {
            (t.tx, t.ty): codecs.decode_png(bytes(t.png))
            for t in cut_base_tiles(world, zoom=1, resampling="bilinear").collect()
        }
        assert set(tiles) == {(0, 0), (0, 1), (1, 0), (1, 1)}
        # tile (0,1) TMS = northwest: compare its center against the source
        # pixel at the same mercator point (lon -90); lat of tile center =
        # mercator y = OS/2 -> lat ~66.51N -> src row (90-66.51)/0.9 ~ 26
        nw = tiles[(0, 1)]
        lat, _lon = MERC.meters_to_latlon(-MERC.origin_shift / 2, MERC.origin_shift / 2)
        src_row = int((90.0 - lat) / 0.9)
        src_col = int((-90.0 - -180.0) / 0.9)
        expected = src[src_row, src_col].astype(float)
        got = nw[128, 128, :3].astype(float)
        assert np.abs(expected - got).max() < 32  # same neighborhood

    def test_pyramid_zooms_and_caption_lineage(self, spark, world):
        pyr = tile_pyramid(world, 0, 2, resampling="bilinear").collect()
        by_z = {}
        for t in pyr:
            by_z.setdefault(t.z, []).append(t)
        assert {z: len(v) for z, v in by_z.items()} == {0: 1, 1: 4, 2: 16}
        assert all(t.n_src >= 1 for t in pyr)
        assert all(t.src_ids[0] == "img00000000" for t in pyr)

    def test_direct_pyramid_matches_reduce_tiles(self, spark, world):
        """tile_pyramid_direct (every level from source, one shuffle)
        covers the same tile set as the reduce pyramid and is pixel-close
        (the only difference is overview-of-overview uint8 rounding vs a
        single area-average from source; PSNR must be high)."""
        red = {(t.z, t.tx, t.ty): t for t in tile_pyramid(world, 0, 2, resampling="bilinear").collect()}
        dr = {(t.z, t.tx, t.ty): t for t in tile_pyramid_direct(world, tminz=0, tmaxz=2, resampling="bilinear").collect()}
        assert set(red) == set(dr)
        # base level is cut identically -> bit-identical checksums
        for k in red:
            if k[0] == 2:
                assert red[k].checksums == dr[k].checksums
        # overview levels: same content up to the resampling-chain
        # difference (average-of-bilinear-upsampled-base vs one direct
        # bilinear at the coarse grid) — close, not bit-equal
        for k in red:
            if k[0] < 2:
                a = codecs.decode_png(bytes(red[k].png)).astype(float)
                b = codecs.decode_png(bytes(dr[k].png)).astype(float)
                assert codecs.psnr(a[:, :, :3], b[:, :, :3]) >= 30

    def test_direct_pyramid_levels_below(self, spark):
        # images with native zoom >= 1 (world fixture is native z0, which
        # would clamp the overview level away)
        imgs = fixtures.images_df(spark, 4, tier="t2", partitions=2).where(
            F.col("image_id") != "img00000000"
        )
        out = tile_pyramid_direct(imgs, levels_below=1, resampling="bilinear").collect()
        zs = sorted({t.z for t in out})
        assert len(zs) >= 2
        # per image: exactly its native level and one below
        per_img = {}
        for t in out:
            for sid in t.src_ids:
                per_img.setdefault(sid, set()).add(t.z)
        assert all(len(v) == 2 and max(v) == min(v) + 1 for v in per_img.values())

    def test_geodetic_pyramid_grid_and_alignment(self, spark, world):
        """--profile geodetic (gdal2tiles.py:534-660): 2x1 tiles at z0
        (tmscompatible), 4x2 at z1; west-hemisphere tile pixels come from
        the west half of the 4326 source."""
        from gdal_spark.operators.tile import geodetic_tile_pyramid

        tiles = {
            (t.z, t.tx, t.ty): t
            for t in geodetic_tile_pyramid(
                world, tminz=0, tmaxz=1, resampling="bilinear"
            ).collect()
        }
        assert {k for k in tiles if k[0] == 0} == {(0, 0, 0), (0, 1, 0)}
        assert len([k for k in tiles if k[0] == 1]) == 8
        spec = fixtures.image_spec(0)
        src = fixtures.pattern_array(spec)
        west = codecs.decode_png(bytes(tiles[(0, 0, 0)].png))
        # tile center = lon -90, lat 0 -> src col (−90+180)/0.9, row (90-0)/0.9
        expected = src[int(90 / 0.9), int(90 / 0.9)].astype(float)
        got = west[128, 128, :3].astype(float)
        assert np.abs(expected - got).max() < 32

    def test_overview_is_average_of_children(self, spark, world):
        pyr = tile_pyramid(world, 0, 1, resampling="bilinear").collect()
        z1 = {(t.tx, t.ty): codecs.decode_png(bytes(t.png)) for t in pyr if t.z == 1}
        z0 = [t for t in pyr if t.z == 0][0]
        got = codecs.decode_png(bytes(z0.png))
        buf = np.zeros((512, 512, 4), dtype=np.float64)
        for (tx, ty), child in z1.items():
            buf[(1 - ty % 2) * 256 : (2 - ty % 2) * 256, tx * 256 : (tx + 1) * 256] = child
        from gdal_spark.resample import resize

        expected = np.clip(np.round(resize(buf, 256, 256, "average")), 0, 255)
        # alpha is re-binarized; compare color channels exactly
        np.testing.assert_array_equal(got[:, :, :3], expected[:, :, :3].astype(np.uint8))


class TestMosaicCompose:
    def test_multi_image_tile_lineage(self, spark, images64):
        # cut everything at a low zoom so tiles get multiple sources
        tiles = cut_base_tiles(images64, zoom=2, resampling="bilinear")
        agg = tiles.agg(
            F.sum("n_src").alias("n"), F.count("*").alias("t"), F.max("n_src").alias("mx")
        ).collect()[0]
        assert agg.t > 0
        assert agg.mx >= 2  # at least one mosaic tile with 2+ sources


# compose/overview vs a driver-side pandas groupby over the same kernels
GROUP_TS = 16


def _fragment(rng, z, tx, ty, image_id, c=3, opaque=True):
    px = rng.integers(0, 256, (GROUP_TS, GROUP_TS, c), dtype=np.uint8)
    mask = np.where(rng.random((GROUP_TS, GROUP_TS)) < 0.5, 255, 0).astype(np.uint8)
    alpha = np.full_like(mask, 255) if opaque else mask
    row = _fragment_row(SimpleNamespace(image_id=image_id), z, tx, ty, px, alpha)
    return tuple(row[k] for k in FRAGMENT_COLUMNS)


def _group_fragments():
    """Five tiles, fewer than the test session's cores: one with seven
    fragments (spans several Arrow batches of two), single-fragment RGB
    and gray tiles, a gray fragment inside an RGB tile, and a z=0 tile."""
    rng = np.random.default_rng(7)
    rows = [
        _fragment(rng, 5, 10, 10, f"img{i}", opaque=i % 3 == 0)
        for i in (6, 2, 4, 0, 5, 1, 3)
    ]
    rows += [
        _fragment(rng, 5, 10, 11, "img9"),
        _fragment(rng, 5, 11, 10, "img8", c=1),
        _fragment(rng, 5, 11, 11, "img12", opaque=False),
        _fragment(rng, 5, 11, 11, "img10", c=1, opaque=False),
        _fragment(rng, 5, 11, 11, "img11"),
        _fragment(rng, 0, 0, 0, "img13"),
    ]
    rng.shuffle(rows)
    return rows


def _by_group(pdf, keys, order, kernel):
    return pd.concat(
        [kernel(g.sort_values(order)) for _k, g in pdf.groupby(keys, sort=True)],
        ignore_index=True,
    )


def _tile_rows(rows):
    return {
        (int(r["z"]), int(r["tx"]), int(r["ty"])): (
            bytes(r["png"]), int(r["checksum"]), list(r["checksums"]),
            int(r["n_src"]), list(r["src_ids"]),
        )
        for r in rows
    }


@pytest.fixture(params=[2, None], ids=["batch2", "default_batch"])
def arrow_batch(spark, request):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if request.param is not None:
        spark.conf.set(key, str(request.param))
    yield
    spark.conf.set(key, old)


class TestComposeGrouping:
    def test_compose_matches_pandas_groupby(self, spark, arrow_batch):
        rows = _group_fragments()
        frags = spark.createDataFrame(rows, FRAGMENT_SCHEMA).repartition(3)
        got = _tile_rows(compose_tiles(frags, GROUP_TS).collect())
        pdf = pd.DataFrame(rows, columns=FRAGMENT_COLUMNS)
        want = _by_group(
            pdf, ["z", "tx", "ty"], ["image_id"], lambda g: _compose_group(g, GROUP_TS)
        )
        assert got == _tile_rows(want.to_dict("records"))
        assert got[(5, 10, 10)][3:] == (7, [f"img{i}" for i in range(7)])

    def test_overview_matches_pandas_groupby(self, spark, arrow_batch):
        pdf = pd.DataFrame(_group_fragments(), columns=FRAGMENT_COLUMNS)
        children = _by_group(
            pdf, ["z", "tx", "ty"], ["image_id"], lambda g: _compose_group(g, GROUP_TS)
        )
        tiles = spark.createDataFrame(children, TILE_SCHEMA).repartition(3)
        got = _tile_rows(overview_tiles(tiles, GROUP_TS).collect())
        parents = children[children["z"] > 0].assign(
            ptx=children["tx"] // 2, pty=children["ty"] // 2
        )
        want = _by_group(
            parents, ["z", "ptx", "pty"], ["tx", "ty"],
            lambda g: _overview_group(g, GROUP_TS),
        )
        assert got == _tile_rows(want.to_dict("records"))
        assert set(got) == {(4, 5, 5)} and got[(4, 5, 5)][3] == 12

    def test_direct_pyramid_cuts_once_through_one_shuffle(self, spark, world):
        """The one-fragment pass-through lives inside the compose kernel:
        a plan that routes one-fragment tiles around the shuffle (a count
        window, then a union) makes Spark run the cut twice."""
        import re

        df = tile_pyramid_direct(world, 0, 1).agg(F.count("*"), F.sum("checksum"))
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        out = ", ".join(rf"{c}#\d+L?" for c in FRAGMENT_COLUMNS)
        cuts = re.findall(rf"MapInPandas .*\[{out}\], false", final)
        assert final.count("Exchange hashpartitioning") == 1, plan
        assert len(cuts) == 1, plan

    def test_empty_input(self, spark):
        frags = spark.createDataFrame([], FRAGMENT_SCHEMA)
        assert compose_tiles(frags, GROUP_TS).collect() == []

    def test_compose_stage_runs_one_task_per_core(self, spark, caplog):
        """Fragments are small PNGs, so a size-driven AQE coalesce would
        run the whole compose as one task; the explicit partition
        count keeps one task per core."""
        sc = spark.sparkContext
        n = sc.defaultParallelism
        assert n > 1
        imgs = fixtures.images_df(spark, 4, tier="t2", partitions=2).persist()
        imgs.count()
        group = "test_compose_parallelism"
        sc.setJobGroup(group, "compose parallelism")
        try:
            with caplog.at_level(logging.INFO, logger="gdal_spark.operators.tile"):
                tiles = tile_pyramid_direct(imgs, levels_below=1).select("z").collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            imgs.unpersist()
        assert tiles
        tracker = sc.statusTracker()
        stages = [
            tracker.getStageInfo(sid)
            for jid in tracker.getJobIdsForGroup(group)
            for sid in tracker.getJobInfo(jid).stageIds
        ]
        # the cut runs one task per image partition (2), the compose n
        assert max(s.numTasks for s in stages if s is not None) == n
        assert f"compose_tiles: {n} partitions from defaultParallelism" in [
            r.getMessage() for r in caplog.records
        ]


def _raw_fragment(rng, c, kind, shape=(GROUP_TS, GROUP_TS)):
    """A cut's raw (tile, alpha): fully opaque, partial or sparse alpha,
    with alpha values other than 0 and 255 where it is set."""
    tile = rng.integers(0, 256, (*shape, c), dtype=np.uint8)
    p = {"opaque": 1.0, "partial": 0.5, "sparse": 0.03}[kind]
    alpha = np.where(rng.random(shape) < p, rng.integers(1, 256, shape), 0)
    alpha.flat[0] = 255  # a cut never emits a fragment with no coverage
    return tile, alpha.astype(np.uint8)


def _painted(raw, shape=(GROUP_TS, GROUP_TS)):
    """The compose reference from raw (image_id, tile, alpha) triples:
    image_id order, pixels where alpha > 0 overwrite, gray replicated
    into an RGB tile."""
    c = max(t.shape[2] for _i, t, _a in raw)
    buf = np.zeros((*shape, c), dtype=np.uint8)
    cover = np.zeros(shape, dtype=np.uint8)
    for _i, t, a in sorted(raw, key=lambda f: f[0]):
        t = np.repeat(t[:, :, :1], c, axis=2) if t.shape[2] < c else t
        buf[a > 0] = t[a > 0]
        cover[a > 0] = 255
    return np.dstack([buf, cover])


def _frags(raw, z=3, tx=2, ty=5):
    return pd.DataFrame(
        [_fragment_row(SimpleNamespace(image_id=i), z, tx, ty, t, a) for i, t, a in raw],
        columns=FRAGMENT_COLUMNS,
    )


def _no_decode(monkeypatch):
    def boom(buf):
        raise AssertionError("a one-fragment tile must not be decoded")

    monkeypatch.setattr(codecs, "decode_png", boom)


KINDS = ["opaque", "partial", "sparse"]


class TestSingleFragmentPassThrough:
    """Fragments leave the cut in final form, so a one-fragment tile is
    the fragment's own PNG; it must equal composing the raw arrays."""

    @pytest.mark.parametrize("c", [1, 3])
    @pytest.mark.parametrize("kind", KINDS)
    def test_single_fragment_equals_painting_raw(self, c, kind, monkeypatch):
        rng = np.random.default_rng(100 * c + KINDS.index(kind))
        for trial in range(4):
            raw = [("img", *_raw_fragment(rng, c, kind))]
            want = _tile_frame(_painted(raw), TILE_SCHEMA).iloc[0]
            frags = _frags(raw)
            _no_decode(monkeypatch)
            got = _compose_group(frags, GROUP_TS).iloc[0]
            monkeypatch.undo()
            assert bytes(got["png"]) == bytes(want["png"])
            assert list(got["checksums"]) == list(want["checksums"])
            assert got["checksum"] == want["checksums"][0]
            assert (got["n_src"], list(got["src_ids"])) == (1, ["img"])
            assert (got["z"], got["tx"], got["ty"], got["y_xyz"]) == (3, 2, 5, 2)

    @pytest.mark.parametrize("n", [2, 3, 5])
    def test_multi_fragment_equals_painting_raw(self, n):
        rng = np.random.default_rng(n)
        for trial in range(4):
            raw = [
                (f"img{i}", *_raw_fragment(rng, int(rng.choice([1, 3])), str(rng.choice(KINDS))))
                for i in rng.permutation(n)
            ]
            want = _painted(raw)
            got = _compose_group(_frags(raw), GROUP_TS).iloc[0]
            np.testing.assert_array_equal(codecs.decode_png(bytes(got["png"])), want)
            assert bytes(got["png"]) == bytes(_tile_frame(want, TILE_SCHEMA).iloc[0]["png"])
            assert list(got["checksums"]) == image_checksums(want)
            assert got["n_src"] == n
            assert list(got["src_ids"]) == sorted(i for i, _t, _a in raw)

    def test_fragments_carry_an_empty_alpha(self):
        rng = np.random.default_rng(3)
        row = _frags([("img", *_raw_fragment(rng, 3, "partial"))]).iloc[0]
        assert row["alpha"] == b"" and row["c"] == 3
        assert codecs.decode_png(bytes(row["px"])).shape == (GROUP_TS, GROUP_TS, 4)

    def test_mosaic_edge_tile_passes_through(self, monkeypatch):
        from gdal_spark.operators.mosaic import MOSAIC_TILE_SCHEMA

        rng = np.random.default_rng(11)
        th, tw = 5, 9  # an edge tile clipped to the raster size
        raw = [("src", *_raw_fragment(rng, 3, "partial", (th, tw)))]
        want = _tile_frame(_painted(raw, (th, tw)), MOSAIC_TILE_SCHEMA).iloc[0]
        gts = dict(zip(("gt0", "gt1", "gt2", "gt3", "gt4", "gt5"), (1.0, 2.0, 0.0, 9.0, 0.0, -2.0)))
        frags = _frags(raw, z=0, tx=4, ty=1)
        _no_decode(monkeypatch)
        got = _compose_frame(
            frags, (th, tw), MOSAIC_TILE_SCHEMA, tx=4, ty=1, w=tw, h=th, **gts
        ).iloc[0]
        assert bytes(got["png"]) == bytes(want["png"])
        assert list(got["checksums"]) == list(want["checksums"])
        assert (got["w"], got["h"], got["n_src"], list(got["src_ids"])) == (tw, th, 1, ["src"])
        assert {k: got[k] for k in gts} == gts


class TestWarpTranslateDF:
    def test_warp_images_caption_and_psnr(self, spark, world):
        out = warp_images(world, 3857, resampling="bilinear").collect()[0]
        assert out.srid == 3857
        assert out.caption.startswith("caption 0") and "北京" in out.caption
        arr = codecs.decode_image(bytes(out.bytes), out.fmt)
        assert arr.shape[2] == 3
        # warp back to 4326 must approximate the original away from poles
        spec = fixtures.image_spec(0)
        src = fixtures.pattern_array(spec)
        from gdal_spark.operators.warp import warp_array

        gt = (out.gt0, out.gt1, out.gt2, out.gt3, out.gt4, out.gt5)
        back, alpha = warp_array(
            arr, gt, 3857, (200, 400), (-180.0, 0.9, 0.0, 90.0, 0.0, -0.9), 4326, "bilinear"
        )
        # checkerboard content loses high frequency through the 400->316
        # downsample + round trip; ~22.5 dB measured. 20 dB guards the
        # plumbing (orientation, offsets); kernel exactness is covered by
        # the closed-form tests in test_resample_warp.py.
        band = slice(60, 140)  # mid latitudes
        assert codecs.psnr(back[band, :, :], src[band, :, :].astype(float)) > 20

    def test_translate_images_window(self, spark, images64):
        byte_img = images64.where(F.col("image_id") == "img00000001")
        out = translate_images(byte_img, srcwin=(5, 5, 10, 10)).collect()[0]
        assert (out.w, out.h) == (10, 10)
        spec = fixtures.image_spec(1)
        src = fixtures.pattern_array(spec)
        arr = codecs.decode_image(bytes(out.bytes), out.fmt)
        np.testing.assert_array_equal(arr, src[5:15, 5:15])
        # geotransform shifted by the window origin
        assert out.gt0 == spec["gt"][0] + 5 * spec["gt"][1]
        assert out.gt3 == spec["gt"][3] + 5 * spec["gt"][5]

    def test_translate_scale_outsize(self, spark, images64):
        byte_img = images64.where(F.col("image_id") == "img00000001")
        out = translate_images(
            byte_img, outsize=(10, 10), scale=(0, 255, 0, 100), resampling="average"
        ).collect()[0]
        arr = codecs.decode_image(bytes(out.bytes), out.fmt)
        assert arr.shape[:2] == (10, 10)
        assert arr.max() <= 100


class TestWarpPathAlpha:
    def test_transparent_source_stays_transparent_in_warp_branch(self):
        """A 4326 RGBA source with a fully transparent half must emit
        transparent pixels through the per-tile WARP branch (the alpha
        channel was previously dropped for non-north-up-3857 sources)."""
        import numpy as np

        from gdal_spark import codecs
        from gdal_spark.operators.tile import _MERC, _cut_one

        h = w = 64
        rgba = np.zeros((h, w, 4), dtype=np.uint8)
        rgba[:, :, :3] = 200
        rgba[:, : w // 2, 3] = 255  # left half opaque, right transparent
        # 4326 image covering a small box on the equator
        gt = (0.0, 0.01, 0.0, 0.32, 0.0, -0.01)

        class R:
            pass

        r = R()
        r.gt0, r.gt1, r.gt2, r.gt3, r.gt4, r.gt5 = gt
        r.srid = 4326
        r.w, r.h = w, h
        z = 10
        # find a tile covering the image center
        mx, my = _MERC.latlon_to_meters(
            np.array([0.16]), np.array([0.32])
        )
        tx, ty = _MERC.meters_to_tile(float(mx[0]), float(my[0]), z)
        arr = rgba[:, :, :3]
        alpha_src = rgba[:, :, 3]
        cut = _cut_one(arr, alpha_src, r, z, int(tx), int(ty), 256, "near")
        assert cut is not None
        _tile, alpha = cut
        # both opaque and transparent source pixels land in this tile
        assert (alpha == 255).any()
        assert (alpha == 0).any()


class TestTileOnErrorSkip:
    def test_direct_pyramid_skips_corrupt_source(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from gdal_spark import fixtures
        from gdal_spark.operators.tile import tile_pyramid_direct

        good = fixtures.images_df(spark, 4, tier="t2", partitions=2)
        bad = good.limit(1).withColumn(
            "bytes", F.lit(bytearray(b"corrupt")).cast("binary")
        ).withColumn("image_id", F.lit("broken"))
        df = good.unionByName(bad)
        tiles = tile_pyramid_direct(df, levels_below=0, on_error="skip").collect()
        srcs = {i for t in tiles for i in t.src_ids}
        assert "broken" not in srcs and len(srcs) == 4
        with pytest.raises(Exception):
            tile_pyramid_direct(df, levels_below=0).collect()
        with pytest.raises(ValueError):
            tile_pyramid_direct(df, levels_below=0, on_error="drop")


class TestTileSize512:
    def test_warp_branch_cuts_on_the_tile_size_grid(self, spark, world):
        """The 4326 world image takes the per-tile warp branch. At 512 px
        its z0 tile is covered edge to edge, and its 2:1 average stays
        close to the 256-px tile."""
        from gdal_spark.resample import resize

        big = cut_base_tiles(world, zoom=0, tile_size=512).collect()
        assert len(big) == 1
        a = codecs.decode_png(bytes(big[0].png))
        assert a.shape == (512, 512, 4)
        assert (a[:, :, 3] == 255).all()
        small = codecs.decode_png(bytes(cut_base_tiles(world, zoom=0).collect()[0].png))
        half = resize(a.astype(np.float64), 256, 256, "average")
        # the fixture's checkerboard keeps the two kernels apart (23.5 dB
        # measured); a tile shifted by 2 px reads about 12 dB
        assert codecs.psnr(half[:, :, :3], small[:, :, :3].astype(np.float64)) >= 20


class TestOnErrorValidation:
    @pytest.mark.parametrize("cutter", ["cut_fragments", "cut_fragments_levels"])
    def test_cutters_reject_unknown_on_error(self, world, cutter):
        from gdal_spark.operators import tile

        with pytest.raises(ValueError, match="on_error"):
            getattr(tile, cutter)(world, on_error="ignore")
