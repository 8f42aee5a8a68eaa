"""gdalbuildvrt-analog tests: grid rules, last-wins painting, and
bit-exact parity of the distributed tile compose against a local
full-grid replica."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import Row

from gdal_spark import codecs
from gdal_spark.operators.mosaic import build_mosaic, mosaic_grid
from gdal_spark.operators.warp import warp_array

# grids use power-of-two resolutions and integer origins so every
# coordinate computation is exact in float64 (bitwise-stable parity)
IMG_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
    "gt5 double, srid int"
)


def _img(image_id, origin, res, size, seed, srid=3857, rot=0.0):
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 255, size=(size[1], size[0], 3)).astype(np.uint8)
    return Row(
        image_id=image_id,
        bytes=bytearray(codecs.encode_png(arr)),
        w=size[0],
        h=size[1],
        fmt="png",
        gt0=float(origin[0]),
        gt1=float(res),
        gt2=rot,
        gt3=float(origin[1]),
        gt4=rot,
        gt5=-float(res),
        srid=srid,
    )


@pytest.fixture(scope="module")
def imgs(spark):
    rows = [
        _img("a", (0.0, 256.0), 2.0, (96, 80), 1),
        _img("b", (128.0, 192.0), 4.0, (64, 48), 2),  # overlaps a
        _img("c", (320.0, 128.0), 2.0, (32, 32), 3),  # disjoint
    ]
    return spark.createDataFrame(rows, IMG_SCHEMA)


class TestMosaicGrid:
    def test_resolution_rules(self, imgs):
        gt_h, W_h, H_h, srid = mosaic_grid(imgs, "highest")
        gt_l, W_l, H_l, _ = mosaic_grid(imgs, "lowest")
        assert (gt_h[1], -gt_h[5]) == (2.0, 2.0)
        assert (gt_l[1], -gt_l[5]) == (4.0, 4.0)
        assert srid == 3857
        # union extent: x 0..384, y 0..256 (b reaches down to y = 0)
        assert gt_h[0] == 0.0 and gt_h[3] == 256.0
        assert W_h == 192 and H_h == 128
        assert W_l == 96 and H_l == 64
        gt_u, W_u, H_u, _ = mosaic_grid(imgs, "user", target_res=(8.0, 8.0))
        assert W_u == 48 and H_u == 32

    def test_average_rule(self, imgs):
        gt_a, _, _, _ = mosaic_grid(imgs, "average")
        assert abs(gt_a[1] - (2.0 + 4.0 + 2.0) / 3) < 1e-12

    def test_heterogeneous_srid_raises(self, spark):
        rows = [
            _img("a", (0.0, 64.0), 2.0, (16, 16), 1, srid=3857),
            _img("b", (0.0, 64.0), 2.0, (16, 16), 2, srid=4326),
        ]
        df = spark.createDataFrame(rows, IMG_SCHEMA)
        with pytest.raises(ValueError, match="CRS"):
            mosaic_grid(df)

    def test_rotated_raises(self, spark):
        df = spark.createDataFrame(
            [_img("a", (0.0, 64.0), 2.0, (16, 16), 1, rot=0.5)], IMG_SCHEMA
        )
        with pytest.raises(ValueError, match="north-up"):
            mosaic_grid(df)

    def test_bad_rule(self, imgs):
        with pytest.raises(ValueError):
            mosaic_grid(imgs, "median")
        with pytest.raises(ValueError):
            mosaic_grid(imgs, "user")


def _local_mosaic(rows, resolution="highest", resampling="near"):
    """Full-grid local replica: ONE output array, paint sources in
    image_id order via the same-CRS warp (a different composition path
    than the distributed per-tile cut — the parity oracle)."""
    xs0 = [r.gt0 for r in rows]
    xs1 = [r.gt0 + r.w * r.gt1 for r in rows]
    ys1 = [r.gt3 for r in rows]
    ys0 = [r.gt3 + r.h * r.gt5 for r in rows]
    res = {"highest": min, "lowest": max}[resolution]((r.gt1 for r in rows))
    minx, maxx, maxy, miny = min(xs0), max(xs1), max(ys1), min(ys0)
    W = int(np.ceil((maxx - minx) / res - 1e-9))
    H = int(np.ceil((maxy - miny) / res - 1e-9))
    gt = (minx, res, 0.0, maxy, 0.0, -res)
    buf = np.zeros((H, W, 3), dtype=np.uint8)
    alpha = np.zeros((H, W), dtype=np.uint8)
    for r in sorted(rows, key=lambda r: r.image_id):
        arr = codecs.decode_image(bytes(r.bytes), r.fmt)
        src_gt = (r.gt0, r.gt1, r.gt2, r.gt3, r.gt4, r.gt5)
        o, cov = warp_array(arr, src_gt, r.srid, (H, W), gt, r.srid, resampling)
        t = np.clip(np.round(o), 0, 255).astype(np.uint8)
        m = cov > 0
        buf[m] = t[m]
        alpha[m] = 255
    return buf, alpha, gt, W, H


class TestBuildMosaic:
    def test_parity_with_local_full_grid(self, spark, imgs):
        rows = imgs.collect()
        exp_buf, exp_alpha, gt, W, H = _local_mosaic(rows)
        ts = 64
        tiles = build_mosaic(imgs, "highest", tile_size=ts).collect()
        seen = np.zeros((H, W), dtype=bool)
        for t in tiles:
            rgba = codecs.decode_png(bytes(t.png))
            x0, y0 = t.tx * ts, t.ty * ts
            assert rgba.shape == (t.h, t.w, 4)
            sub_b = exp_buf[y0 : y0 + t.h, x0 : x0 + t.w]
            sub_a = exp_alpha[y0 : y0 + t.h, x0 : x0 + t.w]
            assert np.array_equal(rgba[:, :, 3], sub_a)
            m = sub_a > 0
            assert np.array_equal(rgba[:, :, :3][m], sub_b[m])
            # tile georef
            assert t.gt0 == gt[0] + x0 * gt[1]
            assert t.gt3 == gt[3] - y0 * (-gt[5])
            seen[y0 : y0 + t.h, x0 : x0 + t.w] = True
        # every pixel with data is covered by some returned tile
        assert np.all(seen[exp_alpha > 0])

    def test_last_id_wins_in_overlap(self, spark, imgs):
        rows = {r.image_id: r for r in imgs.collect()}
        tiles = build_mosaic(imgs, "highest", tile_size=512).collect()
        # overlap of a (0..192, 96..256) and b (128..384, 0..192): point
        # (160, 180) -> col 80, row 38 in the mosaic grid at res 2
        full = {(t.tx, t.ty): t for t in tiles}
        t00 = full[(0, 0)]
        rgba = codecs.decode_png(bytes(t00.png))
        b = rows["b"]
        arr_b = codecs.decode_image(bytes(b.bytes), "png")
        # sample b at that geo point: px = (160-128)/4 = 8, py = (192-180)/4 = 3
        assert np.array_equal(rgba[38, 80, :3], arr_b[3, 8])
        assert sorted(t00.src_ids) == ["a", "b", "c"]  # one 512-tile holds all

    def test_single_source_tile(self, imgs):
        tiles = build_mosaic(imgs, "highest", tile_size=64).collect()
        cx = {(t.tx, t.ty): t for t in tiles}
        # tile (0,0) = cols 0..63, rows 0..63 = x 0..128, y 128..256:
        # only image a reaches it (b starts at col 64, row 32)
        assert cx[(0, 0)].src_ids == ["a"]
        # the b+c overlap tile carries both in id order
        assert cx[(2, 1)].src_ids == ["b", "c"]

    def test_checksum_matches_rgba(self, imgs):
        from gdal_spark.checksum import image_checksums

        t = build_mosaic(imgs, "lowest", tile_size=512).collect()[0]
        rgba = codecs.decode_png(bytes(t.png))
        assert t.checksum == image_checksums(rgba)[0]


class TestOnErrorSkip:
    """Corrupt-row tolerance: on_error='skip' drops undecodable sources
    instead of aborting; default 'fail' aborts (gdal parity)."""

    def _with_corrupt(self, spark):
        rows = [
            _img("a", (0.0, 64.0), 2.0, (32, 32), 1),
            _img("b", (64.0, 64.0), 2.0, (32, 32), 2),
        ]
        bad = _img("z", (128.0, 64.0), 2.0, (32, 32), 3)
        bad = Row(**{**bad.asDict(), "bytes": bytearray(b"not a png at all")})
        return spark.createDataFrame(rows + [bad], IMG_SCHEMA)

    def test_mosaic_skip_and_fail(self, spark):
        import pytest

        df = self._with_corrupt(spark)
        tiles = build_mosaic(df, "highest", tile_size=512, on_error="skip").collect()
        ids = sorted({i for t in tiles for i in t.src_ids})
        assert ids == ["a", "b"]
        with pytest.raises(Exception):
            build_mosaic(df, "highest", tile_size=512).collect()
        with pytest.raises(ValueError):
            build_mosaic(df, "highest", on_error="ignore")

    def test_warp_skip(self, spark):
        import pytest

        from gdal_spark.operators.warp import warp_images

        df = self._with_corrupt(spark).withColumn(
            "caption", F.lit("")
        ).withColumn("phash", F.lit(0).cast("long"))
        out = warp_images(df, 4326, "near", on_error="skip").select("image_id")
        assert sorted(r.image_id for r in out.collect()) == ["a", "b"]
        with pytest.raises(Exception):
            warp_images(df, 4326, "near").select("image_id").collect()

    def test_enhance_skip(self, spark):
        from gdal_spark.operators.stats import enhance_images

        df = self._with_corrupt(spark)
        out = enhance_images(df, "equalize", on_error="skip").collect()
        assert sorted(r.image_id for r in out) == ["a", "b"]


class TestMosaicComposeParallelism:
    def test_compose_stage_runs_one_task_per_core(self, spark, imgs, caplog):
        """The mosaic's tile-key shuffle holds small PNG fragments; like
        the pyramid compose it must run one task per core, not the one
        task a size-driven AQE coalesce leaves."""
        import logging

        sc = spark.sparkContext
        n = sc.defaultParallelism
        assert n > 1
        group = "test_mosaic_compose_parallelism"
        sc.setJobGroup(group, "mosaic compose parallelism")
        try:
            with caplog.at_level(logging.INFO, logger="gdal_spark.operators.tile"):
                # two input partitions: the aggregate and cut stages run 2 tasks
                tiles = build_mosaic(imgs.coalesce(2), "highest", tile_size=64).select(
                    "tx"
                ).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(tiles) == 6
        tracker = sc.statusTracker()
        stages = [
            tracker.getStageInfo(sid)
            for jid in tracker.getJobIdsForGroup(group)
            for sid in tracker.getJobInfo(jid).stageIds
        ]
        assert max(s.numTasks for s in stages if s is not None) == n
        assert f"build_mosaic: {n} partitions from defaultParallelism" in [
            r.getMessage() for r in caplog.records
        ]
