"""Tests of the benchmark's own code: the status-store reader, the
profiler-row attribution and the oracles. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

import os
from collections import Counter
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from perfbench import oracles, pyramid_pins
from perfbench.spark_layer import ModuleProfile, Tracer, source_index, summarize_stages
from perfbench.workloads import (
    Ingest, Pyramid, RasterVector, SpatialJoin, pyramid_tiles, select_images,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
INDEX = source_index(os.path.join(ROOT, "gdal_spark"))


# ---------------------------------------------------------------------------
# status store
# ---------------------------------------------------------------------------


def test_stage_reader_sums_a_known_job(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        tr = Tracer(spark, "test", enabled=True, index=INDEX)
        with tr.span("job"):
            # 4 range tasks -> shuffle -> 3 partial counts -> 1 final count
            n = spark.range(0, 1000, 1, 4).repartition(3).count()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert n == 1000
    m = summarize_stages(tr.stages("job"), tr.jobs("job"))
    assert m["spark.jobs"] == 1
    assert m["spark.stages"] == 3
    assert m["spark.tasks"] == 4 + 3 + 1
    assert m["spark.failed_tasks"] == 0
    # task times are fetched for the span's own stages, one per task
    assert [len(r.task_run_ms) for r in tr.stages("job")] == [r.tasks for r in tr.stages("job")]
    # every shuffled byte is read back exactly once
    assert m["spark.shuffle_write_mb"] > 0
    assert m["spark.shuffle_read_mb"] == pytest.approx(m["spark.shuffle_write_mb"])
    assert m["spark.task_s"] >= m["spark.serial_stage_s"] >= 0
    assert m["spark.python_s"] == pytest.approx(
        max(0.0, m["spark.task_s"] - m["spark.jvm_cpu_s"]))
    # the Python status tracker, a second view of the same stages
    info = [spark.sparkContext.statusTracker().getStageInfo(r.stage_id)
            for r in tr.stages("job")]
    assert sum(i.numTasks for i in info) == m["spark.tasks"]


def test_disabled_tracer_records_nothing(spark):
    tr = Tracer(spark, "test", enabled=False, index=INDEX)
    with tr.span("job"):
        spark.range(10).count()
    assert tr.stages() == [] and tr.jobs() == 0 and tr.span_s("job") == 0


def test_spark_rss_leaves_out_forks_of_the_parent():
    import subprocess
    import sys
    import time

    from perfbench import host

    # the parent stands for the JVM: its child running the same executable
    # for a fork that has not exec'd yet, its `sleep` child for a worker
    parent = subprocess.Popen([sys.executable, "-c", (
        "import subprocess, sys, time\n"
        "f = subprocess.Popen([sys.executable, '-c',"
        " 'import time; b = bytes(200 << 20) + b\"x\"; time.sleep(60)'])\n"
        "s = subprocess.Popen(['sleep', '60'])\n"
        "time.sleep(60)\n")])
    try:
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            kids = host.children(parent.pid)
            if len(kids) == 2 and max(map(host._rss_kb, kids)) >= 150 << 10:
                break
            time.sleep(0.05)
        big = max(kids, key=host._rss_kb)
        assert host._rss_kb(big) >= 150 << 10
        counted = host.spark_rss_kb(parent.pid) - host._rss_kb(parent.pid)
        assert 0 < counted < 100 << 10
    finally:
        for pid in host.process_tree(parent.pid)[1:]:
            os.kill(pid, 9)
        parent.kill()
        parent.wait(timeout=30)


# ---------------------------------------------------------------------------
# UDF profiler rows
# ---------------------------------------------------------------------------


def test_profile_rows_aggregate_to_the_module():
    from gdal_spark import codecs, geom

    enc = ("codecs.py", codecs.encode_png.__code__.co_firstlineno, "encode_png")
    pip = ("geom.py", geom.points_in_geometry.__code__.co_firstlineno, "points_in_geometry")
    stdlib = ("codecs.py", 9999, "decode")           # the standard library's codecs.py
    zlib_row = ("~", 0, "<built-in method zlib.compress>")
    stats = {
        enc: (3, 3, 0.5, 2.0, {}),
        pip: (2, 2, 0.25, 1.0, {}),
        stdlib: (7, 7, 9.0, 9.0, {}),
        zlib_row: (3, 3, 1.5, 1.5, {enc: (3, 3, 1.5, 1.5), stdlib: (1, 1, 4.0, 4.0)}),
    }
    prof = ModuleProfile(INDEX)
    prof.add_stats(stats)
    prof.add_stats(stats)  # tables from two UDFs add up
    assert prof.module_time("codecs") == pytest.approx(2 * (0.5 + 1.5))
    assert prof.module_time("geom") == pytest.approx(2 * 0.25)
    assert prof.func_cum("codecs.encode_png") == pytest.approx(4.0)
    assert prof.func_calls("codecs.encode_png", "geom.points_in_geometry") == 10
    assert prof.func_calls("codecs.decode") == 0


def test_profiler_attributes_a_real_udf(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def png_len(v: pd.Series) -> pd.Series:
        from gdal_spark import codecs

        return pd.Series([len(codecs.encode_png(np.full((8, 8), x, np.uint8))) for x in v])

    tr = Tracer(spark, "test", enabled=True, index=INDEX)
    tr.set_profiler(True)
    try:
        with tr.span("udf"):
            rows = spark.range(0, 20, 1, 2).select(png_len("id").alias("n")).collect()
    finally:
        tr.set_profiler(False)
    assert len(rows) == 20
    prof = tr.profile_of("udf")
    assert prof.func_calls("codecs.encode_png") == 20
    assert prof.module_time("codecs") > 0


# ---------------------------------------------------------------------------
# oracles reject corrupted outputs
# ---------------------------------------------------------------------------


def _rect(fid, x0, y0, x1, y1):
    from gdal_spark import geom

    return {"fid": fid, "wkb": geom.wkb_rect(x0, y0, x1, y1),
            "minx": x0, "miny": y0, "maxx": x1, "maxy": y1}


def test_pip_oracle_on_known_shapes():
    from gdal_spark import geom

    holed = geom.wkb_polygon([
        np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float),
        np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], float),
    ])
    tri = geom.wkb_polygon([np.array([[20, 0], [30, 0], [20, 10], [20, 0]], float)])
    degenerate = geom.wkb_polygon([np.array([[40, 0], [45, 0], [40, 0]], float)])
    polys = pd.DataFrame([
        _rect(0, -5, -5, -1, -1),
        {"fid": 1, "wkb": holed, "minx": 0, "miny": 0, "maxx": 10, "maxy": 10},
        {"fid": 2, "wkb": tri, "minx": 20, "miny": 0, "maxx": 30, "maxy": 10},
        {"fid": 3, "wkb": degenerate, "minx": 40, "miny": 0, "maxx": 45, "maxy": 0},
    ])
    pts = pd.DataFrame({"pid": [1, 2, 3, 4, 5, 6],
                        "x": [-3, 2, 5, 21, 29, 42],
                        "y": [-3, 2, 5, 1, 9, 0.0]})
    pairs, candidates = oracles.pip_pairs(pts, polys)
    assert sorted(map(tuple, pairs.to_numpy())) == [(1, 0), (2, 1), (4, 2)]
    # point 5 passes the triangle's envelope only; point 6 the degenerate's
    assert candidates == 6
    assert not oracles.same_rows(pairs.iloc[1:], pairs)
    bad = pairs.copy()
    bad.loc[0, "fid"] = 3
    assert not oracles.same_rows(bad, pairs)


def test_knn_oracle_ties_and_corruption():
    pts = pd.DataFrame({"pid": [5, 3, 9, 1], "x": [1.0, -1.0, 0.0, 5.0], "y": [0.0, 0.0, 1.0, 5.0]})
    q = pd.DataFrame({"qid": [0], "x": [0.0], "y": [0.0]})
    got = oracles.knn_brute(q, pts, 3)
    # three points at distance 1: the pid breaks the tie
    assert got["pid"].tolist() == [3, 5, 9]
    assert got["rank"].tolist() == [1, 2, 3]
    swapped = got.copy()
    swapped["rank"] = [2, 1, 3]
    assert not oracles.same_rows(swapped, got)


def _spatial_expected():
    pts = pd.DataFrame({"pid": np.arange(50), "x": np.linspace(-9, 9, 50), "y": np.linspace(-9, 9, 50)})
    polys = pd.DataFrame([_rect(0, -5, -5, 5, 5), _rect(1, 0, 0, 8, 8)])
    pairs, cands = oracles.pip_pairs(pts, polys)
    q = pd.DataFrame({"qid": [0, 1], "x": [0.0, 3.0], "y": [0.0, -3.0]})
    return {"footprints": pairs, "zones": pairs, "knn": oracles.knn_brute(q, pts, 4),
            "candidates": 2 * cands}


def test_spatial_join_check_rejects_a_missing_match():
    exp = _spatial_expected()
    out = {k: exp[k].copy() for k in ("footprints", "zones", "knn")}
    wl = SpatialJoin(0, 1)
    assert wl.check(out, exp)
    out["zones"] = out["zones"].iloc[:-1]
    assert not wl.check(out, exp)


def test_pyramid_pins_cover_every_seed_and_match_a_recompute():
    pins = pyramid_pins.load()
    assert set(pins) == set(range(pyramid_pins.PINNED_SEEDS))
    # the table was made by this recompute; it must still agree on the
    # seed commit's kernels, and a seed past the table maps into it
    assert pyramid_pins.recompute(select_images(7)) == pins[7]
    wl = Pyramid(7 + 3 * pyramid_pins.PINNED_SEEDS, 1)
    assert wl.expected({}) == pins[7]


def test_pyramid_check_rejects_a_changed_tile():
    wl = Pyramid(0, 1)
    exp = wl.expected({})
    out = {**exp, "png_bytes": 12345}
    assert exp["tiles"] > 0
    assert wl.check(out, exp)
    assert not wl.check({**out, "checksum_sum": exp["checksum_sum"] + 1}, exp)
    assert not wl.check({**out, "tiles": exp["tiles"] - 1}, exp)


def test_raster_vector_check_uses_the_duckdb_twins():
    import __spark_entry__ as entry

    wl = RasterVector(0, 1)
    tables = {"part": pd.DataFrame({"p_partkey": np.arange(1, 200, 7, dtype=np.int64)}),
              "supplier": pd.DataFrame({"s_suppkey": np.arange(1, 120, 3, dtype=np.int64)})}
    exp = wl.expected({"tables": tables})
    assert len(exp["regions"]) == len(tables["supplier"])
    assert len(exp["union"]) > 0
    assert set(exp["union"].columns) == {"in_fid", "m_fid", "area_km2"}
    assert wl.check({k: v.copy() for k, v in exp.items()}, exp)
    bad = exp["regions"].copy()
    bad.loc[0, "n_pixels"] += 1
    assert not wl.check({"regions": bad, "union": exp["union"]}, exp)
    bad = exp["union"].copy()
    bad.loc[0, "area_km2"] += 0.01
    assert not wl.check({"regions": exp["regions"], "union": bad}, exp)
    assert entry._DISJ_M_SQL in oracles.polygonize_pixels_sql(entry._DISJ_M_SQL, 1.0, 1)


def test_ingest_check_rejects_a_changed_pixel(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gdal_spark import codecs

    arrs = {"a": np.arange(12, dtype=np.uint8).reshape(3, 4),
            "b": np.full((2, 2, 3), 7, np.uint8)}
    exp = {k: oracles.pixel_digest(v) for k, v in arrs.items()}

    def write(mutate):
        rows = []
        for fmt in Ingest.FORMATS:
            for k, v in arrs.items():
                v = v.copy()
                if mutate and fmt == "envi" and k == "b":
                    v[0, 0, 0] ^= 1
                rows.append({"image_id": k, "bytes": codecs.encode_raw(v), "source": fmt})
        path = tmp_path / ("bad" if mutate else "good")
        path.mkdir()
        pq.write_table(pa.Table.from_pylist(rows), path / "part-0.parquet")
        return {"path": str(path), "bytes": 0}

    wl = Ingest(0, 1)
    assert wl.check(write(False), exp)
    assert not wl.check(write(True), exp)


def test_image_strata_do_not_depend_on_the_seed():
    from gdal_spark import fixtures

    def classes(seed):
        return Counter((s["w"], s["fmt"]) for s in
                       (fixtures.image_spec(i, "bench") for i in select_images(seed, 25)))

    def fragments(seed):
        return sum(len(pyramid_tiles(SimpleNamespace(**fixtures.image_record(i, "bench"))))
                   for i in select_images(seed, 25))

    assert classes(1) == classes(2)
    assert fragments(1) == fragments(2) == fragments(3)
    assert set(select_images(1, 25)).isdisjoint(select_images(2, 25))
    with pytest.raises(ValueError):
        select_images(1, 30)
