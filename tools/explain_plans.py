#!/usr/bin/env python
"""Physical-plan audit: print .explain('formatted') for the key operator
plans and grep the properties the engine promises (SURVEY.md §4):

- parquet scans show PushedFilters + pruned ReadSchema
- tile assignment stays inside WholeStageCodegen (no Python in the scan)
- the PIP join phase 1 is a BroadcastHashJoin (or cell equi SortMerge)
- aggregations have partial (map-side) aggregation

Writes PLANS.md with the audit result per plan. Audit names given as
arguments (``python3 tools/explain_plans.py envi_scan_task_per_cube``)
re-run only those audits and rewrite only their ``## name`` sections,
leaving every other section byte-identical; with no arguments every
audit runs and the whole file is rewritten.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F


# a per-key kernel's walk (plans.grouping): one MapInPandas straight over
# a Sort straight over the key Exchange, in the formatted plan's tree
KEY_WALK = r"MapInPandas \(\d+\)\n\s*\+- Sort \(\d+\)\n\s*\+- Exchange \(\d+\)"
# ... whose Exchange reads the fragment cut (through at most a Project)
CUT_THEN_WALK = KEY_WALK + r"(\n\s*\+- Project \(\d+\))?\n\s*\+- MapInPandas \(\d+\)"


def key_exchange(*keys):
    """The walk's Exchange: hash partitioning on exactly ``keys``, with
    the explicit partition count."""
    ks = ", ".join(rf"{k}#\d+L?" for k in keys)
    return rf"hashpartitioning\({ks}, \d+\), REPARTITION_BY_NUM"


# audit names to run; empty = all
WANTED: set[str] = set()


def audit(name, df, expect, out):
    if WANTED and name not in WANTED:
        return
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    checks = []
    for label, pattern in expect:
        if callable(pattern):
            ok = pattern(plan)
        else:
            ok = re.search(pattern, plan) is not None
        checks.append((label, ok))
    out.append((name, checks, plan))
    status = ", ".join(f"{l}={'PASS' if ok else 'FAIL'}" for l, ok in checks)
    print(f"{name}: {status}")


def render(name, checks, plan):
    """One PLANS.md section."""
    marks = "".join(f"- {label}: {'PASS' if ok else 'FAIL'}\n"
                    for label, ok in checks)
    return f"## {name}\n\n{marks}\n```\n{plan[:4000]}\n```\n\n"


def write_plans(out):
    """Rewrite PLANS.md: the whole file, or with WANTED only the named
    sections (a name not yet in the file is appended)."""
    path = os.path.join(ROOT, "PLANS.md")
    new = {name: render(name, checks, plan) for name, checks, plan in out}
    if WANTED:
        with open(path) as f:
            parts = re.split(r"(?m)^(?=## )", f.read())
        names = [p[3:].split("\n", 1)[0] for p in parts]
        parts = [new.pop(n, p) for n, p in zip(names, parts)]
        parts += new.values()
    else:
        parts = ["# PLANS — physical-plan audit (.explain formatted)\n\n",
                 *new.values()]
    with open(path, "w") as f:
        f.write("".join(parts))


def main(names=()):
    WANTED.update(names)
    from gdal_spark.session import get_spark
    from gdal_spark import fixtures
    from gdal_spark.operators.tile import assign_tiles
    from gdal_spark.operators.spatial_join import point_in_polygon_join

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    out = []

    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")

    # 1. filter + projection pushdown to parquet
    q = orders.where(F.col("o_orderkey") < 100).select("o_orderkey", "o_totalprice")
    audit(
        "parquet_pushdown",
        q,
        [
            ("pushed_filter", r"PushedFilters: \[.*LessThan\(o_orderkey"),
            ("pruned_schema", r"ReadSchema:[^\n]*o_orderkey[^\n]*o_totalprice"),
            ("codegen", r"codegen id"),
        ],
        out,
    )

    # 2. tile assignment is pure column math (no BatchEvalPython/ArrowEval)
    imgs = fixtures.images_df(spark, 8, partitions=2)
    ta = assign_tiles(imgs.select("image_id", "minx", "miny", "maxx", "maxy"), 6)
    audit(
        "tile_assignment_no_python",
        ta,
        [
            ("no_python_eval", r"^(?!.*(BatchEvalPython|ArrowEvalPython|MapInPandas))",),
            ("codegen", r"codegen id"),
        ],
        out,
    )

    # 3. PIP join phase 1 broadcasts the polygon side
    pts = spark.createDataFrame(
        [fixtures.point_record(i) for i in range(64)], schema=fixtures.POINT_COLUMNS
    )
    feats = fixtures.features_df(spark, 16)
    j = point_in_polygon_join(pts, feats, how="inner")
    audit(
        "pip_join_broadcast",
        j,
        [
            ("broadcast", r"Broadcast(NestedLoop|Hash)Join"),
            ("arrow_refine", r"(ArrowEvalPython|FlatMapsInPandas|BatchEvalPython)"),
        ],
        out,
    )

    # 4. partial aggregation on groupBy
    g = orders.groupBy("o_orderstatus").agg(F.sum("o_totalprice").alias("s"))
    audit(
        "partial_agg",
        g,
        [("partial", r"HashAggregate.*partial|partial_sum"), ("codegen", r"codegen id|AdaptiveSparkPlan")],
        out,
    )

    # 5. layer algebra candidates: hash-partitioned cell EQUI-join (no
    # cartesian product, no Python evaluation before the join)
    from gdal_spark.operators.layer_algebra import pair_candidates

    inputs = feats.limit(8)
    methods = feats.limit(8)
    cands = pair_candidates(inputs, methods)
    audit(
        "layer_algebra_cell_equijoin",
        cands,
        [
            ("equi_join_on_cell",
             lambda p: re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p)
             is not None and "cell#" in p),
            ("no_cartesian", lambda p: "CartesianProduct" not in p),
            ("no_python_before_join", lambda p: "EvalPython" not in p),
        ],
        out,
    )

    # 6. rasterize: explode -> tile-key group; no driver collect by
    # construction (the features scan feeds the exchange directly)
    from gdal_spark import geom as G
    from gdal_spark.operators.rasterize import rasterize

    fdf = spark.createDataFrame(
        [(1, bytearray(G.wkb_rect(0, 0, 100, 100)), 0.0, 0.0, 100.0, 100.0)],
        "fid long, wkb binary, minx double, miny double, maxx double, maxy double",
    )
    rz = rasterize(spark, fdf, (0.0, 1.0, 0.0, 512.0, 0.0, -1.0), 512, 512)
    audit(
        "rasterize_tilekey_shuffle",
        rz,
        [
            ("explode", r"Generate"),
            ("grouped_pandas", r"FlatMapGroupsInPandas"),
            ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ],
        out,
    )

    # 7. interpolate: metadata-only broadcast + image-id cogroup (bytes
    # cross the shuffle once per image, never per point)
    from gdal_spark.operators.interpolate import interpolate_at_points

    imgs8 = fixtures.images_df(spark, 4, tier="t2", partitions=2)
    pdfp = spark.createDataFrame([(0, 0.0, 0.0)], "pid long, x double, y double")
    ip = interpolate_at_points(pdfp, imgs8)
    audit(
        "interpolate_cogroup",
        ip,
        [
            ("cogroup", r"FlatMapCoGroupsInPandas"),
            ("metadata_broadcast", r"Broadcast(NestedLoop|Hash)Join"),
            # the broadcast side must NOT carry the bytes column
            ("no_bytes_in_broadcast",
             lambda p: not re.search(r"BroadcastExchange[^\n]*\n[^\n]*bytes", p)),
        ],
        out,
    )

    # 8. direct pyramid: ONE exchange total (scan -> mapInPandas cut ->
    # tile-key shuffle -> sort -> mapInPandas compose walk); no
    # per-level barriers, no grouped-map node
    from gdal_spark.operators.tile import tile_pyramid_direct

    pyr = tile_pyramid_direct(imgs8, levels_below=1)
    audit(
        "direct_pyramid_single_shuffle",
        pyr,
        [
            ("one_exchange",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
            ("cut_then_walk", CUT_THEN_WALK),
            ("tile_key_exchange", key_exchange("z", "tx", "ty")),
            ("no_grouped_map", lambda p: "FlatMapGroupsInPandas" not in p),
            ("no_inmemory_scan", lambda p: "InMemoryTableScan" not in p),
        ],
        out,
    )

    # 9. line algebra clip: the same salted cell equi-join feeding ONE
    # walk keyed by fid (the features' own rows unioned with their
    # candidates) — no cartesian, no aggregate, no anti-join
    import numpy as np

    from gdal_spark.operators.line_algebra import line_layer_clip

    ldf = spark.createDataFrame(
        [
            (
                1,
                bytearray(
                    G.wkb_linestring(np.array([(0.0, 0.0), (50.0, 50.0)]))
                ),
                0.0, 0.0, 50.0, 50.0,
            )
        ],
        "fid long, wkb binary, minx double, miny double, maxx double, maxy double",
    )
    lc = line_layer_clip(ldf, fdf)
    audit(
        "line_algebra_clip",
        lc,
        [
            ("equi_join_on_cell",
             lambda p: re.search(
                 r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p
             ) is not None and "cell#" in p),
            ("no_cartesian", lambda p: "CartesianProduct" not in p),
            ("walk_over_union", KEY_WALK + r"\n\s*\+- Union \(\d+\)"),
            ("fid_exchange", key_exchange("fid")),
            ("no_agg_no_anti_join",
             lambda p: "collect_list" not in p and "ObjectHashAggregate" not in p
             and "LeftAnti" not in p),
        ],
        out,
    )

    # 10. gdalcompare: ONE cogroup bringing golden+new payloads together
    # (one exchange per input side, no join row-duplication, no cartesian)
    from gdal_spark.operators.compare import compare_images

    cmp_df = compare_images(imgs8, imgs8.select("image_id", "bytes", "fmt"))
    audit(
        "compare_cogroup",
        cmp_df,
        [
            ("cogroup", r"FlatMapCoGroupsInPandas"),
            ("no_cartesian", lambda p: "CartesianProduct" not in p),
            # exactly one exchange per input side (tree nodes, not the
            # duplicated detail section)
            ("one_exchange_per_side",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 2),
        ],
        out,
    )

    # 11. gdalmove: georef refit is a SHUFFLE-FREE narrow projection —
    # parquet scan -> column math -> one MapInPandas, no Exchange
    from gdal_spark.operators.move import move_georeference

    k = F.col("c_custkey")
    geo = (
        spark.read.parquet(f"{sf}/customer.parquet")
        .select(
            k.cast("string").alias("image_id"),
            (F.lit(-15000000.0) + (k * 37 % 3000) * 10000.0).alias("gt0"),
            (F.lit(100.0) + (k * 19 % 400) * 10.0).alias("gt1"),
            F.lit(0.0).alias("gt2"),
            (F.lit(15000000.0) - (k * 53 % 3000) * 10000.0).alias("gt3"),
            F.lit(0.0).alias("gt4"),
            (-(F.lit(100.0) + (k * 19 % 400) * 10.0)).alias("gt5"),
            F.lit(256).alias("w"),
            F.lit(256).alias("h"),
            F.lit(3857).alias("srid"),
        )
    )
    mv = move_georeference(geo, 4326)
    audit(
        "gdalmove_no_shuffle",
        mv,
        [
            ("no_exchange", lambda p: "Exchange" not in p),
            ("single_arrow_pass",
             lambda p: len(re.findall(r"\(\d+\) MapInPandas", p)) == 1),
            ("pruned_scan", r"ReadSchema:[^\n]*c_custkey"),
        ],
        out,
    )

    # 12. sessionization: native session_window operator — JVM-side
    # merging-session aggregation (no Python), partial before the
    # key exchange
    from gdal_spark.streaming.sessions import sessionize

    ev = spark.read.parquet(f"{sf}/events.parquet")
    sess = sessionize(ev, gap="4 hours")
    audit(
        "session_window_native",
        sess,
        [
            ("no_python", lambda p: "EvalPython" not in p
             and "InPandas" not in p),
            ("session_agg", r"(?i)session"),
            ("partial_agg", r"partial"),
        ],
        out,
    )

    # 13. retile: decode-once source-space tiling is embarrassingly
    # parallel — no Exchange in the whole plan
    from gdal_spark.operators.retile import retile_images

    rt = retile_images(imgs8, 48, 48, overlap=8, levels=1)
    audit(
        "retile_no_shuffle",
        rt,
        [
            ("no_exchange", lambda p: "Exchange" not in p),
            ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ],
        out,
    )

    # 14. repetition filters: dup-word fraction never shuffles; the
    # n-gram stats aggregate with map-side combine before ONE (doc,
    # gram) exchange — and no Python anywhere (pure Column math)
    from gdal_spark.functions.repetition import repetition_stats

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    rep = repetition_stats(docs)
    audit(
        "repetition_pure_column",
        rep,
        [
            ("no_python", lambda p: "EvalPython" not in p
             and "InPandas" not in p),
            ("partial_agg", r"partial"),
            ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ],
        out,
    )

    # 15. grid_linear (single pass): both sides hash-partition by cell
    # into ONE cogrouped Arrow kernel; the only "cartesian" is the
    # bounded 3x3 halo-offset replication (a 3-row range, not data x
    # data); exchanges stay at the cell-partition pair + retry plumbing
    from gdal_spark.operators.tin import grid_linear

    pts = spark.range(1, 241).select(
        ((F.col("id") * 48271 % 1000).cast("double") * 3000.0 - 1.5e6).alias("x"),
        ((F.col("id") * 16807 % 997).cast("double") * 3000.0 - 1.49e6).alias("y"),
        ((F.col("id") * 69621 % 887).cast("double") * 0.25).alias("z"),
    )
    qs_t = spark.range(0, 64).select(
        F.col("id").alias("qid"),
        ((F.col("id") % 8).cast("double") * 3.8e5 - 1.33e6).alias("x"),
        ((F.col("id") / 8).cast("long").cast("double") * 3.8e5 - 1.33e6).alias("y"),
    )
    gl = grid_linear(qs_t, pts, zoom=6, _retry=False)
    audit(
        "grid_linear_cell_cogroup",
        gl,
        [
            ("cogroup_kernel", r"FlatMapCoGroupsInPandas"),
            ("cell_exchanges_bounded",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 4),
            ("no_row_python", lambda p: "BatchEvalPython" not in p),
        ],
        out,
    )

    # 16. exact vector buffer: strictly narrow (per-feature Minkowski in
    # one Arrow pass) — zero exchanges, zero joins
    from gdal_spark import geom as _geom
    from gdal_spark.operators.buffer import buffer_features

    feat = spark.createDataFrame(
        [(1, bytearray(_geom.wkb_rect(0, 0, 10, 10)), 0.0, 0.0, 10.0, 10.0)],
        "fid long, wkb binary, minx double, miny double, maxx double, maxy double",
    )
    audit(
        "buffer_vector_narrow",
        buffer_features(feat, 2.0),
        [
            ("no_exchange", lambda p: "Exchange" not in p),
            ("one_arrow_pass", r"MapInPandas"),
        ],
        out,
    )

    # 17. decontaminate: gram construction is PURE Column math (no Python
    # at all), the eval gram set is broadcast, and the only shuffle
    # exchanges are the eval distinct + the per-doc groupBy
    from gdal_spark.functions.decontam import decontaminate

    dec = decontaminate(
        docs.where(F.col("doc_id") % 13 != 0),
        docs.where(F.col("doc_id") % 13 == 0),
        n=3,
    )
    audit(
        "decontaminate_broadcast_grams",
        dec,
        [
            ("no_python", lambda p: "EvalPython" not in p and "InPandas" not in p),
            ("eval_broadcast", r"BroadcastHashJoin"),
            ("bounded_exchanges",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 3),
            ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ],
        out,
    )

    # 18. semantic dedup: the Arrow assignment pass is materialized ONCE
    # (eager local checkpoint — it feeds both join sides), so the
    # explained plan starts at the checkpoint scan; the pair stage is a
    # cluster equi-join with JVM-side cosine (no Python after the join)
    from gdal_spark.functions.dedup import semantic_dedup_pairs

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    sem = semantic_dedup_pairs(emb, threshold=0.4, n_clusters=4)
    audit(
        "semantic_dedup_cluster_equijoin",
        sem,
        [
            ("cluster_equi_join",
             lambda p: re.search(
                 r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p
             ) is not None and "cluster#" in p),
            ("no_cartesian", lambda p: "CartesianProduct" not in p),
            ("jvm_cosine", lambda p: "InPandas" not in p
             and "EvalPython" not in p),
        ],
        out,
    )

    # 19. sequence packing: ONE groupBy(shard) exchange of narrow
    # (id, n_tokens) rows into one grouped Arrow pass; token counting is
    # Column math, never row Python
    from gdal_spark.functions.pack import pack_sequences

    pk = pack_sequences(docs, capacity=200, n_shards=8)
    audit(
        "pack_single_shard_exchange",
        pk,
        [
            ("grouped_pandas", r"FlatMapGroupsInPandas"),
            ("one_exchange",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
            ("no_row_python", lambda p: "BatchEvalPython" not in p),
        ],
        out,
    )

    # 20b. buildvrt mosaic: column-math tile ranges (no explode of image
    # bytes), decode-once Arrow cut, ONE tile-key shuffle into the
    # compose (the metadata grid agg ran eagerly before this plan)
    from gdal_spark.operators.mosaic import build_mosaic
    import __spark_entry__ as _E

    mimgs = spark.createDataFrame(
        _E._mosaic_fixture_records(),
        "image_id string, bytes binary, w int, h int, fmt string, "
        "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, "
        "gt5 double, srid int",
    )
    mz = build_mosaic(mimgs, "highest", tile_size=64)
    audit(
        "mosaic_tilekey_shuffle",
        mz,
        [
            ("one_exchange",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
            ("cut_then_walk", CUT_THEN_WALK),
            ("tile_key_exchange", key_exchange("tx", "ty")),
            ("no_grouped_map", lambda p: "FlatMapGroupsInPandas" not in p),
            ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ],
        out,
    )

    # 20c. line boilerplate strip: two shuffles total (the count groupBy
    # and the rebuild groupBy — it is inherently a two-pass algorithm),
    # frequent-line set broadcast, no Python anywhere
    from gdal_spark.functions.lines import strip_boilerplate

    sb = strip_boilerplate(
        docs.select(
            "doc_id",
            F.concat_ws(
                "\n", F.substring("text", 1, 50), F.lit("footer"),
                F.substring("text", 51, 50),
            ).alias("text"),
        ),
        max_docs=3,
    )
    audit(
        "boilerplate_two_pass",
        sb,
        [
            ("no_python", lambda p: "EvalPython" not in p and "InPandas" not in p),
            ("freq_broadcast", r"BroadcastHashJoin"),
            ("bounded_exchanges",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 4),
            ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ],
        out,
    )

    # 20d. IVF-PQ: codes-only shuffle — the broadcast probe join and
    # everything after the encode pass must never carry the embedding
    # column (the d-floats -> m-bytes memory story)
    from gdal_spark.functions.simsearch import ivfpq_topk

    qs_v = [
        (i, [float((i * 31 + j * 7) % 13 - 6) for j in range(64)])
        for i in range(2)
    ]
    ivq = ivfpq_topk(emb, qs_v, k=3, n_lists=4, nprobe=2, m=8)
    audit(
        "ivfpq_codes_only_shuffle",
        ivq,
        [
            ("probe_broadcast", r"BroadcastHashJoin"),
            # the join detail block (and therefore every row crossing it)
            # carries codes, never the embedding column — the scan detail
            # further down legitimately mentions embedding, so inspect the
            # join's own block, not everything after it
            ("no_embedding_after_encode",
             lambda p: (lambda m: m is not None and "embedding" not in m.group(0))(
                 re.search(r"\(\d+\) BroadcastHashJoin[\s\S]*?(?=\(\d+\) )", p)
             )),
            ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ],
        out,
    )

    # 20. geodesic distance: a single vectorized Arrow projection —
    # shuffle-free, no per-row Python
    from gdal_spark.sql import _st_geodesic_distance

    k = F.col("c_custkey")
    gd = (
        spark.read.parquet(f"{sf}/customer.parquet")
        .select(
            _st_geodesic_distance(
                (k % 360 - 180).cast("double"),
                (k % 160 - 80).cast("double"),
                ((k + 7) % 360 - 180).cast("double"),
                ((k + 11) % 160 - 80).cast("double"),
            ).alias("d")
        )
    )
    audit(
        "geodesic_arrow_projection",
        gd,
        [
            ("no_exchange", lambda p: "Exchange" not in p),
            ("vectorized_udf", r"ArrowEvalPython"),
            ("no_row_python", lambda p: "BatchEvalPython" not in p),
        ],
        out,
    )

    # 21. bucketed co-located join: both sides written bucketed+sorted on
    # the join key -> the join plan has ZERO exchanges (the shuffle was
    # paid once at write time — the recurring-join lever at 10^12 rows)
    import tempfile

    from gdal_spark.plans.bucketing import bucketed_join, write_bucketed

    with tempfile.TemporaryDirectory() as td:
        la = spark.range(0, 512).select(
            (F.col("id") % 31).alias("cell"), F.col("id").alias("lv")
        )
        rb = spark.range(0, 768).select(
            (F.col("id") % 31).alias("cell"), (F.col("id") * 3).alias("rv")
        )
        write_bucketed(la, "aud_bk_l", "cell", 4, path=f"{td}/l")
        write_bucketed(rb, "aud_bk_r", "cell", 4, path=f"{td}/r")
        # disable auto-broadcast: these audit tables are tiny, and a
        # broadcast join would trivially have no shuffle WITHOUT using
        # the bucket layout — the claim under audit is the bucketed SMJ
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bj = bucketed_join(spark, "aud_bk_l", "aud_bk_r", "cell")
            audit(
                "bucketed_join_no_shuffle",
                bj,
                [
                    ("zero_exchanges",
                     lambda p: len(re.findall(r"\(\d+\) (Broadcast)?Exchange", p)) == 0),
                    ("sort_merge_join", r"SortMergeJoin"),
                    ("bucketed_scan", r"Bucketed: true"),
                ],
                out,
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS aud_bk_l")
        spark.sql("DROP TABLE IF EXISTS aud_bk_r")

    # 22. gdallocationinfo: same metadata-join + cogroup contract as
    # interpolate (bytes cross the shuffle once per image, never per point)
    from gdal_spark.operators.interpolate import location_info

    li = location_info(
        spark.createDataFrame([(0, 0.0, 0.0)], "pid long, x double, y double"),
        fixtures.images_df(spark, 4, tier="t2", partitions=2),
    )
    audit(
        "location_info_cogroup",
        li,
        [
            ("cogroup", r"FlatMapCoGroupsInPandas"),
            ("metadata_broadcast", r"Broadcast(NestedLoop|Hash)Join"),
            ("no_bytes_in_broadcast",
             lambda p: not re.search(r"BroadcastExchange[^\n]*\n[^\n]*bytes", p)),
        ],
        out,
    )

    # 23. FlatGeobuf scan: driver plans byte ranges (index leaves), the
    # executor side is ONE Arrow pass over the tiny ranges frame — no
    # exchange, no row-at-a-time Python
    from gdal_spark.formats import scan_flatgeobuf

    fgb = scan_flatgeobuf(
        spark, os.path.join(ROOT, "tests/data/poly.fgb"), num_partitions=3
    )
    audit(
        "fgb_scan_no_shuffle",
        fgb,
        [
            # ranges are parallelized one-per-slice at creation: zero
            # exchanges anywhere — feature bytes never shuffle
            ("no_exchange", lambda p: "Exchange" not in p),
            ("arrow_map", r"MapInPandas"),
            ("no_row_python", lambda p: "BatchEvalPython" not in p),
        ],
        out,
    )

    # 24. CSV vector scan: the file scan is Spark's native JVM CSV source
    # (splittable, no Python); geometry materializes in one Arrow pass
    import tempfile as _tf

    with _tf.TemporaryDirectory() as td2:
        pcsv = f"{td2}/pts.csv"
        with open(pcsv, "w") as fh:
            fh.write("id,WKT\n1,POINT (1 2)\n")
        from gdal_spark.formats import scan_csv_vector

        cdf = scan_csv_vector(spark, pcsv)
        audit(
            "csv_vector_scan",
            cdf,
            [
                ("jvm_csv_scan", r"Scan csv"),
                ("arrow_geometry", r"ArrowEvalPython"),
                ("no_row_python", lambda p: "BatchEvalPython" not in p),
                ("no_exchange", lambda p: "Exchange" not in p),
            ],
            out,
        )

    # 25. pipeline CLI: a composed read ! clip ! scale ! hillshade string
    # lowers to ONE narrow chain — every step is a MapInPandas stacked in
    # the same stage, zero exchanges, nothing materialized between steps
    with _tf.TemporaryDirectory() as td3:
        from gdal_spark.pipeline import run_pipeline

        src = f"{td3}/images.parquet"
        fixtures.images_df(spark, 8, tier="t2", partitions=2).write.parquet(src)
        pdf = run_pipeline(
            spark,
            f"gdal raster pipeline read {src} "
            "! clip --window=2,2,20,20 "
            "! scale --src-min=0 --src-max=255 --dst-min=10 --dst-max=200 "
            "! hillshade --zfactor=3",
        )
        audit(
            "pipeline_cli_fused",
            pdf,
            [
                ("no_exchange", lambda p: "Exchange" not in p),
                # 3 lowered steps = exactly 3 stacked Arrow passes
                ("three_arrow_steps",
                 lambda p: len(re.findall(r"\bMapInPandas\b(?! \()", p)) == 3
                 or p.count("MapInPandas (") == 3),
                ("no_row_python", lambda p: "BatchEvalPython" not in p),
            ],
            out,
        )

    # 26. warped VRT scan: one warp task per .vrt file — a single
    # round-robin fan-out exchange of the (tiny) path plan, ONE Arrow
    # pass doing read+warp+encode, no per-row Python, no cartesian
    with _tf.TemporaryDirectory() as td4:
        import numpy as np

        from gdal_spark.formats import scan_vrt, write_warped_vrt
        from gdal_spark.formats.gtiff import format_gtiff

        for k in range(4):
            arr = (np.arange(256, dtype=np.uint8).reshape(16, 16) + k)
            gt = (500000.0, 100.0, 0.0, 4000000.0, 0.0, -100.0)
            sp2 = f"{td4}/w{k}.tif"
            with open(sp2, "wb") as fh:
                fh.write(format_gtiff(arr, gt, srid=32611))
            write_warped_vrt(sp2, f"{td4}/w{k}.vrt", 4326,
                             resampling="bilinear")
        wdf = scan_vrt(spark, f"{td4}/*.vrt")
        audit(
            "warped_vrt_task_per_file",
            wdf,
            [
                ("one_fanout_exchange",
                 lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
                ("one_arrow_pass",
                 lambda p: p.count("MapInPandas") >= 1),
                ("no_row_python", lambda p: "BatchEvalPython" not in p),
                ("no_cartesian", lambda p: "CartesianProduct" not in p),
            ],
            out,
        )

    # 27. ENVI scan: driver reads only the tiny .hdr texts, then ONE
    # round-robin fan-out exchange of the (path, header) plan and ONE
    # Arrow pass doing read+deinterleave+encode — the plan shape shared
    # by the driver-planned format scans (GeoTIFF windowed, FGB ranges)
    with _tf.TemporaryDirectory() as td5:
        import numpy as np

        from gdal_spark import codecs as _cd
        from gdal_spark.formats import scan_envi
        from gdal_spark.formats.envi import format_envi

        for k in range(4):
            arr = (np.arange(64, dtype=np.uint8).reshape(8, 8) + k)
            cube, hdr = format_envi(arr, (0.0, 1.0, 0.0, 8.0, 0.0, -1.0))
            with open(f"{td5}/c{k}.img", "wb") as fh:
                fh.write(cube)
            with open(f"{td5}/c{k}.hdr", "w") as fh:
                fh.write(hdr)
        edf = scan_envi(spark, f"{td5}/*.img")
        audit(
            "envi_scan_task_per_cube",
            edf,
            [
                ("one_fanout_exchange",
                 lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
                ("one_arrow_pass",
                 lambda p: p.count("MapInPandas") >= 1),
                ("no_row_python", lambda p: "BatchEvalPython" not in p),
                ("no_cartesian", lambda p: "CartesianProduct" not in p),
            ],
            out,
        )

        # 28. headerless-file scans (DTED/SRTM/netCDF): the binaryFile
        # source already yields one split per file, so the whole scan is
        # ZERO exchanges and ONE Arrow pass — no driver planning at all
        from gdal_spark.formats import scan_dted
        from gdal_spark.formats.dted import format_dted

        for k in range(3):
            a = (np.arange(16, dtype=np.int16).reshape(4, 4) + k)
            with open(f"{td5}/n{k}.dt0", "wb") as fh:
                fh.write(format_dted(
                    a, (float(k) - 1 / 240, 1 / 120, 0.0,
                        10.0 + 1 / 240, 0.0, -1 / 120)
                ))
        ddf = scan_dted(spark, f"{td5}/*.dt0")
        audit(
            "headerless_file_scan_one_pass",
            ddf,
            [
                ("no_exchange", lambda p: "Exchange" not in p),
                ("one_arrow_pass",
                 lambda p: p.count("MapInPandas") >= 1),
                ("no_row_python", lambda p: "BatchEvalPython" not in p),
            ],
            out,
        )

    # 32. Zarr scan: the chunk is the format's native task unit — the
    # driver reads JSON metadata only, and the plan is ONE round-robin
    # fan-out of the tiny (store, chunk-index) tuples plus ONE Arrow
    # pass that opens/decompresses each task's own chunk file
    with _tf.TemporaryDirectory() as td6:
        import json as _json

        import numpy as np

        from gdal_spark.formats import scan_zarr

        zd = f"{td6}/a.zarr"
        import os as _os

        _os.makedirs(zd)
        with open(f"{zd}/.zarray", "w") as fh:
            _json.dump({"zarr_format": 2, "shape": [16, 16],
                        "chunks": [8, 8], "dtype": "|u1",
                        "compressor": None, "fill_value": 0,
                        "filters": None, "order": "C"}, fh)
        for cy in range(2):
            for cx in range(2):
                with open(f"{zd}/{cy}.{cx}", "wb") as fh:
                    fh.write(bytes(range(64)))
        zdf = scan_zarr(spark, zd)
        audit(
            "zarr_scan_chunk_per_task",
            zdf,
            [
                ("one_fanout_exchange",
                 lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
                ("one_arrow_pass",
                 lambda p: p.count("MapInPandas") >= 1),
                ("no_row_python", lambda p: "BatchEvalPython" not in p),
                ("no_cartesian", lambda p: "CartesianProduct" not in p),
            ],
            out,
        )

    # 33. OSM way assembly: the reference's custom node database is a
    # plain EQUI-JOIN here — blob-per-task scans on both sides, then
    # posexplode -> join on node id -> partial-aggregated collect
    with _tf.TemporaryDirectory() as td7:
        import json as _json2

        from gdal_spark.formats import osm_way_lines, write_osm_pbf

        ndf = spark.createDataFrame(
            [(i, 2.0 + i * 0.25, 49.0 + i * 0.5, None)
             for i in range(1, 17)],
            "osm_id long, lon double, lat double, tags string",
        ).repartition(2)
        wdf = spark.createDataFrame(
            [(100 + i, [i, i + 1], _json2.dumps({"k": "v"}))
             for i in range(1, 9)],
            "osm_id long, refs array<long>, tags string",
        ).repartition(2)
        write_osm_pbf(ndf, wdf, f"{td7}/t.pbf")
        odf = osm_way_lines(spark, f"{td7}/t.pbf")
        audit(
            "osm_lines_equijoin",
            odf,
            [
                ("equi_join",
                 r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
                ("no_cartesian", lambda p: "CartesianProduct" not in p),
                ("partial_agg",
                 r"HashAggregate.*partial|partial_|ObjectHashAggregate"),
                ("no_row_python", lambda p: "BatchEvalPython" not in p),
            ],
            out,
        )

    # 34. GeoPackage tile pyramid scan: the driver reads CATALOG rows
    # only (tile matrix + rowid extent); tile blobs decode inside
    # rowid-range-partitioned Arrow tasks — one fan-out, no row
    # Python, no cartesian (round-5 raster-tiles shape)
    with _tf.TemporaryDirectory() as td8:
        import numpy as _np8

        from gdal_spark import codecs as _c8
        from gdal_spark.formats.geopackage import (
            scan_geopackage_tiles,
            write_geopackage_tiles,
        )

        t8 = spark.createDataFrame(
            [(2, tx, ty, bytearray(_c8.encode_png(
                _np8.full((256, 256), 7, _np8.uint8))))
             for tx in range(2) for ty in range(2)],
            "z int, tx int, ty int, png binary",
        )
        write_geopackage_tiles(t8, f"{td8}/t.gpkg", table="cover")
        gdf = scan_geopackage_tiles(spark, f"{td8}/t.gpkg")
        audit(
            "gpkg_tile_scan_rowid_ranges",
            gdf,
            [
                ("one_fanout_exchange",
                 lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
                ("one_arrow_pass",
                 lambda p: len(re.findall(r"\(\d+\) MapInPandas", p))
                 == 1),
                ("no_row_python", lambda p: "BatchEvalPython" not in p),
                ("no_cartesian", lambda p: "CartesianProduct" not in p),
            ],
            out,
        )

    # 35. GRIB scan: the driver indexes messages from fixed-size
    # section-0 headers only; each message decodes in its own Arrow
    # task (round-5 wave-4 driver-zoo shape) — one fan-out, no row
    # Python, no cartesian
    from gdal_spark.formats.grib import scan_grib

    gribdf = scan_grib(
        spark, os.path.join(ROOT, "tests/data/grib/ds.mint.bin"))
    audit(
        "grib_scan_task_per_message",
        gribdf,
        [
            ("one_fanout_exchange",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
            ("one_arrow_pass",
             lambda p: len(re.findall(r"\(\d+\) MapInPandas", p))
             == 1),
            ("no_row_python", lambda p: "BatchEvalPython" not in p),
            ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ],
        out,
    )

    # 36. Esri Compact Cache scan: the driver plans one task per
    # 128x128-tile bundle; bundle index decode + PNG/JPEG tile
    # decode run inside the task
    from gdal_spark.formats.esric import scan_esric

    esdf = scan_esric(spark, os.path.join(ROOT, "tests/data/esric/Layers.tar"),
                      1)
    audit(
        "esric_scan_task_per_bundle",
        esdf,
        [
            ("one_fanout_exchange",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
            ("one_arrow_pass",
             lambda p: len(re.findall(r"\(\d+\) MapInPandas", p))
             == 1),
            ("no_row_python", lambda p: "BatchEvalPython" not in p),
            ("no_cartesian", lambda p: "CartesianProduct" not in p),
        ],
        out,
    )

    spark.stop()
    missing = WANTED - {name for name, _checks, _plan in out}
    if missing:
        sys.exit(f"unknown audit name(s): {', '.join(sorted(missing))}")
    write_plans(out)


if __name__ == "__main__":
    main(sys.argv[1:])
