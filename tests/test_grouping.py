"""plans.grouping: the key-sorted run walk behind every per-key kernel."""

import pandas as pd

from gdal_spark.operators.tile import FRAGMENT_COLUMNS, TILE_SCHEMA, _compose_group
from gdal_spark.plans.grouping import arrow_cap, frame_kernel, walk_runs
from tests.test_tile_ops import (  # noqa: F401
    GROUP_TS, _by_group, _group_fragments, _tile_rows, arrow_batch,
)


def test_compose_frames_stay_under_the_arrow_cap(spark, arrow_batch):
    # tile rows carry a PNG each, so a walk flushes its output at the
    # session's Arrow batch cap (2, then the session default of 256);
    # Spark's compose is checked against the same reference in
    # test_tile_ops.py::TestComposeGrouping
    cap = arrow_cap(spark)
    assert cap == int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    rows = _group_fragments()
    pdf = pd.DataFrame(rows, columns=FRAGMENT_COLUMNS)
    want = _by_group(
        pdf, ["z", "tx", "ty"], ["image_id"], lambda g: _compose_group(g, GROUP_TS)
    )

    # one compose partition as the walk sees it: key-sorted Arrow batches
    part = pdf.sort_values(["z", "tx", "ty"], kind="stable")
    batches = [part.iloc[i:i + cap] for i in range(0, len(part), cap)]
    out_cols = [f.split()[0] for f in TILE_SCHEMA.split(", ")]
    kernel = frame_kernel(lambda g: _compose_group(g, GROUP_TS), FRAGMENT_COLUMNS, out_cols)
    frames = list(walk_runs(iter(batches), FRAGMENT_COLUMNS, 3, kernel, out_cols, cap))
    assert [len(f) for f in frames] == [
        min(cap, len(want) - i) for i in range(0, len(want), cap)
    ]
    walked = pd.concat(frames, ignore_index=True)
    assert _tile_rows(walked.to_dict("records")) == _tile_rows(want.to_dict("records"))
