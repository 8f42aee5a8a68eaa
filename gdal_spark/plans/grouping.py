"""One keyed grouping for every operator that runs a Python kernel per
key: tile compose and overviews, the mosaic, polygonize's region build,
contour's chain assembly, layer algebra, dissolve and the line/point
clip and erase.

``sort_by_key`` is the shuffle they share; ``map_key_runs`` walks the
sorted partitions in one ``mapInPandas``, handing each run of equal keys
to the kernel as it streams across Arrow batches. ``group_by_key`` is
the same walk for kernels that need a group whole: each run becomes one
pandas frame. PySpark's grouped-map path (``applyInPandas``) would cost
a few milliseconds a group on top.
"""

from __future__ import annotations

import itertools
import math

import pandas as pd

_ARROW_CAP = "spark.sql.execution.arrow.maxRecordsPerBatch"


def sort_by_key(rows, keys, order, caller: str, log):
    """``rows`` hash-partitioned by ``keys``, each partition sorted by
    ``keys`` then ``order``, so every key's rows form one contiguous run
    in ``order``.

    The repartition has an explicit count, one task per core: the rows
    are small (PNG fragments, WKB) while their kernels are CPU-bound,
    and AQE would otherwise coalesce the shuffle by bytes into a single
    task. ``caller`` names the operator in the one INFO record on
    ``log``."""
    n = rows.sparkSession.sparkContext.defaultParallelism
    log.info("%s: %d partitions from defaultParallelism", caller, n)
    return rows.repartition(n, *keys).sortWithinPartitions(*keys, *order)


def arrow_cap(spark) -> float:
    """Rows per output frame of a walk: the session's Arrow batch cap
    (``get_spark`` keeps it small because image rows are fat); a cap of
    zero or less means no cap, as in Spark."""
    n = int(spark.conf.get(_ARROW_CAP))
    return n if n > 0 else math.inf


def walk_runs(batches, cols, nk: int, kernel, out_cols, flush: float = math.inf):
    """The body of ``map_key_runs``: ``batches`` (pandas frames with
    ``cols``, sorted by their first ``nk`` columns) -> frames of
    ``out_cols`` of at most ``flush`` rows, ``kernel(key, run)`` once
    per run of equal keys."""
    # a null key reaches pandas as NaN in a numeric column; NaN != NaN
    # would split its run, so nulls compare as None
    def run_key(t):
        return tuple(None if v != v else v for v in t[:nk])

    def frame(out):
        # object columns keep integer ids exact next to None
        return pd.DataFrame(out, columns=out_cols, dtype=object)

    stream = (t for pdf in batches for t in zip(*(pdf[c].tolist() for c in cols)))
    out = []
    for key, run in itertools.groupby(stream, run_key):
        for row in kernel(key, run):
            out.append(row)
            if len(out) >= flush:
                yield frame(out)
                out = []
    if out:
        yield frame(out)


def map_key_runs(rows, keys, order, kernel, caller: str, schema: str, log):
    """``kernel(key, run)`` once per ``keys`` group, as one
    ``mapInPandas`` over ``sort_by_key``'s partitions.

    ``run`` iterates the group's rows as tuples of ``keys`` then the
    other columns of ``rows``, in ``order``, pulled across Arrow batches
    as the kernel asks for them, so a heavy group never sits in memory
    whole; its output leaves in frames of at most the session's Arrow
    batch cap. ``kernel`` returns or yields output tuples in the column
    order of ``schema`` (a DDL string of ``name type`` fields)."""
    cols = [*keys, *(c for c in rows.columns if c not in keys)]
    nk = len(keys)
    out_cols = [f.split()[0] for f in schema.split(", ")]
    flush = arrow_cap(rows.sparkSession)
    return sort_by_key(rows.select(*cols), keys, order, caller, log).mapInPandas(
        lambda batches: walk_runs(batches, cols, nk, kernel, out_cols, flush), schema=schema
    )


def frame_kernel(kernel, cols, out_cols):
    """``kernel(pdf)`` -> DataFrame as a ``map_key_runs`` kernel: the run
    becomes one frame with ``cols``, and the result leaves as tuples in
    ``out_cols`` order."""

    def run_kernel(key, run):
        out = kernel(pd.DataFrame(list(run), columns=cols))
        return out[out_cols].itertuples(index=False, name=None)

    return run_kernel


def group_by_key(rows, keys, order, kernel, caller: str, schema: str, log):
    """``kernel(pdf)`` once per ``keys`` group, returning a frame with
    (at least) the columns of ``schema``: ``map_key_runs`` with each run
    as one frame of ``keys`` then the other columns of ``rows``, its
    rows in ``order``."""
    cols = [*keys, *(c for c in rows.columns if c not in keys)]
    out_cols = [f.split()[0] for f in schema.split(", ")]
    return map_key_runs(
        rows, keys, order, frame_kernel(kernel, cols, out_cols), caller, schema, log
    )
