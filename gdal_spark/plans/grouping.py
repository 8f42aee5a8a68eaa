"""One keyed grouping for every operator that runs a Python kernel per
key: tile compose and overviews, the mosaic, layer algebra and dissolve.

``sort_by_key`` is the shuffle they share. ``group_by_key`` hands each
group to a pandas kernel through ``applyInPandas``; ``map_key_runs``
walks the sorted partitions in one ``mapInPandas`` instead, for kernels
with many small groups, where PySpark's grouped-map path costs a few
milliseconds a group.
"""

from __future__ import annotations

import itertools

import pandas as pd

# output rows per frame a map_key_runs task yields
_FLUSH = 4096


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


def group_by_key(rows, keys, order, kernel, caller: str, schema: str, log):
    """``kernel(pdf)`` once per ``keys`` group, returning ``schema`` rows;
    the grouped stage reuses ``sort_by_key``'s partitioning and sort, so
    ``kernel`` sees each group's rows in ``order``."""
    return (
        sort_by_key(rows, keys, order, caller, log)
        .groupBy(*keys)
        .applyInPandas(kernel, schema=schema)
    )


def walk_runs(batches, cols, nk: int, kernel, out_cols):
    """The body of ``map_key_runs``: ``batches`` (pandas frames with
    ``cols``, sorted by their first ``nk`` columns) -> frames of
    ``out_cols``, ``kernel(key, run)`` once per run of equal keys."""
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
            if len(out) >= _FLUSH:
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
    whole; its output leaves in frames of ``_FLUSH`` rows. ``kernel`` returns or yields output tuples
    in the column order of ``schema`` (a DDL string of ``name type``
    fields)."""
    cols = [*keys, *(c for c in rows.columns if c not in keys)]
    nk = len(keys)
    out_cols = [f.split()[0] for f in schema.split(", ")]
    return sort_by_key(rows.select(*cols), keys, order, caller, log).mapInPandas(
        lambda batches: walk_runs(batches, cols, nk, kernel, out_cols), schema=schema
    )
