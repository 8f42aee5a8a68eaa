"""Pinned answers of the ``pyramid`` workload's oracle.

The pyramid job's expected tile count and checksum sum are recomputed
once, without Spark, from the engine's per-tile kernels as they stood
when the benchmark was defined, and stored in ``pyramid_pins.json``. The
oracle reads the table and never calls those kernels at run time, so a
later change that breaks decode, resample, cut or compose fails the
oracle instead of moving the expected answer with it. Every seed maps to
one of ``PINNED_SEEDS`` input sets (``seed mod PINNED_SEEDS``), so the
table covers every seed.

Regenerate only on purpose (a change that is meant to alter the tiles):

    python3 perfbench/pyramid_pins.py
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
PINS = os.path.join(HERE, "pyramid_pins.json")
PINNED_SEEDS = 128


def recompute(ids: list[int]) -> dict:
    """Spark-free recompute of the pyramid over images ``ids``: every
    image decoded, cut at its native zoom and one level below, fragments
    grouped by tile and composed."""
    import pandas as pd

    from gdal_spark import fixtures
    from gdal_spark.operators import tile as T

    from perfbench.workloads import TILE, pyramid_tiles

    groups = defaultdict(list)
    for i in ids:
        rec = fixtures.image_record(i, "bench")
        r = SimpleNamespace(**rec)
        arr, alpha = T._decode_rgb_alpha(rec["bytes"], rec["fmt"])
        for z, tx, ty in pyramid_tiles(r):
            cut = T._cut_one(arr, alpha, r, z, tx, ty, TILE, "bilinear")
            if cut is not None:
                groups[(z, tx, ty)].append(T._fragment_row(r, z, tx, ty, *cut))
    n = cks = 0
    for rows in groups.values():
        t = T._compose_group(pd.DataFrame(rows), TILE).iloc[0]
        n += 1
        cks += int(t["checksum"])
    return {"tiles": n, "checksum_sum": cks}


def load() -> dict:
    """Input set (``seed mod PINNED_SEEDS``) -> pinned answer."""
    with open(PINS) as f:
        return {int(k): v for k, v in json.load(f).items()}


def main() -> int:
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench.workloads import select_images

    table = {}
    for s in range(PINNED_SEEDS):
        table[s] = recompute(select_images(s))
        print(s, table[s], flush=True)
    with open(PINS, "w") as f:
        json.dump(table, f, indent=0, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
