"""Shared helpers for the format drivers.

Most raster and file drivers share one Spark shape: plan a list of files
(or per-file tasks) on the driver, fan out one partition per task, and let
each task parse its file into images-table rows; the writers fan the other
way, one output file per row, written by the task that holds the row.
:func:`scan_files` and :func:`write_files` own that plumbing so that a
driver keeps only its parse and format code.
"""

from __future__ import annotations

import os


def local_path(path: str) -> str:
    """Strip a file:// URI scheme down to a plain filesystem path,
    handling the file:///abs, file://abs (legacy), and file:/abs forms."""
    if path.startswith("file://"):
        rest = path[7:]
        # file:///abs -> ///abs stripped to /abs; file://abs kept as-is
        return rest if rest.startswith("/") or not rest else rest
    if path.startswith("file:/"):
        return path[5:]
    return path


def glob_paths(path_glob: str, keep=None) -> list[str]:
    """``path_glob`` -> local file paths. A pattern holding any of
    ``*?[`` is expanded (sorted); any other path is taken as-is, even
    if it does not exist. ``keep(path)``, when given, filters the
    result. An empty result raises ``FileNotFoundError(path_glob)``."""
    import glob as _glob

    pat = local_path(path_glob)
    paths = (sorted(_glob.glob(pat))
             if any(ch in pat for ch in "*?[") else [pat])
    if keep is not None:
        paths = [p for p in paths if keep(p)]
    if not paths:
        raise FileNotFoundError(path_glob)
    return paths


def schema_columns(schema: str) -> list[str]:
    """Top-level column names of a DDL string; a name may be
    backtick-quoted and a type may nest (``map<string,string>``)."""
    names, depth, quoted, start = [], 0, False, 0
    for i, ch in enumerate(schema + ","):
        if ch == "`":
            quoted = not quoted
        elif quoted:
            continue
        elif ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            field = schema[start:i].strip()
            names.append(field[1:field.index("`", 1)]
                         if field.startswith("`") else field.split()[0])
            start = i + 1
    return names


def scan_files(spark, paths, read_fn, schema: str, tasks=None):
    """One partition per planned task, one ``mapInPandas`` over them.

    By default each path in ``paths`` is one task whose row has a single
    ``path`` column. A driver that plans on the driver instead passes
    ``tasks=(task_ddl, task_tuples)`` (``paths`` is then unused).
    ``read_fn(task_row)`` returns the task's rows, each a dict keyed by
    the columns of ``schema`` (a missing key becomes null) or a list in
    schema order; they keep the order ``read_fn`` gives them."""
    if tasks is None:
        tasks = ("path string", [(p,) for p in paths])
    task_ddl, rows = tasks
    cols = schema_columns(schema)
    tdf = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, len(rows)), task_ddl)

    def read_tasks(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                out.extend(read_fn(r))
            yield pd.DataFrame(out, columns=cols)

    return tdf.mapInPandas(read_tasks, schema=schema)


def write_files(df, out_dir: str, dump_row, nodata=None) -> list[str]:
    """Task-per-row file sink: ``dump_row(row, arr, gt, nodata, out_dir)``
    writes one row's file(s) and returns the path to report.

    - ``arr``: the row's decoded pixels (GSRW raw when the frame has no
      ``fmt`` column);
    - ``gt``: the six floats of ``gt0..gt5``, or None when the frame has
      no geotransform columns;
    - ``nodata``: the row's own ``nodata`` value when set, else the
      ``nodata`` default given here.
    """
    import pandas as pd

    from .. import codecs

    out_dir = local_path(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    has_gt = "gt0" in df.columns
    has_nodata = "nodata" in df.columns

    def dump(batches):
        for pdf in batches:
            names = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode_image(bytes(r.bytes),
                                          getattr(r, "fmt", "raw"))
                gt = (tuple(float(getattr(r, f"gt{i}")) for i in range(6))
                      if has_gt else None)
                nd = nodata
                if (has_nodata and r.nodata is not None
                        and not pd.isna(r.nodata)):
                    nd = float(r.nodata)
                names.append(dump_row(r, arr, gt, nd, out_dir))
            yield pd.DataFrame({"path": names})

    return [
        r.path
        for r in df.mapInPandas(dump, schema="path string").collect()
    ]


def raster_row(image_id, arr, gt, srid, nodata=None, **extra) -> dict:
    """One images-table row: ``arr`` as GSRW raw bytes plus its shape,
    the six geotransform terms (null when ``gt`` is None), ``srid``,
    ``nodata`` and any driver columns in ``extra``. Keys that the scan's
    schema lacks are dropped by :func:`scan_files`."""
    from .. import codecs

    if gt is None:
        gt = (None,) * 6
    return {
        "image_id": image_id,
        "bytes": codecs.encode_raw(arr),
        "w": arr.shape[1], "h": arr.shape[0], "fmt": "raw",
        "gt0": gt[0], "gt1": gt[1], "gt2": gt[2],
        "gt3": gt[3], "gt4": gt[4], "gt5": gt[5],
        "srid": srid, "nodata": nodata, **extra,
    }
