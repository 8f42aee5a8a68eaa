"""Benchmark launcher.

    python3 perfbench/run.py --workload pyramid --seed 1 --seconds 10 --trace 0

Sizes a local Spark from the host, builds the workload's inputs from the
seed, runs the workload's job in a closed loop (one driver, one job at a
time) for ``--seconds``, checks every output against the workload's
oracle and prints one JSON result as the last line of standard output.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics. NOTES.md defines every metric and workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOAD_NAMES = ("pyramid", "spatial_join", "raster_vector", "ingest")
BUILD_REPS = 3
MIN_REPS = 1
DEADLINE_S = 150.0    # the result must be out well inside 180 s


def _median(values):
    v = sorted(values)
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it and every Python worker
    it forked, and wait until each process has exited."""
    from . import host

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = host.process_tree(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    for pid in kids[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


class Run:
    """One benchmark run: set-up, the measured loop(s), the result."""

    def __init__(self, args, env: dict, work: str, t_start: float):
        from .workloads import WORKLOADS

        self.args = args
        self.env = env
        self.work = work
        self.t_start = t_start
        self.cpus = int(env["SPARK_GRAFT_CPUS"])
        self.workload = WORKLOADS[args.workload](args.seed, self.cpus)
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.info = {}

    def left(self) -> float:
        return DEADLINE_S - (time.monotonic() - self.t_start)

    def session(self):
        from gdal_spark.session import get_spark

        tmp = self.env["TMPDIR"]
        return get_spark(
            master=f"local[{self.cpus}]", app_name="perfbench",
            extra={
                "spark.local.dir": self.env["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            },
        )

    def setup(self):
        """Everything before the first timed job: start the session (the
        JVM), build the inputs from the seed and materialise them, and run
        the job once untimed, so that the timed jobs find the Python
        workers started, the engine's modules imported and its plans
        compiled. ``setup_s`` is the sum of the three. The input build is
        repeated BUILD_REPS times, each in a fresh directory, and its
        median enters the sum; the session start and the warm-up job
        happen once by nature (a second JVM would cost more run time than
        the measured loop) and enter as measured."""
        from .spark_layer import Tracer

        t0 = time.perf_counter()
        self.spark = self.session()
        session_s = time.perf_counter() - t0
        builds = []
        for k in range(BUILD_REPS):
            rep_dir = os.path.join(self.work, f"setup{k}")
            t0 = time.perf_counter()
            inputs = self.workload.setup(self.spark, rep_dir)
            builds.append(time.perf_counter() - t0)
            if k < BUILD_REPS - 1:
                shutil.rmtree(rep_dir, ignore_errors=True)
        warm = Tracer(self.spark, self.args.workload, enabled=False, index={})
        t0 = time.perf_counter()
        self.workload.job(self.spark, inputs, warm, -1)
        warm_s = time.perf_counter() - t0
        self.info.update(session_s=session_s, build_s_each=builds, warm_s=warm_s)
        return inputs, session_s + _median(builds) + warm_s

    def one(self, inputs, expected, tracer, rep):
        """One job; returns (seconds, output or None). A job that raises or
        fails its oracle counts as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = self.workload.job(self.spark, inputs, tracer, rep)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t0, None
        dt = time.perf_counter() - t0
        try:
            ok = self.workload.check(out, expected)
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"perfbench: {self.args.workload} rep {rep}: output does not match the oracle",
                  file=sys.stderr)
            self.failed += 1
        return dt, out

    def loop(self, inputs, expected, tracer, seconds):
        """Closed loop: the next job starts when the previous one has
        finished, until ``seconds`` have passed and at least MIN_REPS jobs
        ran. Returns the job times, the last output and the peak memory."""
        from .host import PeakRss

        jvm = self.spark.sparkContext._gateway.proc.pid
        times, out = [], None
        t0 = time.perf_counter()
        with PeakRss(jvm) as rss:
            while len(times) < MIN_REPS or time.perf_counter() - t0 < seconds:
                if times and self.left() < 2 * max(times):
                    break
                dt, o = self.one(inputs, expected, tracer, len(times))
                times.append(dt)
                out = o if o is not None else out
        return times, out, rss.peak_mb

    def execute(self) -> dict:
        from . import host
        from .spark_layer import Tracer, source_index

        inputs, setup_s = self.setup()
        expected = self.workload.expected(inputs)
        self.info["control_s"] = control_s = host.control_seconds()
        name = self.args.workload
        off = Tracer(self.spark, name, enabled=False, index={})
        if not self.args.trace:
            times, out, rss = self.loop(inputs, expected, off, self.args.seconds)
            self.info["wall_s_each"] = times
            if out is None:
                return {}
            wall = _median(times)
            return {
                "setup_s": setup_s,
                "wall_s": wall,
                "throughput_per_s": self.workload.items(inputs) / wall,
                "peak_rss_mb": rss,
                "output_mb": self.workload.output_mb(out),
            }
        half = self.args.seconds / 2
        plain, _out, _rss = self.loop(inputs, expected, off, half)
        on = Tracer(self.spark, name, enabled=True,
                    index=source_index(os.path.join(ROOT, "gdal_spark")))
        on.set_profiler(True)
        try:
            traced, _out, _rss = self.loop(inputs, expected, on, half)
        finally:
            on.set_profiler(False)
        self.info["wall_s_each"] = plain
        self.info["traced_wall_s_each"] = traced
        mem = host.meminfo_kb()
        return layer_metrics(self.workload, on, inputs, expected, len(traced), {
            "trace.overhead_s": _median(traced) - _median(plain),
            "host.control_s": control_s,
            "host.nproc": len(os.sched_getaffinity(0)),
            "host.mem_avail_gb": mem["MemAvailable"] / 2**20,
        }, declared_units(trace=True))


def layer_metrics(workload, tracer, inputs, expected, reps: int, extra: dict,
                  names) -> dict:
    """The per-layer metrics ``names``, per traced repetition; layers the
    workload does not run read 0."""
    from .spark_layer import summarize_stages

    reps = max(reps, 1)
    spark = summarize_stages(tracer.stages(), tracer.jobs())
    out = {k: (v / reps if k not in ("spark.task_skew",) else v) for k, v in spark.items()}
    prof = tracer.profile_of()
    out.update({
        "codecs.decode_s": prof.func_cum("codecs.decode_image") / reps,
        "codecs.encode_png_s": prof.func_cum("codecs.encode_png") / reps,
        "codecs.decode_png_s": prof.func_cum("codecs.decode_png") / reps,
        "codecs.calls": prof.func_calls(
            "codecs.decode_image", "codecs.encode_image", "codecs.encode_png",
            "codecs.decode_png", "codecs.encode_raw", "codecs.decode_raw") / reps,
        "resample.resize_s": prof.func_cum("resample.resize") / reps,
        "resample.calls": prof.func_calls("resample.resize") / reps,
        "checksum.s": prof.module_time("checksum") / reps,
        "geom.pip_s": prof.func_cum("geom.points_in_geometry") / reps,
        "geom.parse_wkb_s": prof.func_cum("geom.parse_wkb") / reps,
        "geom.calls": prof.func_calls("geom.points_in_geometry", "geom.parse_wkb") / reps,
    })
    out.update(workload.layer_metrics(tracer, inputs, expected, reps))
    out.update(extra)
    return {k: float(out.get(k, 0.0)) for k in names}


def declared_units(trace: bool) -> dict:
    """Name -> unit of every metric ``BENCHMARK.json`` declares for the
    mode: the one list of metric names and units, which each result
    reports in full."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "gdal_spark", "__init__.py")):
        return _fail(f"no gdal_spark package in {ROOT}; run from a full checkout")

    from . import host

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = host.size_env(ROOT, work)
    contended = host.other_spark_jvms()
    if contended:
        print(f"perfbench: WARNING {contended} other Spark JVM(s) running; "
              "timings will be inflated", file=sys.stderr)
    sys.path.insert(0, ROOT)
    run = Run(args, env, work, t_start)
    try:
        metrics = run.execute()
    except Exception:
        traceback.print_exc()
        metrics = {}
    finally:
        if run.spark is not None:
            _stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    if not metrics:
        return _fail("no result: set-up or every job failed")
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "contended_jvms": contended, "env": env, "host": host.host_facts(ROOT),
            "attempted": run.attempted, "failed": run.failed, **run.info}
    print("# perfbench " + json.dumps(info))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": unit}
                    for k, unit in declared_units(bool(args.trace)).items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main

    sys.exit(_main())
