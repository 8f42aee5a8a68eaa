"""Host sizing, host facts, process-tree memory sampling and the
Spark-free control kernel.

Nothing here imports numpy or pyspark at module level: ``size_env`` must
run before either is imported, because thread-pool sizes are read from
the environment when those libraries load.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time

MAX_CPUS = 4
HEAP_CAP_MB = 2048
HEAP_FLOOR_MB = 512


def meminfo_kb() -> dict:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, _, rest = line.partition(":")
            out[key] = int(rest.split()[0])
    return out


def spark_cpus() -> int:
    """local[N] width: the CPUs this process may run on, capped so that
    figures from a large host stay comparable with a small one."""
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))


def driver_heap_mb(mem_available_kb: int) -> int:
    """Driver heap from MemAvailable with a margin: a quarter of what is
    free (the rest is left to the Python workers, the page cache and
    other tenants), clamped to [512 MB, 2 GB]."""
    return max(HEAP_FLOOR_MB, min(HEAP_CAP_MB, mem_available_kb // 4 // 1024))


def size_env(root: str, work: str) -> dict:
    """Set the process environment the Spark session and its Python
    workers inherit. Returns the values chosen."""
    cpus = spark_cpus()
    heap = driver_heap_mb(meminfo_kb()["MemAvailable"])
    chosen = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}m",
        # one BLAS/OpenMP thread per Python worker: local[N] already runs
        # N workers, more threads would measure the OS scheduler
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM (Spark's launcher too) would otherwise write its
        # performance counters under /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(chosen[key], exist_ok=True)
    os.environ.update(chosen)
    return chosen


def other_spark_jvms() -> int:
    """Spark JVMs already running on this host (call before starting
    ours): concurrent Spark jobs have made timings several times slower."""
    try:
        out = subprocess.run(
            ["pgrep", "-af", "java"], capture_output=True, text=True, timeout=10
        ).stdout
    except (OSError, subprocess.SubprocessError):
        return 0
    return sum(1 for line in out.splitlines() if "spark" in line.lower())


def _version(cmd: list[str]) -> str:
    try:
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    text = [line for line in (p.stdout or p.stderr).strip().splitlines()
            if not line.startswith("Picked up JAVA_TOOL_OPTIONS")]
    return text[0] if text else "unknown"


def host_facts(root: str) -> dict:
    """Facts recorded with every result, so that figures from another
    host or toolchain are never compared by mistake."""
    import numpy
    import pyspark

    mem = meminfo_kb()
    sha = _version(["git", "-C", root, "rev-parse", "HEAD"])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem["MemTotal"] / 2**20, 3),
        "mem_avail_gb": round(mem["MemAvailable"] / 2**20, 3),
        "git_sha": sha if len(sha) == 40 else "unknown",
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "java": _version(["java", "-version"]),
    }


# ---------------------------------------------------------------------------
# peak resident memory of the Spark JVM and its Python workers
# ---------------------------------------------------------------------------


def children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree(root_pid: int) -> list[int]:
    """A process and all its descendants, the root first."""
    pids, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        stack.extend(children(pid))
    return pids


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def spark_rss_kb(jvm_pid: int) -> int:
    """Resident memory of the Spark JVM and the processes under it (the
    Python workers). A child still running the JVM's executable is a fork
    about to exec a shell command (Hadoop's ``chmod`` calls); its
    resident size repeats the JVM's own pages, and counting it added the
    whole heap again whenever one was caught, so it is left out."""
    jvm_exe = _exe(jvm_pid)
    kids = [c for c in children(jvm_pid) if _exe(c) != jvm_exe]
    return _rss_kb(jvm_pid) + sum(_rss_kb(p) for k in kids for p in process_tree(k))


class PeakRss:
    """Samples ``spark_rss_kb(jvm_pid)`` every ``period`` seconds while the
    block runs; ``peak_mb`` is the largest value seen."""

    def __init__(self, jvm_pid: int, period: float = 0.05):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, spark_rss_kb(self.jvm_pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, spark_rss_kb(self.jvm_pid))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark-free control
# ---------------------------------------------------------------------------


def control_kernel(n_tiles: int = 8) -> int:
    """The per-tile work of the pyramid job (decode a source, cut and
    bilinear-resample a window into a 256x256 tile, deflate the fragment
    and inflate it again, compose RGBA, deflate the tile, checksum) in
    plain numpy + zlib. It shares no code with the engine, so a shift in
    its time marks a slower sitting, never a code change."""
    import zlib

    import numpy as np

    rng = np.random.default_rng(7)
    src = rng.integers(0, 256, size=(300, 300, 3), dtype=np.uint8)
    packed = zlib.compress(src.tobytes(), 1)
    total = 0
    for t in range(n_tiles):
        img = np.frombuffer(zlib.decompress(packed), dtype=np.uint8).reshape(src.shape)
        y0, x0 = (t * 7) % 40, (t * 13) % 40
        ys = np.linspace(y0, y0 + 255.0, 256)
        xs = np.linspace(x0, x0 + 255.0, 256)
        iy, ix = ys.astype(int), xs.astype(int)
        fy, fx = (ys - iy)[:, None, None], (xs - ix)[None, :, None]
        a = img[iy][:, ix].astype(np.float64)
        b = img[iy][:, ix + 1].astype(np.float64)
        c = img[iy + 1][:, ix].astype(np.float64)
        d = img[iy + 1][:, ix + 1].astype(np.float64)
        tile = ((a * (1 - fx) + b * fx) * (1 - fy) + (c * (1 - fx) + d * fx) * fy)
        tile = np.clip(np.round(tile), 0, 255).astype(np.uint8)
        frag = zlib.compress(tile.tobytes(), 1)
        back = np.frombuffer(zlib.decompress(frag), dtype=np.uint8).reshape(tile.shape)
        rgba = np.dstack([back, np.full(back.shape[:2], 255, np.uint8)])
        out = zlib.compress(rgba.tobytes(), 3)
        total += zlib.crc32(out) & 0xFF
    return total


def control_seconds(reps: int = 3) -> float:
    """Median wall time of ``control_kernel`` over ``reps`` runs."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        control_kernel()
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2]
