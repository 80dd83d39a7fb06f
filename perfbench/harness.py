"""Pinned environment, Spark session lifetime and small measuring helpers.

Everything the benchmark writes lives under `<root>/.perfbench/`: a
per-process work directory (indexes, Spark local dirs, temp files, removed
when the run ends) and `traces/` (span files of traced runs, kept).
`pin_environment` must run before pyspark starts its JVM, because the JVM
and its Python workers inherit the environment it sets.
"""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")


def cores() -> int:
    """CPUs this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """Driver heap: a quarter of physical RAM, capped at 4g. get_spark's
    own default (48g) is larger than the hosts this runs on."""
    gib = max(1, min(4, _mem_total_bytes() // (4 << 30)))
    return f"{gib}g"


def pin_environment(work_dir: str) -> dict:
    """Point every writer (JVM temp, Spark local dirs, Python temp files)
    into work_dir, make openmatch_spark importable by Python workers, and
    pin parallelism and driver memory. Returns the recorded environment."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    n = cores()
    env = {
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "local"),
        "TMPDIR": tmp,
        # every JVM (the spark-submit launcher included) keeps its temp
        # files and perf-data out of /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "cores": n,
        "master": f"local[{n}]",
        "shuffle_partitions": n,
        "driver_memory": env["SPARK_DRIVER_MEM"],
        "mem_total_gib": round(_mem_total_bytes() / (1 << 30), 1),
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def start_spark(work_dir: str):
    """The benchmark's one SparkSession: local[nproc], console progress
    off, warehouse inside the work dir."""
    from openmatch_spark import get_spark

    n = cores()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            _stop_gateway(gateway)


def _stop_gateway(gateway) -> None:
    """Shut the py4j gateway down and wait for its JVM to exit, also when
    the JVM is already gone."""
    from pyspark import SparkContext

    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def make_work_dir() -> str:
    d = os.path.join(OUT_DIR, "work", str(os.getpid()))
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def remove_work_dir(d: str) -> None:
    shutil.rmtree(d, ignore_errors=True)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under path; data files are the parquet parts."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(dirpath, name))
            if name.startswith("part-"):
                files += 1
    return total, files


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    s = sorted(xs)
    rank = max(1, -(-len(s) * p // 100))
    return float(s[int(rank) - 1])


def top_percentile_with_tail(n: int, tail: int = 10) -> int:
    """Highest whole percentile of an n-sample with >= tail samples above
    it (0 when n <= tail)."""
    if n <= tail:
        return 0
    return int(100 * (n - tail) // n)


def timed_loop(seconds: float, op, min_ops: int = 1) -> list[float]:
    """Run op(i) back to back for about `seconds`: a further op starts only
    while the window still has room for one more median-length op (so a
    run never overshoots by a whole op), and at least min_ops run.
    Returns each op's wall time in seconds."""
    walls: list[float] = []
    t_start = time.perf_counter()
    i = 0
    while True:
        elapsed = time.perf_counter() - t_start
        if i >= min_ops and elapsed + median(walls) > seconds:
            return walls
        t0 = time.perf_counter()
        op(i)
        walls.append(time.perf_counter() - t0)
        i += 1
