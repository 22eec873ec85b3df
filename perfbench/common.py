"""Shared plumbing: the run's work directory, Spark start-up, the
regime stamp, memory sampling and the percentile rule."""

from __future__ import annotations

import math
import os
import subprocess
import sys
import time

# Where every file a run writes lives: a git-ignored directory at the
# root of the checkout, so the benchmark never reads or writes outside
# it (tempfile, Spark's local dirs and the JVM's tmpdir all point here).
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_run")

PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(n: int) -> float | None:
    """The highest of PERCENTILES that leaves at least ten samples
    beyond it; None when even the median lacks ten."""
    best = None
    for p in PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-6:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (a value that was actually observed)."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-th percentile: a beta-weighted
    mean of every order statistic rather than the one sample at a rank,
    so with a few dozen samples it does not jump between neighbouring
    samples from run to run. Any non-finite sample makes it infinite
    (every weight is positive)."""
    import numpy as np

    if not values:
        raise ValueError("percentile of no values")
    x = np.sort(np.asarray(values, dtype=float))
    if not np.isfinite(x).all():
        return float("inf")
    n, q = len(x), p / 100.0
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    # the Beta(a, b) CDF at i/n, from its density on a fine grid
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (
        (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
        + math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    )
    t = np.concatenate([[0.0], t, [1.0]])
    pdf = np.concatenate([[0.0], np.exp(log_pdf), [0.0]])
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2 * np.diff(t))])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf))
    return float(weights @ x)


def median(values: list[float]) -> float:
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def isolate_temp(run_dir: str) -> str:
    """Point every temp-file user of this process (and the JVM and
    Python workers it starts) at ``run_dir/tmp``. Must run before
    anything calls ``tempfile``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp
    return tmp


def start_spark(run_dir: str, event_log_dir: str | None = None):
    """Start the engine's session through its public factory."""
    from data_pipeline_2025_spark.session import get_spark

    conf = {
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        ),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            # zstd (Spark 4's default codec) needs a module that is not
            # installed here; the folder reads plain JSON lines anyway.
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _read_floats(path: str) -> list[float] | None:
    try:
        with open(path) as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return None


def _psi() -> dict[str, float] | None:
    out = {}
    for res in ("cpu", "memory", "io"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                first = f.readline().split()
        except OSError:
            return None
        for kv in first[1:]:
            k, _, v = kv.partition("=")
            if k == "avg10":
                out[f"{res}_some_avg10"] = float(v)
    return out


def regime(seed: int) -> dict:
    """What the numbers depend on besides the code: recorded before
    the session starts so the load reading is the box's, not ours."""
    import pyspark

    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": _read_floats("/proc/loadavg"),
        "psi_start": _psi(),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def generate_tier(out_dir: str, sf: float, seed: int) -> None:
    """Write the seeded tier from a child process, so neither the
    generator's time nor its in-memory tables count as the run's."""
    subprocess.run(
        [sys.executable, "-m", "perfbench.datagen", out_dir, repr(sf), str(seed)],
        cwd=ROOT, check=True, timeout=300,
    )


def python_peak_mb() -> float:
    """Peak resident memory (VmHWM) of this Python process."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_live_mb(spark) -> float:
    """Heap the JVM still holds after a full collection, plus its
    non-heap (code, metaspace): what the session keeps in memory,
    without the garbage-collection timing that makes raw RSS jitter."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Spark's ContextCleaner releases broadcast and shuffle state only
    # after a collection has found it unreachable; the second
    # collection frees what the cleaner released.
    bean.gc()
    time.sleep(1.0)
    bean.gc()
    used = bean.getHeapMemoryUsage().getUsed() + bean.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


def memory(spark) -> dict[str, float]:
    """Taken when the timed work ends, before the correctness checks
    load their own data into this process."""
    return {"python_peak_mb": python_peak_mb(), "jvm_live_mb": jvm_live_mb(spark)}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total
