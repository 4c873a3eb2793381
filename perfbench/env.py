"""Process set-up: paths inside the checkout, the Spark session, warm-up.

Everything a run writes (Spark scratch, temp files, index directories,
generated tables, traces) goes under ``<checkout>/.perfbench_work``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"# [{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class ProgramMissing(RuntimeError):
    """The checkout does not hold the program under test."""


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the machine's RAM, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{max(1, min(4, kib // (4 * 1024 * 1024)))}g"


# A fixed set of JIT compiler threads, so that ``cpu.seconds`` can leave
# their time out (by default HotSpot starts and stops them as its queue
# grows and shrinks). Six rather than the default three: every distinct
# query makes Spark generate new classes, which run interpreted until a
# compiler thread gets to them, so a shorter queue makes an op's CPU time
# depend less on how far the compilers have got.
JVM_OPTS = "-XX:-UseDynamicNumberOfCompilerThreads -XX:CICompilerCount=6"


def prepare(run_dir: str) -> None:
    """Check that ``victor_spark`` comes from this checkout, then point
    Spark, its Python workers and tempfile at ``run_dir``. Must run before
    the Spark session starts."""
    try:
        import victor_spark
    except ImportError as e:
        raise ProgramMissing(f"victor_spark is not importable from {ROOT}: {e}")
    where = os.path.dirname(os.path.abspath(victor_spark.__file__))
    if where != os.path.join(ROOT, "victor_spark"):
        raise ProgramMissing(f"victor_spark resolved to {where}, not the checkout")
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    # Spark's Python workers import victor_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"--driver-java-options '{JVM_OPTS} -Djava.io.tmpdir={tmp}'",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp


def start_session():
    """(spark, seconds) for ``victor_spark.get_spark()`` on local[nproc]."""
    from victor_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin reaches EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def kill_jvm() -> None:
    """Last resort for the watchdog: kill the JVM without asking Spark."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()


def calib_roundtrip_ms(spark, n: int = 11) -> float:
    """Median wall time of one-task no-op jobs: a host-noise witness."""
    samples = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1, numPartitions=1).write.format("noop").mode("overwrite").save()
        samples.append((time.perf_counter() - t0) * 1000.0)
    samples.sort()
    return samples[n // 2]


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
