"""Checkout-local Spark environment, session set-up timing and shutdown.

Everything Spark, the JVM and the Python workers write goes under
``<checkout>/.perfbench_work``.  The session is the program's own
``graby_spark.session.get_spark``; the benchmark only redirects scratch
paths and turns off console progress bars.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def check_checkout() -> None:
    """Fail fast (before any Spark start) when the program is not beside
    the benchmark."""
    missing = [p for p in ("graby_spark", "fixtures") if not os.path.isdir(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"perfbench: program files missing from the checkout: {missing}")


def prepare_env() -> None:
    """Point every scratch location of Spark, the JVM and Python at a fresh
    WORK directory."""
    if os.path.isdir(WORK):
        shutil.rmtree(WORK)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # ship_package zips into gettempdir()
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # no console progress bars on stderr
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # derby.log / spark-warehouse land in the cwd
    os.chdir(WORK)


def start_session():
    """``get_spark`` plus the first tiny extraction action: JVM start,
    Python worker fork and ``ship_package``.  Returns
    ``(spark, get_spark_s, first_extract_s)``."""
    from graby_spark.job import run_extraction
    from graby_spark.pages import pages_ruleset
    from graby_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    tiny = spark.createDataFrame(
        [("http://setup.example.com/a", b"<html><body><p>set up</p></body></html>")],
        "url string, html binary",
    ).coalesce(1)
    rows = run_extraction(
        spark, tiny, pages_ruleset(), repartition=False, columns=["url", "is_success"]
    ).collect()
    t2 = time.perf_counter()
    if len(rows) != 1 or not rows[0]["is_success"]:
        raise RuntimeError(f"set-up extraction failed: {rows}")
    return spark, t1 - t0, t2 - t1


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit (its Python workers
    exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a hung JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_gone(pids) -> None:
    """Wait up to 20 s until none of ``pids`` is alive (the JVM's Python
    workers), then kill the rest."""
    deadline = time.monotonic() + 20.0
    pending = set(pids)
    while pending and time.monotonic() < deadline:
        pending = {p for p in pending if os.path.exists(f"/proc/{p}")}
        if pending:
            time.sleep(0.1)
    for pid in pending:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
