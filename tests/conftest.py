import json
import os
import subprocess
import sys
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        # saveAsTable (bucketed-sink tests) needs a warehouse; keep it
        # out of the repo tree (static conf — must be set at creation)
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp())
        .config("spark.sql.adaptive.enabled", "true")
        # events.parquet is TIMESTAMP(NANOS); without this every read of
        # it throws PARQUET_TYPE_ILLEGAL.  Set here (not in individual
        # test files) so single-file pytest runs don't depend on another
        # file having set it first on the shared session.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .appName("spark-df-profiling-tests")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def restore_conf(spark, snapshot):
    """Put every key of ``snapshot`` (key -> value, None = unset) back
    on ``spark``; unchanged keys (static ones among them) are skipped."""
    for k, v in snapshot.items():
        if spark.conf.get(k, None) == v:
            continue
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.fixture
def session_conf(spark):
    """Snapshot every key ``build_session`` sets on the shared session
    (``getOrCreate`` applies them to it) and restore them after."""
    from spark_df_profiling_spark.session import (
        ARROW_BATCH_ROWS, DEFAULT_CONF, SHUFFLE_PARTITIONS)
    snap = {k: spark.conf.get(k, None)
            for k in (*DEFAULT_CONF, ARROW_BATCH_ROWS, SHUFFLE_PARTITIONS)}
    yield
    restore_conf(spark, snap)


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def runner_driver_memory() -> str:
    """Driver heap for a test's own Spark runner JVM: the host RAM left
    after the session JVM's 4g heap and 4 GiB for off-heap memory,
    Python workers and the OS, clamped to 2-6 GiB.  A fixed 6g beside
    the session JVM can exhaust a small host; below 6g the local[32]
    runner spends minutes in full GCs."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(2, min(6, (total >> 30) - 8))}g"


RUNNER_TIMEOUT_S = 1500


def pytest_collection_modifyitems(items):
    """Run the tests that take ``spark_runner`` last (stable sort: the
    order is otherwise unchanged), so their queued runner JVMs overlap
    the rest of the suite instead of blocking it."""
    items.sort(key=lambda item: "spark_runner" in item.fixturenames)


@pytest.fixture(scope="session", autouse=True)
def _runner_queue(request, tmp_path_factory):
    """Background queue for the Spark runner JVMs of the selected tests.

    Some tests need a SparkContext the session fixture cannot provide
    (another master, another shuffle-partition count; one JVM allows one
    SparkContext).  Their module maps run names to ``(script, *args)``
    in ``SPARK_RUNNERS``, and the test takes the ``spark_runner``
    fixture.  A script is called as ``python -c script <driver_memory>
    <out_path> *args`` and writes JSON to ``out_path``.

    At the first test of the session, the runs of every SELECTED test
    that takes ``spark_runner`` are queued on one background thread:
    they overlap the rest of the suite, and no two runner JVMs are ever
    alive at once.  Nothing starts at import or collection time, or for
    a deselected test.  Output goes to a log file, not a pipe, so a
    chatty runner cannot block on a full pipe.
    """
    calls = {}
    for item in request.session.items:
        if "spark_runner" in item.fixturenames:
            for name, call in getattr(item.module, "SPARK_RUNNERS",
                                      {}).items():
                calls[(item.module.__name__, name)] = call
    dirs = {key: tmp_path_factory.mktemp("runner") for key in calls}
    lock, live, stop = threading.Lock(), [], threading.Event()

    def run(key, script, *args):
        out, log = dirs[key] / "out.json", dirs[key] / "runner.log"
        with open(log, "w") as fh:
            with lock:
                if stop.is_set():
                    raise RuntimeError(f"runner {key} not started: "
                                       f"the session ended")
                # lowest CPU priority: the runner soaks up the cores the
                # latency-bound suite leaves idle instead of slowing it
                proc = subprocess.Popen(
                    ["nice", "-n", "19", sys.executable, "-c", script,
                     runner_driver_memory(), str(out), *args],
                    stdout=fh, stderr=subprocess.STDOUT)
                live.append(proc)
            try:
                proc.wait(timeout=RUNNER_TIMEOUT_S)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
                with lock:
                    live.remove(proc)
        if proc.returncode != 0:
            raise RuntimeError(
                f"runner {key} failed:\n{log.read_text()[-3000:]}")
        return json.loads(out.read_text())

    pool = ThreadPoolExecutor(max_workers=1)  # one runner JVM at a time
    try:
        yield {key: pool.submit(run, key, *call)
               for key, call in calls.items()}
    finally:
        with lock:
            stop.set()
            for proc in live:
                proc.kill()
        pool.shutdown(wait=True, cancel_futures=True)


@pytest.fixture
def spark_runner(request, _runner_queue):
    """JSON results of this module's ``SPARK_RUNNERS`` runs, by name;
    a failed run raises here with the tail of its log."""
    mod = request.module
    return {name: _runner_queue[(mod.__name__, name)].result(
        timeout=len(_runner_queue) * RUNNER_TIMEOUT_S)
        for name in mod.SPARK_RUNNERS}
