"""The pinned run environment and the Spark session the benchmark owns.

Pinned here, not in ``ocr_spark/session.py`` (whose defaults assume
``local[32]`` and a 24g heap): the master is ``local[k]`` with k the
usable cores, the heap is DRIVER_MEMORY, every scratch dir is inside
the checkout, the Python workers get the checkout on PYTHONPATH, and
Spark's console progress bar is off.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import SparkConf, SparkContext
from pyspark.sql.pandas.types import to_arrow_schema

from ocr_spark import job, schemas
from ocr_spark.session import build_session
from ocr_spark.sources import synth

from .common import ROOT, SCRATCH, quiet

DRIVER_MEMORY = "3g"
WARM_INPUT = os.path.join(SCRATCH, "warm-input")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> int:
    """Sweep stale scratch, pin the environment the driver JVM and the
    Python workers inherit, and send stdout to stderr. Returns a file
    descriptor on the original stdout, for the result line."""
    shutil.rmtree(SCRATCH, ignore_errors=True)
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(SCRATCH, d))
    pypath = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(pypath),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(SCRATCH, "local"),
        "TMPDIR": os.path.join(SCRATCH, "tmp"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
    })
    result_fd = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)  # the JVM, the workers and job.main's summary -> stderr
    return result_fd


def spark_conf(k: int) -> dict:
    tmp = os.path.join(SCRATCH, "tmp")
    return {
        "spark.master": f"local[{k}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(SCRATCH, "local"),
        "spark.sql.warehouse.dir": os.path.join(SCRATCH, "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
    }


def write_warm_input() -> None:
    """A few rows of each corpus, built in-process (no Spark yet)."""
    rows = ([synth.make_row(i, "cc") for i in range(16)]
            + [synth.make_web_row(i) for i in range(8)])
    os.makedirs(WARM_INPUT)
    pq.write_table(pa.Table.from_pylist(
        rows, schema=to_arrow_schema(schemas.INPUT_SCHEMA)),
        os.path.join(WARM_INPUT, "part-0.parquet"))


class Session:
    """A local[k] session whose JVM this object launches and reaps."""

    def __init__(self, k: int):
        self.k = k
        self.spark = None
        self.jvm_start_s = self.worker_warm_s = 0.0

    def start(self, t0: float) -> float:
        """Launch the JVM and the session, then warm the Python worker
        pool with one job.main pass over WARM_INPUT. Returns the
        seconds since ``t0``."""
        conf = spark_conf(self.k)
        SparkContext._ensure_initialized(
            conf=SparkConf().setAll(list(conf.items())))
        self.spark = build_session("perfbench", master=conf["spark.master"],
                                   shuffle_partitions=self.k,
                                   extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        quiet(job.main, ["--input", WARM_INPUT, "--table",
                         os.path.join(SCRATCH, "warm-table")],
              spark=self.spark)
        t2 = time.perf_counter()
        self.jvm_start_s, self.worker_warm_s = t1 - t0, t2 - t1
        print(f"perfbench: setup {t2 - t0:.3f} s (session {t1 - t0:.3f} s, "
              f"worker warm-up {t2 - t1:.3f} s)", file=sys.stderr)
        return t2 - t0

    def stop(self) -> None:
        """Stop the session and the gateway JVM, and wait for the JVM."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
