"""Pinned engine configuration, session start and shutdown.

Everything the engine, Spark and Python write goes under one scratch
directory inside the working directory, which is removed at exit.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "lineage_store_database_management_system_spark"

# Driver heap for local mode: the engine's own default (48g) exceeds
# small hosts, and every workload here fits in 2g.
DRIVER_MEM = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pinned_conf(trace: bool) -> dict[str, str]:
    """Engine config every run uses; the Spark UI (and its REST status
    store) is on only for traced runs."""
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update(
            {
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    return conf


class Scratch:
    """Per-run scratch directory under the working directory; Python's
    and the JVM's temp files go there too."""

    def __init__(self, root: str):
        os.makedirs(root, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="run-", dir=root)
        self.tmp = os.path.join(self.path, "tmp")
        os.makedirs(self.tmp)
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp

    def sub(self, name: str) -> str:
        return tempfile.mkdtemp(prefix=f"{name}-", dir=self.path)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start(scratch: Scratch, trace: bool, app: str):
    """Start the pinned session; returns (spark, seconds taken)."""
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = scratch.tmp
    from lineage_store_database_management_system_spark import get_spark

    n = cores()
    conf = pinned_conf(trace)
    conf["spark.local.dir"] = scratch.tmp
    conf["spark.sql.warehouse.dir"] = os.path.join(scratch.path, "warehouse")
    conf["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={scratch.tmp} -Dderby.system.home={scratch.tmp} -XX:-UsePerfData"
    )
    t0 = time.perf_counter()
    spark = get_spark(app_name=app, cpus=n, shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def engine_thresholds() -> dict:
    """The engine's flush and compaction thresholds, as run."""
    from lineage_store_database_management_system_spark import LineageTable

    return {
        "FLUSH_THRESHOLD": LineageTable.FLUSH_THRESHOLD,
        "AUTO_COMPACT_TAIL_ROWS": LineageTable.AUTO_COMPACT_TAIL_ROWS,
        "AUTO_COMPACT_TAIL_FILES": LineageTable.AUTO_COMPACT_TAIL_FILES,
    }
