"""Process set-up for the benchmark: environment, fixtures and the session.

Everything the run writes goes under ``perfbench/.work`` in the checkout:
fixtures, Spark local dirs, temp files and the ETL targets. The engine
package is imported from the checkout root, which is also put on
``PYTHONPATH`` so Spark's Python workers can import it from any working
directory.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(WORK, "data")
# The JVM's temp dir is kept apart from Python's TMPDIR, so files a query
# writes through Python's tempfile are not confused with the JVM's own.
JVM_TMP = os.path.join(WORK, "jvm-tmp")

# Engine settings read from the environment; the benchmark pins them so a
# caller's environment cannot change what is measured.
_PINNED_ENV = {
    "TZ": "UTC",
    "SPARK_GRAFT_DRIVER_MEM": "3g",
    "SPARK_GRAFT_SHUFFLE": "32",
    "PYSPARK_PYTHON": sys.executable,
    "PYSPARK_DRIVER_PYTHON": sys.executable,
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Pin the environment before pyspark is imported."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp, JVM_TMP):
        os.makedirs(d, exist_ok=True)
    os.environ.update(_PINNED_ENV)
    os.environ.update(
        {
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_LOCAL_DIR": local,
            "SPARK_GRAFT_CPUS": str(cores()),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (REPO, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    time.tzset()
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def start_session():
    """The engine's own session factory on ``local[<cores>]``."""
    from extract_transform_load_template_multidb_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={JVM_TMP}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def fixtures_dir(sf: float) -> str:
    from fixtures import ensure

    return ensure(DATA, sf)


class StageStats:
    """Jobs, stages, tasks and task metrics of one job group, read from the
    status store (populated with the UI disabled)."""

    FIELDS = (
        "jobs",
        "stages",
        "tasks",
        "executor_cpu_s",
        "executor_run_s",
        "gc_s",
        "shuffle_write_bytes",
        "spill_bytes",
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def end(self, group: str) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["jobs"] = len(jobs)
        store = self._jsc.statusStore()
        statuses = self._jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        for sid in stage_ids:
            try:
                attempts = store.stageData(sid, False, statuses, False, quantiles)
            except Exception:  # noqa: BLE001 — skipped stages have no data
                continue
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += d.numCompleteTasks()
                out["executor_cpu_s"] += d.executorCpuTime() / 1e9
                out["executor_run_s"] += d.executorRunTime() / 1e3
                out["gc_s"] += d.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return out
