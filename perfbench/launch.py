"""Spark settings for the benchmark's own processes.

Every Spark process the benchmark starts (the wire server and the batch
runner) gets its settings from here, so the program under test keeps
its defaults and the benchmark states what it changes:

- local[nproc]: all cores of the box, recorded with every result;
- a 3 GiB Spark JVM heap instead of the 8 GiB default, because the box's
  memory is shared;
- no console progress bar (its carriage returns swallow log lines);
- UI retention raised far above what one run produces, so the REST
  metrics of early jobs are still there when the run reads them;
- scratch and temporary files inside the run's work directory.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SUBMIT_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def child_env(workdir: str) -> dict[str, str]:
    from common import nproc

    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.path.dirname(os.path.abspath(__file__)),
                    env.get("PYTHONPATH")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    env["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in SUBMIT_CONF.items()]
        + [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
           "pyspark-shell"]
    )
    env.pop("OMP_NUM_THREADS", None)
    env["PYTHONUNBUFFERED"] = "1"
    return env


def start_spark(app: str):
    """The program's own session factory, under the settings above
    (which child_env put in the environment)."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from fossil_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark
