"""The pinned deployment: where Spark keeps its files, how much heap it
gets, how many cores it uses, and the benchmark-owned Spark configuration
(quiet logging, and the event log for traced runs).

Everything lives under ``<checkout>/.bench_work``.  Program files are not
touched: ``session.get_spark`` reads the core count, local dirs and driver
heap from the environment set here, and Spark reads the rest from the
generated ``SPARK_CONF_DIR``.  The event log is configured there but off;
a traced run turns it on for its second Spark context.
"""

from __future__ import annotations

import os

#: driver heap.  ``session.get_spark`` defaults to 24g, more than a 15 GB
#: machine has; local mode runs the executors inside the driver JVM.
DRIVER_MEM = "4g"

_LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure(root: str, work: str) -> dict:
    """Set the environment for ``session.get_spark`` (and for the Python
    workers, which import the program from ``root``) and return the
    deployment record printed with the results."""
    conf_dir = os.path.join(work, "conf")
    local_dir = os.path.join(work, "spark-local")
    tmp_dir = os.path.join(work, "tmp")
    event_dir = os.path.join(work, "eventlog")
    for d in (conf_dir, local_dir, tmp_dir, event_dir):
        os.makedirs(d, exist_ok=True)
    defaults = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
        "spark.eventLog.dir": "file://" + event_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in defaults.items())
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as f:
        f.write(_LOG4J)
    n = cores()
    env = {
        "SPARK_CONF_DIR": conf_dir,
        "SPARK_LOCAL_DIRS": local_dir,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(n),
        "TMPDIR": tmp_dir,
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    return {
        "cores": n,
        "master": f"local[{n}]",
        "SPARK_LOCAL_DIRS": os.path.relpath(local_dir, root),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
    }
