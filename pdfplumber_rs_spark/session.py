"""One local Spark session for the bench and check scripts and the tests.

`local_session` sizes the session to the host it runs on: `local[N]`
over the cores this process may use, and spark.driver.memory the
smaller of 24g and half of physical memory. SPARK_GRAFT_CPUS and
SPARK_GRAFT_MEM replace those host defaults; explicit arguments and
keyword conf replace everything. A cluster job takes its master and
resources from spark-submit instead (scripts/submit_job.py).
"""

from __future__ import annotations

import os

MAX_DRIVER_MIB = 24 * 1024


def session_conf(cpus: int | None = None, mem: str | None = None,
                 master: str | None = None, **conf: str) -> dict[str, str]:
    """The settings `local_session` starts Spark with, resolved without
    starting a JVM. Keys of `conf` are Spark settings and win over the
    defaults."""
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(env) if env else len(os.sched_getaffinity(0))
    if mem is None:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        mem = (os.environ.get("SPARK_GRAFT_MEM")
               or f"{min(MAX_DRIVER_MIB, phys // 2 // 2**20)}m")
    return {
        "spark.master": master or f"local[{cpus}]",
        "spark.driver.memory": mem,
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.ui.enabled": "false",
        **conf,
    }


def local_session(app: str, cpus: int | None = None, mem: str | None = None,
                  master: str | None = None, **conf: str):
    """Get or create the process's SparkSession with `session_conf`'s
    settings and the log level at ERROR. `master` is only for
    `local-cluster[...]` runs; `local[cpus]` is the default."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(app)
    for key, value in session_conf(cpus, mem, master, **conf).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
