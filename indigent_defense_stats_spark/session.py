"""SparkSession factory tuned for the crawl/analytics workload.

Local-mode testing uses ``local[N]``; the same builder config is what a
``spark-submit --py-files`` deployment on a multi-executor cluster
would carry in ``spark-defaults.conf``.  The settings below are the
scale-relevant ones:

- AQE on (+ skew-join splitting) — large-county skew (the reference's
  only active county, Hays, dominates its registry:
  /root/reference/resources/texas_county_data.csv) reappears at
  10^10-URL scale as host-key skew in the frontier shuffle.
- Arrow enabled with a capped batch size so the vectorized parse
  (mapInArrow over span sequences) keeps bounded executor memory even
  for pathological documents.
- shuffle partitions default to a small-cluster value; callers running
  at scale override via ``shuffle_partitions`` (rule of thumb: 2-3x
  total executor cores, or let AQE coalesce from a high initial count).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
DEFAULT_ARROW_BATCH = 2_000


def get_spark(
    app_name: str = "indigent-defense-stats-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    # Make this package importable on executor Python workers regardless
    # of the driver's cwd — the local-mode analog of shipping the package
    # with ``spark-submit --py-files`` (the deployment mode in
    # BASELINE.json north_rule).  Must happen before the JVM launches.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        pypath = pkg_root + (os.pathsep + pypath if pypath else "")
        os.environ["PYTHONPATH"] = pypath
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(DEFAULT_ARROW_BATCH),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scan tuning: 128 MiB splits keep ~100 TB inputs at
        # ~800k tasks — fine for a 1000-executor cluster's scheduler.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.PYTHONPATH", pypath)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
