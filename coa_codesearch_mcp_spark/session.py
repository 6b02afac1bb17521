"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the configs below are the ones
that matter at cluster scale too (AQE, adaptive skew join, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

WORKER_DAEMON = "coa_codesearch_mcp_spark.worker_daemon"
STOCK_DAEMON = "pyspark.daemon"


def python_daemon_module(
    master: str, cwd: str | None = None, pythonpath: str | None = None
) -> str:
    """The ``spark.python.daemon.module`` for a session on ``master``.

    The package's worker daemon (see ``worker_daemon``) when the master
    is ``local[...]`` and the package's parent directory is on the
    daemon's import path: the working directory the JVM launches it
    from (``cwd``, default the current one) or an entry of
    ``PYTHONPATH`` (default the current environment's), both of which
    the daemon inherits. The daemon starts before any ``--py-files``
    reach a worker, so everywhere else (a cluster master, or a package
    only shipped as a zip) it is Spark's stock daemon."""
    if master != "local" and not master.startswith("local["):
        return STOCK_DAEMON
    if pythonpath is None:
        pythonpath = os.environ.get("PYTHONPATH", "")
    parent = os.path.realpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    paths = [cwd or os.getcwd()] + [p for p in pythonpath.split(os.pathsep) if p]
    if any(os.path.realpath(p) == parent for p in paths):
        return WORKER_DAEMON
    return STOCK_DAEMON


def get_spark(
    app_name: str = "coa_codesearch_mcp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or all cores).
    ``shuffle_partitions`` defaults to the core count — at cluster
    scale you would size this to ~2-3x total executor cores instead.
    Python workers start from ``python_daemon_module(master)``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        n = cpus or os.cpu_count() or 8
        shuffle_partitions = int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE size-coalesce INSIDE cached plans too: a cached
        # relation otherwise materializes with the static
        # shuffle-partition count, so every scan of a small cached
        # index pays tasks proportional to the cluster, not the data
        # (scale-adaptive partitioning, guide §2.2)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # InferFiltersFromGenerate duplicates Python UDFs: exploding a
        # UDF-produced array infers a size()>0 pre-filter whose pushed
        # copy re-evaluates the UDF below the exchange (guide §4.4's
        # double-BatchEvalPython shape — seen on the embedding
        # posexplode). Generate itself already skips empty/null arrays
        # when outer=false, so the inferred filter buys nothing here.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", python_daemon_module(master))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
