"""SparkSession factory with scale-appropriate defaults.

The defaults here are the ones we would ship for a multi-executor
cluster run via ``spark-submit --py-files``: AQE on (dynamic
coalescing + skew-join splitting), Arrow enabled for every pandas UDF
boundary, and shuffle partitions sized by the caller (tests use the
local core count; a 1000-executor run would use 2-3x total cores).

Python workers start from the package's own daemon,
``ferenda_spark.pyworker``: pyspark's daemon re-reads ``pyspark.zip``'s
directory about 16 times before every Python task (0.15-0.2 s of CPU per
task on Python 3.11, whatever its row count), and the package daemon
skips the re-read of an archive that has not changed. Every
``mapInPandas`` and pandas UDF runs in those workers. The daemon starts
before any task ships its ``--py-files``, so the package's parent
directory (or the zip the driver imported the package from) goes on the
workers' ``PYTHONPATH``; on a cluster, install the package on the
executors or ship it with ``--py-files`` as well.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# the directory (or zip) the package imports from
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "ferenda-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in this
    sandbox; on a real cluster the caller omits it and lets
    spark-submit decide.
    """
    # imported here, not at module level, so that the package's own
    # import does not load the module ``python -m`` runs as the daemon
    from ferenda_spark import pyworker

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of small shuffle partitions and
        # automatic skew-join splitting — both essential at 100TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDF boundaries; modest batch size because
        # rows carry whole HTML blobs (large values per row).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # Broadcast threshold: entity/slug/template dims are tiny;
        # 64MB leaves headroom for a hot-key list at full scale.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # UTC everywhere: naive parquet timestamps must mean the same
        # instant on every executor (and match ANSI-SQL oracles).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # no progress bar: on stderr it glues onto the OK/FAIL result
        # lines the tools print when the two streams are merged
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.daemon.module", pyworker.__name__)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
