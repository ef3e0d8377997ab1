"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every default here is chosen to also
be sane on a multi-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (pandas-UDF batches are the only
Python hot path), UTC session timezone (oracle comparability).

Python workers fork from the package daemon ``datafusion_spatial_spark._daemon``
(``spark.python.daemon.module``). Every Python task calls
``importlib.invalidate_caches()``; on CPython < 3.12 that eagerly re-reads
the central directory of ``pyspark.zip`` once per zipimporter — 14–16 of
them, one per pyspark subpackage plus the py4j zip — about 0.14 s per worker
per task, paid by every WKB ST_* call and join refine. The daemon re-reads an
archive only when it changed. Workers must therefore be able to import this
package (the UDF bodies import its kernels, so they already had to); pass
``{"spark.python.daemon.module": "pyspark.daemon"}`` through ``extra_confs``
to run the stock daemon. The daemon deliberately does not preload
pandas/pyarrow before forking: that could move the workers' peak RSS.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    # AQE: coalesce small shuffle partitions, split skewed ones, re-plan
    # joins at runtime. Essential at 100 TB, harmless at sf0.001.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for every pandas UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamps vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Parquet INT64 TIMESTAMP(NANOS) (e.g. the events table) is otherwise
    # unreadable by Spark; read as long and convert in sources.tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Quiet, non-interactive local runs.
    "spark.ui.enabled": "false",
    # Python workers fork from the package daemon: it keeps the per-task
    # importlib.invalidate_caches() from re-reading pyspark.zip (_daemon).
    "spark.python.daemon.module": "datafusion_spatial_spark._daemon",
}


def get_spark(
    app_name: str = "datafusion_spatial_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` — on a real
    cluster the caller passes its own master / uses spark-submit and this
    function only layers confs onto the builder.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    resolved_master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(resolved_master)
    # In local mode every task thread shares the driver JVM heap; Spark's
    # 1g default starves 32 concurrent sort/aggregate tasks (observed:
    # GCLocker retry failures under suite pressure, heap OOM in a 32-task
    # external sort at 10x data). Only layered when the caller/submitter
    # hasn't set it (spark-submit's value wins because the JVM is already
    # up by the time getOrCreate sees this conf), and only for local
    # masters — cluster deployments size the driver themselves and a
    # blanket 12g could over-commit small client hosts (r8 advice fix).
    if resolved_master.startswith("local"):
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
        )
    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    confs = dict(DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(n_shuffle)
    confs.update(extra_confs or {})
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
