"""SparkSession factory.

Local-mode friendly but cluster-shaped: AQE enabled (runtime coalesce +
skew-join handling), explicit shuffle partitioning (sized to cores, not
the 200 default), Arrow enabled for every pandas boundary, UTC session
timezone so timestamp semantics match the DuckDB oracle.

Python workers: every session runs its Python tasks through the
repo-root module ``pyspark_graft_worker`` (``spark.python.worker.module``).
Before each task PySpark calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:144``), and on CPython 3.11 that makes every
zipimporter re-read its whole archive: 16 re-reads of ``pyspark.zip``,
about 0.25 CPU-s, per task of a reused worker. The module makes a reused
worker re-read an archive only when the file changed. Its name must
start with ``pyspark``, because ``pyspark/daemon.py`` ignores any other
worker module. The repo root goes first on the workers' ``PYTHONPATH``
(the executor environment ``spark.executorEnv.PYTHONPATH`` seeds), so
they import the module and this package whatever the caller's working
directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: the directory holding this package and the Python worker module
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_MODULE = "pyspark_graft_worker"


def get_spark(
    app_name: str = "movie-rankings-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Honors the driver-harness env vars:
      SPARK_GRAFT_CPUS  — local[] core count (default: all cores)
      SPARK_DRIVER_MEMORY — driver heap (local mode = the only heap)
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(DEFAULT_SHUFFLE_PARTITIONS))
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level filtering: when one join side is small and
        # selective, inject a bloom filter of its join keys into the big
        # side's scan (semi-join reduction without a broadcast). The
        # default size thresholds (10MB creation / 10GB application
        # side) only fire at real scale; tests/test_plan_shapes.py pins
        # the injection with the thresholds lowered.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # On Spark builds where TIMESTAMP(NANOS) parquet is rejected,
        # surface it as raw nanos BIGINT (catalog._load_events then
        # truncates to micros). Inert on 4.1+, which reads NANOS
        # natively as micro-truncated TIMESTAMP_NTZ.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.worker.module", WORKER_MODULE)
    )
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    # Every Python function ships sc.environment to its workers. Spark
    # seeds it from spark.executorEnv.* of every conf source, and the
    # worker factory appends its own PYTHONPATH (with _ensure_protobuf's
    # vendor path). Extend it after launch: setting the conf would replace
    # a value set through spark-submit or spark-defaults.conf.
    paths = sc.environment.get("PYTHONPATH", "").split(os.pathsep)
    if REPO_ROOT not in paths:
        sc.environment["PYTHONPATH"] = os.pathsep.join(
            p for p in (REPO_ROOT, *paths) if p
        )
    return spark
