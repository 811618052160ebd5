"""SparkSession factory with scale-oriented defaults.

Defaults chosen for correctness *and* large-cluster behavior:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition number is always wrong; AQE re-plans from actual map
  output sizes.
- Arrow on — every Pandas UDF / ``applyInPandas`` round-trip is
  Arrow-batched, never pickled row-at-a-time.
- Session timezone pinned to UTC so timestamp semantics are stable across
  drivers/executors and match the DuckDB oracle.
- ``parquet.filterPushdown`` / vectorized reader are Spark defaults; we keep
  them explicit here as documentation of the intended scan behavior.
- Python workers fork from ``pydaemon`` on ``local`` masters: PySpark
  calls ``importlib.invalidate_caches()`` per task, and before Python
  3.13 each zipimporter then re-reads its archive (``pyspark.zip``, the
  py4j zip, the spark-core jar): 183-199 ms of CPU per task on Python
  3.11, 0.13-0.16 ms with the daemon, which re-reads an archive only
  when its mtime or size changed (3.13+ reads lazily, so there it
  patches nothing). It is local-only because local workers start in the
  driver's cwd with its ``PYTHONPATH``, and is set only when those
  import this package; a cluster executor may see the package only
  through per-task ``--py-files``, after the daemon has started.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
PYTHON_DAEMON_MODULE = "eeecs485_p4_mapreduce_spark.pydaemon"
_PACKAGE_ROOT = Path(__file__).resolve().parent.parent


def get_spark(
    app_name: str = "eeecs485-p4-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``$SPARK_GRAFT_MASTER`` if set, else
    ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``). Under spark-submit,
    set ``SPARK_GRAFT_MASTER=""`` (empty) so the builder never calls
    ``.master()`` and the cluster manager supplied by spark-submit wins.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = SparkSession.builder.appName(app_name)
    if master:  # empty string = defer to spark-submit's cluster manager
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # events.parquet stores TIMESTAMP(NANOS), which Spark's reader
        # rejects; read as long and convert in catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    worker_path = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    for key, value in {**_daemon_conf(master, worker_path), **(extra_conf or {})}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    _quiet_bounded_window_warnings(spark)
    return spark


def _daemon_conf(master: str, worker_path: list[str]) -> dict[str, str]:
    """The Python worker daemon conf: set for ``local`` and ``local[N]``
    masters (see the module docstring) whose workers can import this
    package, i.e. its root is on ``worker_path``, the driver's cwd and
    ``PYTHONPATH`` that local workers start with. A driver that imports
    the package some other way keeps PySpark's stock daemon."""
    local = master == "local" or master.startswith("local[")
    if local and _PACKAGE_ROOT in {Path(p).resolve() for p in worker_path if p}:
        return {"spark.python.daemon.module": PYTHON_DAEMON_MODULE}
    return {}


def _quiet_bounded_window_warnings(spark: SparkSession) -> None:
    """Raise WindowExec's log level to ERROR for this JVM.

    The only partition-less windows in the registry run over
    aggregate-bounded inputs (hour buckets, vocab tables, bucket
    prefixes) — proven systemically by
    ``tests/test_sources_plans.py::test_no_unpartitioned_fact_windows``,
    which statically rejects any unpartitioned window whose subtree
    reaches a scan before an aggregate/limit. WindowExec still logs its
    "Moving all data to a single partition" warning for them (the
    warning keys on an empty partition spec alone, and a constant
    partition key is folded away), flooding bench tails and burying real
    warnings. With the plan gate as the actual guard, the blanket
    warning is noise; genuine regressions fail CI instead of logging."""
    try:
        jvm = spark.sparkContext._jvm  # type: ignore[attr-defined]
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # noqa: BLE001 — logging hygiene must never break a session
        pass
