"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same conf scales to a cluster —
AQE handles runtime re-planning (skew joins, partition coalescing),
shuffle partitions default to cores locally but should be ~2-3x total
executor cores on a real cluster (or left to AQE's initial value).

Streaming checkpoints: `get_spark` sets
``spark.sql.streaming.checkpointFileManagerClass`` to Spark's
``FileSystemBasedCheckpointFileManager``. pip-installed pyspark has no
libhadoop, so Hadoop's local file system shells out. Spark's default
``FileContextBasedCheckpointFileManager`` renames each checkpoint file
through ``FileContext.rename``, whose link-status checks fork
``readlink`` 8 times per atomic write (plus 2 ``chmod``). At about 11
writes per trigger (offset, commit and source logs; a state delta and a
checksum file per partition) that was about 88 ``readlink`` processes
per trigger: 5,304 in a 60-trigger ``ktable_stream`` run, and most of
the state-commit and WAL time. The FileSystem manager renames with
``FileSystem.rename`` (``File.renameTo``) and forks none; on ``file:``
both managers check the destination is absent, then make one POSIX
``rename(2)``, and Spark's state checksum files and Hadoop's ``.crc``
files are still written and verified. Sessions built elsewhere (a plain
``SparkSession.builder``, spark-submit on a cluster) keep Spark's default
FileContext manager, the atomic rename-if-absent one on HDFS. The 2
``chmod`` forks per created file remain with either manager: they come
from ``RawLocalFileSystem.setPermission`` without NativeIO.
"""

from __future__ import annotations

import os
import zipimport

from pyspark.sql import SparkSession


def _archive_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def skip_unchanged_zip_reloads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    central directory only when the archive changed since that importer
    last read it (its ``(st_ino, st_mtime_ns, st_size)`` differs).

    Spark's Python worker calls ``importlib.invalidate_caches()`` at the
    start of EVERY task (``worker_util.setup_spark_files``). On CPython
    3.11 that re-reads the whole directory of each cached zipimporter: a
    worker holds 16 (pyspark.zip and its subpackage paths, the Spark
    core jar on its PYTHONPATH, py4j), 120-195 ms per task whatever the
    data size: a large share of ``rate_limit_stream``'s per-trigger
    floor.

    Importing ``kspp_spark`` runs this, so it covers the driver and every
    worker that unpickles a UDF referencing a kspp_spark module global,
    from that worker's next task on. An importer carries no key until
    its first read under the wrapper, so that first call still re-reads;
    a missing archive always re-reads (the original then drops it).
    Idempotent."""
    reload = zipimport.zipimporter.invalidate_caches
    if getattr(reload, "_kspp_skips_unchanged", False):
        return

    def invalidate_caches(self) -> None:
        # stat before the read: a change during the read shows next call
        key = _archive_key(self.archive)
        if key is None or key != getattr(self, "_kspp_archive_key", None):
            reload(self)
            self._kspp_archive_key = key

    invalidate_caches._kspp_skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


skip_unchanged_zip_reloads()


def prometheus_metrics_conf() -> dict[str, str]:
    """Spark confs exposing the Prometheus scrape surface: driver
    /metrics/prometheus (PrometheusServlet), per-executor metrics via
    the UI endpoint, and streaming progress metrics. Returned as a dict
    so cluster submitters (spark-submit --conf) and get_spark share one
    definition."""
    return {
        "spark.ui.prometheus.enabled": "true",
        "spark.metrics.conf.*.sink.prometheusServlet.class": (
            "org.apache.spark.metrics.sink.PrometheusServlet"
        ),
        "spark.metrics.conf.*.sink.prometheusServlet.path": (
            "/metrics/prometheus"
        ),
        "spark.sql.streaming.metricsEnabled": "true",
    }


def get_spark(
    app_name: str = "kspp_spark",
    shuffle_partitions: int | None = None,
    metrics_prometheus: bool = False,
) -> SparkSession:
    """`metrics_prometheus=True` enables the Prometheus scrape surface
    the reference exposes via its prometheus_pushgateway_utils
    (METRICS.md maps kspp's metric names to Spark's): the driver serves
    executor + streaming metrics at /metrics/prometheus on the Spark UI
    port — the standard cluster observability wiring, opt-in because it
    forces the UI on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "true" if metrics_prometheus else "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.parquet carries TIMESTAMP(NANOS); read as long
        # and convert in io.load (Spark has no native nanos type).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark's default FileContext checkpoint manager forks `readlink`
        # 8 times per checkpoint file without libhadoop (about 88 per
        # trigger); this one renames with File.renameTo and forks none.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    if metrics_prometheus:
        for k, v in prometheus_metrics_conf().items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
