"""Session-factory conf wiring (observability opt-in, the streaming
checkpoint file manager and the state checksums it keeps) and the
per-task zip-directory reload guard that importing kspp_spark installs.

Parity target: the reference pushes metrics through
prometheus_pushgateway_utils (utils/prometheus_pushgateway_utils.h);
Spark's native equivalent is the PrometheusServlet scrape endpoint —
METRICS.md maps the metric names. These tests pin that get_spark's
opt-in flag actually submits those confs (monkeypatched builder: a
second real session can't be created inside the suite, and getOrCreate
on an existing one silently drops static confs).
"""

import os
import sys
import zipfile
import zipimport

import kspp_spark.session as session_mod
from kspp_spark.session import prometheus_metrics_conf, skip_unchanged_zip_reloads


def test_prometheus_conf_mapping():
    conf = prometheus_metrics_conf()
    assert conf["spark.ui.prometheus.enabled"] == "true"
    assert (
        conf["spark.metrics.conf.*.sink.prometheusServlet.class"]
        == "org.apache.spark.metrics.sink.PrometheusServlet"
    )
    assert (
        conf["spark.metrics.conf.*.sink.prometheusServlet.path"]
        == "/metrics/prometheus"
    )
    assert conf["spark.sql.streaming.metricsEnabled"] == "true"


class _FakeContext:
    def setLogLevel(self, level):
        pass


class _FakeSession:
    sparkContext = _FakeContext()


class _FakeBuilder:
    def __init__(self, record):
        self._record = record

    def master(self, m):
        return self

    def appName(self, n):
        return self

    def config(self, k, v):
        self._record[k] = v
        return self

    def getOrCreate(self):
        return _FakeSession()


def _confs_submitted(monkeypatch, **kwargs):
    record = {}

    class _FakeSparkSession:
        builder = _FakeBuilder(record)

    monkeypatch.setattr(session_mod, "SparkSession", _FakeSparkSession)
    session_mod.get_spark("conf_probe", **kwargs)
    return record

def test_get_spark_submits_prometheus_confs(monkeypatch):
    record = _confs_submitted(monkeypatch, metrics_prometheus=True)
    for k, v in prometheus_metrics_conf().items():
        assert record[k] == v
    # the servlet serves through the UI — flag must force the UI on
    assert record["spark.ui.enabled"] == "true"


def test_get_spark_default_leaves_metrics_off(monkeypatch):
    record = _confs_submitted(monkeypatch)
    assert "spark.ui.prometheus.enabled" not in record
    assert record["spark.ui.enabled"] == "false"


def test_zip_reload_skipped_while_archive_unchanged(tmp_path, monkeypatch):
    """invalidate_caches() re-reads an archive's directory only when the
    archive changed since that importer's last read; installing twice
    keeps the one wrapper."""
    guard = zipimport.zipimporter.invalidate_caches
    skip_unchanged_zip_reloads()
    assert zipimport.zipimporter.invalidate_caches is guard

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("old_mod.py", "X = 1\n")
    monkeypatch.delitem(zipimport._zip_directory_cache, archive, raising=False)
    importer = zipimport.zipimporter(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importer.invalidate_caches()  # no key yet: reads and records one
    importer.invalidate_caches()
    assert reads == [archive]
    assert importer.find_spec("new_mod") is None

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("old_mod.py", "X = 1\n")
        z.writestr("new_mod.py", "Y = 2\n")
    importer.invalidate_caches()
    assert reads == [archive, archive]
    assert importer.find_spec("new_mod") is not None
    zipimport._zip_directory_cache.pop(archive, None)


def test_zip_reload_guard_reaches_python_workers(spark):
    """A UDF that references a kspp_spark module global installs the
    guard in its Python worker when unpickled, so on a reused worker the
    per-task importlib.invalidate_caches() stops re-reading pyspark.zip,
    the Spark jar and py4j: from the worker's third task on, zero
    directory reads. Each task reports the reads made since the previous
    task on its worker (the idle-worker queue rotates, so jobs run until
    one worker has been seen three times)."""
    import pandas as pd

    def probe(batches):
        assert prometheus_metrics_conf  # a kspp_spark global
        seen = getattr(zipimport, "_probe_reads", None)
        if seen is None:
            read_directory = zipimport._read_directory

            def counting(path):
                zipimport._probe_reads += 1
                return read_directory(path)

            zipimport._read_directory = counting
        zipimport._probe_reads = 0
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "reads": [-1 if seen is None else seen],
            "archives": [sum(isinstance(f, zipimport.zipimporter)
                             for f in sys.path_importer_cache.values())],
            "guarded": [getattr(zipimport.zipimporter.invalidate_caches,
                                "_kspp_skips_unchanged", False)],
        })

    one_task = spark.range(1).coalesce(1)
    schema = "pid long, reads long, archives long, guarded boolean"
    tasks = {}
    for _ in range(40):
        r = one_task.mapInPandas(probe, schema).collect()[0]
        tasks.setdefault(r.pid, []).append(r)
        if len(tasks[r.pid]) == 3:
            break
    worker = tasks[r.pid]
    assert len(worker) == 3, "no Python worker was reused three times"
    assert all(t.guarded for t in worker)
    assert worker[2].archives > 0
    assert worker[2].reads == 0


def test_get_spark_checkpoints_through_filesystem_manager(spark, tmp_path):
    """Streaming checkpoint files go through Spark's FileSystem-based
    manager (File.renameTo, no forked `readlink` per rename), resolved
    the way the streaming engine resolves it: from the session's Hadoop
    conf."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_state_checksums_survive_the_checkpoint_manager(spark, tmp_path):
    """After a 2-trigger ktable_stream run the state dir of every
    partition still holds Spark's per-version checksum files
    (`<v>.delta.crc`) and Hadoop's `.crc` of each delta file."""
    import datetime

    from kspp_spark.streaming.core import ktable_stream

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    sch = "key string, value long, event_time timestamp"
    for v in (1, 2):
        spark.createDataFrame(
            [(k, v, datetime.datetime(2024, 1, 1, 0, 0, v)) for k in "abcdefgh"], sch
        ).coalesce(1).write.mode("append").parquet(in_dir)
    src = spark.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(in_dir)
    q = (
        ktable_stream(src, "key", ["value"])
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert len(q.recentProgress) == 2
    parts = [p for p in (tmp_path / "ckpt" / "state" / "0").iterdir()
             if p.name.isdigit()]
    assert parts
    for part in parts:
        names = {f.name for f in part.iterdir()}
        for v in (1, 2):
            assert {f"{v}.delta", f"{v}.delta.crc", f".{v}.delta.crc"} <= names, (
                part, sorted(names))
