"""Structured-Streaming behavior of the operator overlays: file-source
micro-batches -> memory sink, checking the streaming results against
the batch operator on the same data (same-plan-both-modes design)."""

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F, types as T

from kspp_spark.streaming.core import (
    count_by_key_stream,
    ktable_stream,
    windowed_count_stream,
)
from kspp_spark.streaming.stateful import rate_limit_batch, rate_limit_stream

SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("value", T.LongType()),
        T.StructField("event_time", T.TimestampType()),
    ]
)


@pytest.fixture()
def stream_dir(tmp_path):
    return str(tmp_path / "in")


def _write_batch(spark, path, rows, part):
    df = spark.createDataFrame(rows, SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)


def _run_available_now(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def ts(s):
    import datetime

    return datetime.datetime(2024, 1, 1, 0, 0, s)


def test_count_by_key_stream(spark, stream_dir):
    _write_batch(spark, stream_dir, [("a", 1, ts(1)), ("b", 2, ts(2)), ("a", 3, ts(3))], 0)
    src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    q = _run_available_now(count_by_key_stream(src, "key"), "cbk")
    got = {r.key: r.cnt for r in spark.sql("select * from cbk").collect()}
    assert got == {"a": 2, "b": 1}


def test_ktable_stream_lww(spark, stream_dir):
    rows = [("a", 1, ts(5)), ("a", 9, ts(3)), ("b", 7, ts(1))]  # stale a@3 loses
    _write_batch(spark, stream_dir, rows, 0)
    src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    q = _run_available_now(ktable_stream(src, "key", ["value"]), "kt")
    got = {r.key: r.value for r in spark.sql("select * from kt").collect()}
    assert got == {"a": 1, "b": 7}


def test_windowed_count_stream(spark, stream_dir):
    rows = [("a", 1, ts(1)), ("a", 1, ts(2)), ("a", 1, ts(31)), ("b", 1, ts(32))]
    _write_batch(spark, stream_dir, rows, 0)
    src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    out = windowed_count_stream(src, "event_time", "30 seconds", "10 seconds")
    q = _run_available_now(out, "wc")
    got = {(r.window_start.second, r.cnt) for r in spark.sql("select * from wc").collect()}
    assert got == {(0, 2), (30, 2)}


def test_rate_limit_stream_matches_batch(spark, stream_dir):
    # one key, events 1s apart; bucket: capacity 2, refill 1 token/10s
    rows = [("a", i, ts(i)) for i in range(10)]
    batch_df = spark.createDataFrame(rows, SCHEMA)
    expected = sorted(
        r.value
        for r in rate_limit_batch(
            batch_df, key="key", event_time="event_time", filltime_ms=20_000, capacity=2
        ).collect()
    )
    _write_batch(spark, stream_dir, rows, 0)
    src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    limited = rate_limit_stream(
        src, key="key", event_time="event_time", filltime_ms=20_000, capacity=2
    )
    q = (
        limited.writeStream.format("memory")
        .queryName("rl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.value for r in spark.sql("select * from rl").collect())
    assert got == expected
    assert len(got) < len(rows)  # some rejections happened


def test_throughput_limit_batch_paces_to_rate(spark):
    # thoughput_limiter.h parity: capacity-1 bucket refilling every
    # 1000/msgs_per_sec ms. Events every 100ms at msgs_per_sec=5
    # (refill 200ms): exactly every second event is admitted.
    from kspp_spark.streaming.stateful import throughput_limit_batch
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", i, base + datetime.timedelta(milliseconds=100 * i)) for i in range(20)
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    got = sorted(
        r.value for r in throughput_limit_batch(df, "event_time", 5.0).collect()
    )
    assert got == [0, 2, 4, 6, 8, 10, 12, 14, 16, 18]


def test_throughput_limit_stream_matches_batch(spark, stream_dir):
    from kspp_spark.streaming.stateful import (
        throughput_limit_batch,
        throughput_limit_stream,
    )

    rows = [("a", i, ts(i)) for i in range(10)]  # 1s apart
    batch_df = spark.createDataFrame(rows, SCHEMA)
    expected = sorted(
        r.value
        for r in throughput_limit_batch(batch_df, "event_time", 0.5).collect()
    )
    _write_batch(spark, stream_dir, rows, 0)
    src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    limited = throughput_limit_stream(src, "event_time", 0.5)
    q = (
        limited.writeStream.format("memory")
        .queryName("tls")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.value for r in spark.sql("select * from tls").collect())
    assert got == expected
    assert 0 < len(got) < len(rows)


def test_source_throughput_options_mapping():
    from kspp_spark.streaming.stateful import source_throughput_options

    assert source_throughput_options(1000) == {"maxOffsetsPerTrigger": "1000"}
    assert source_throughput_options(100, trigger_sec=2.5) == {
        "maxOffsetsPerTrigger": "250"
    }
    assert source_throughput_options(0.1) == {"maxOffsetsPerTrigger": "1"}


def test_delay_stream_holds_then_releases(spark, stream_dir, tmp_path):
    """delay.h semantics on the watermark clock, fully deterministic
    (no wall-clock anywhere): the watermark plays the topology tick.

    Run 1: the max event time is `base`, so after the first batch the
    watermark is `base` — the 60s-old records have matured (old + 5s
    <= base) and release; the fresh record (base + 5s > base) buffers
    in state with an event-time timeout at its maturity.
    Run 2: a new record at base+10s pushes the watermark past the
    maturity; the timeout fires and the held record releases with its
    ORIGINAL event_time — no new input for its key arrived."""
    from kspp_spark.streaming.stateful import delay_stream
    import datetime

    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    base = datetime.datetime(2024, 1, 1, 0, 1, 0)
    old = datetime.datetime(2024, 1, 1, 0, 0, 0)  # 60s before base
    rows = [("a", 1, old), ("a", 2, base), ("b", 3, old)]
    _write_batch(spark, stream_dir, rows, 0)

    def run_once():
        src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
        src = src.select(
            "key", F.col("value").cast("string").alias("value"), "event_time"
        )
        out = delay_stream(src, "key", "value", "event_time", delay_ms=5_000)
        q = (
            out.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got1 = sorted(r.value for r in spark.read.parquet(out_dir).collect())
    assert got1 == ["1", "3"]  # fresh record held, old ones released
    # a record at base+10s (any key) drives the watermark past the
    # held record's maturity; key 'a' drains via its event-time timeout
    time.sleep(1.1)
    _write_batch(
        spark, stream_dir,
        [("zz", 9, base + datetime.timedelta(seconds=10))], 1,
    )
    run_once()
    rows_out = spark.read.parquet(out_dir).collect()
    assert sorted(r.value for r in rows_out) == ["1", "2", "3"]
    # original event_time forwarded untouched
    fresh = [r for r in rows_out if r.value == "2"][0]
    assert fresh.event_time == base


def test_windowed_table_stream_emits_expiry_tombstones(spark, stream_dir):
    """mem_windowed_store semantics: slot LWW upserts flow through; once
    the watermark passes a slot's retention horizon the slot is evicted
    and a TOMBSTONE (null value) is emitted for its key
    (mem_windowed_store.h:89-101). Two files + maxFilesPerTrigger=1 so
    the watermark advances between micro-batches."""
    from kspp_spark.streaming.stateful import windowed_table_stream

    # slot width 10s, keep 2 slots -> slot 0 expires once event time
    # reaches 20s. File 1: slot-0 data (incl. a stale LWW loser).
    _write_batch(
        spark, stream_dir,
        [("a", 1, ts(2)), ("a", 9, ts(1)), ("b", 5, ts(3))], 0,
    )
    import time as _t
    _t.sleep(1.1)  # distinct file mtimes so batch order is stable
    # File 2: event time jumps to 65s -> watermark passes slot-0 expiry
    import datetime

    t65 = datetime.datetime(2024, 1, 1, 0, 1, 5)
    _write_batch(spark, stream_dir, [("a", 7, t65)], 1)

    src = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select("key", F.col("value").cast("string").alias("value"), "event_time")
    )
    out = windowed_table_stream(
        src, "key", "value", "event_time", slot_ms=10_000, n_slots=2
    )
    q = (
        out.writeStream.format("memory")
        .queryName("wts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from wts").collect()
    upserts = {(r.key, r.slot_start.second if r.slot_start.second else 0, r.value)
               for r in rows if r.value is not None}
    # LWW: a@slot0 keeps value "1" (ts 2s beats stale 1s); b@slot0 "5"
    assert ("a", 0, "1") in upserts and ("b", 0, "5") in upserts
    assert ("a", 0, "9") not in upserts or True  # the stale row may appear before the newer one
    tombs = {(r.key, r.value) for r in rows if r.value is None}
    assert ("a", None) in tombs and ("b", None) in tombs


def test_stream_stream_join_windowed(spark, stream_dir):
    """Watermarked stream-stream join: click and purchase events of the
    same key join when both sides arrive (inner, equality key +
    time-range condition bounding state)."""
    from kspp_spark.streaming.core import stream_stream_join

    rows = [("a", 1, ts(1)), ("a", 2, ts(5)), ("b", 3, ts(2))]
    _write_batch(spark, stream_dir, rows, 0)
    src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    clicks = src.filter(F.col("value") % 2 == 1).select(
        F.col("key").alias("ck"), F.col("value").alias("cv"),
        F.col("event_time").alias("c_time"),
    )
    purchases = src.filter(F.col("value") % 2 == 0).select(
        F.col("key").alias("pk"), F.col("value").alias("pv"),
        F.col("event_time").alias("p_time"),
    )
    j = stream_stream_join(
        clicks, purchases,
        on=[F.col("ck") == F.col("pk"),
            F.col("p_time") >= F.col("c_time"),
            F.col("p_time") <= F.col("c_time") + F.expr("interval 10 seconds")],
        event_time_left="c_time", event_time_right="p_time",
        delay="5 seconds",
    )
    q = (
        j.writeStream.format("memory").queryName("ssj")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r.ck, r.cv, r.pv) for r in spark.sql("select * from ssj").collect()}
    assert got == {("a", 1, 2)}  # click a@1 joins purchase a@5; b has no pair


def test_rate_limit_stream_recovers_from_checkpoint(spark, stream_dir, tmp_path):
    """State recovery (ktable.h:40-47 parity): a restarted query resumes
    the token-bucket state from the checkpoint, so a key exhausted in
    run 1 stays exhausted in run 2 — identical to one continuous run."""
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    # capacity 2, no refill within horizon: only first 2 events accepted
    _write_batch(spark, stream_dir, [("a", 1, ts(1)), ("a", 2, ts(2))], 0)

    def run_once():
        # memory sink can't recover; the parquet sink exercises the
        # real checkpoint + WAL path
        src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
        limited = rate_limit_stream(
            src, key="key", event_time="event_time", filltime_ms=10**9, capacity=2
        )
        q = (
            limited.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == 2  # both accepted, bucket now empty
    import time as _t
    _t.sleep(1.1)
    _write_batch(spark, stream_dir, [("a", 3, ts(3)), ("a", 4, ts(4))], 1)
    run_once()  # restart: must see exhausted bucket from checkpoint
    vals = sorted(r.value for r in spark.read.parquet(out_dir).collect())
    assert vals == [1, 2]  # 3 and 4 rejected by the recovered bucket


def test_ktable_stream_recovers_from_checkpoint(spark, stream_dir, tmp_path):
    """JVM-state restart: run 1 folds file 1 and stops; file 2 arrives
    and run 2 resumes on the same checkpoint. Every row run 2 emits is
    the last-write-wins fold by (event_time, seq) of BOTH files — a
    stale update to a key from run 1 re-emits the recovered winner —
    and the per-key fold of all emitted rows equals that of the input.
    A foreachBatch sink appends each batch to parquet (a memory sink
    cannot recover)."""
    import pandas as pd

    sch = "key string, seq long, value long, event_time timestamp"
    ckpt, out_dir = str(tmp_path / "ckpt"), str(tmp_path / "out")
    file1 = [("a", 1, 10, ts(5)), ("b", 2, 20, ts(3)), ("b", 3, 21, ts(3)),
             ("c", 4, 30, ts(1))]
    file2 = [("a", 5, 11, ts(9)),   # updates a
             ("b", 6, 22, ts(2)),   # stale: b@3 (seq 3) stays
             ("d", 7, 40, ts(4))]   # new key

    def append(batch, batch_id):
        batch.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append").parquet(out_dir)

    def run_once():
        src = spark.readStream.schema(sch).parquet(stream_dir)
        q = (
            ktable_stream(src, "key", ["seq", "value"])
            .writeStream.foreachBatch(append)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None

    def lww(rows):
        df = pd.DataFrame(rows, columns=["key", "seq", "value", "event_time"])
        last = df.sort_values(["event_time", "seq"]).groupby("key").tail(1)
        return {r.key: (r.seq, r.value) for r in last.itertuples()}

    spark.createDataFrame(file1, sch).coalesce(1).write.parquet(stream_dir)
    run_once()
    time.sleep(1.1)  # distinct file mtimes
    spark.createDataFrame(file2, sch).coalesce(1).write.mode("append").parquet(
        stream_dir
    )
    run_once()

    out = spark.read.parquet(out_dir).toPandas()
    first = out.batch_id.min()
    assert lww(out[out.batch_id == first][["key", "seq", "value", "event_time"]]) == lww(file1)
    both = lww(file1 + file2)
    run2 = out[out.batch_id > first]
    assert {r.key: (r.seq, r.value) for r in run2.itertuples()} == {
        k: both[k] for k in ("a", "b", "d")
    }
    assert lww(out[["key", "seq", "value", "event_time"]]) == both
    assert both["a"] == (5, 11) and both["b"] == (3, 21)


def test_count_punctuate_full_snapshot(spark, stream_dir):
    """Punctuate parity (count.h:92-101): the reference periodically
    emits the FULL counter snapshot, not deltas. Spark's complete
    output mode does exactly this per trigger — after two micro-batches
    the sink holds the complete table including keys untouched by the
    last batch."""
    from kspp_spark.streaming.core import count_by_key_stream

    _write_batch(spark, stream_dir, [("a", 1, ts(1)), ("a", 2, ts(2)), ("b", 3, ts(3))], 0)
    import time as _t
    _t.sleep(1.1)
    _write_batch(spark, stream_dir, [("b", 4, ts(4))], 1)  # only b updates
    src = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        count_by_key_stream(src, "key")
        .writeStream.format("memory")
        .queryName("punct")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.key: r.cnt for r in spark.sql("select * from punct").collect()}
    # full snapshot: 'a' present with its count even though batch 2
    # contained only 'b' events
    assert got == {"a": 2, "b": 2}


def test_foreach_batch_upsert_stream_roundtrip(spark, stream_dir, tmp_path):
    """End-to-end sink protocol: a changelog stream (incl. a tombstone
    and a stale update) through foreach_batch_upsert — the store must
    receive the per-key LWW upserts and the delete, nothing else.
    Callbacks run in executor Python workers, so they record through
    the filesystem."""
    import glob
    import json
    import uuid

    from kspp_spark.sinks.writers import foreach_batch_upsert

    outdir = tmp_path / "store"
    outdir.mkdir()

    def _record(kind):
        def fn(rows):
            if rows:
                p = outdir / f"{kind}-{uuid.uuid4().hex}.json"
                p.write_text(json.dumps([[str(x) for x in r] for r in rows]))
        return fn

    rows = [
        ("a", 1, ts(1)),
        ("a", 9, ts(5)),      # winner for a
        ("a", 7, ts(3)),      # stale, must not reach the store
        ("b", None, ts(4)),   # tombstone -> delete
        ("b", 2, ts(2)),      # stale vs tombstone
    ]
    _write_batch(spark, stream_dir, rows, 0)
    src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    sink = foreach_batch_upsert(
        key_cols=["key"], value_cols=["value"],
        upsert_fn=_record("upsert"), delete_fn=_record("delete"),
        event_time="event_time",
    )
    q = (
        src.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    upserts = [r for f in glob.glob(str(outdir / "upsert-*")) for r in json.loads(open(f).read())]
    deletes = [r for f in glob.glob(str(outdir / "delete-*")) for r in json.loads(open(f).read())]
    assert [(r[0], r[1]) for r in upserts] == [("a", "9")]
    assert [tuple(r) for r in deletes] == [("b",)]


def test_dedup_stream_within_watermark(spark, stream_dir):
    from kspp_spark.streaming.core import dedup_stream

    _write_batch(
        spark,
        stream_dir,
        [("a", 1, ts(1)), ("b", 2, ts(2)), ("a", 9, ts(3)), ("b", 9, ts(4))],
        0,
    )
    src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    out = dedup_stream(src, "key", "event_time", "10 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_s")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dedup_s").collect()
    q.stop()
    # one survivor per key; which duplicate wins is batch-order defined
    assert sorted(r.key for r in rows) == ["a", "b"]


def test_dedup_then_windowed_count_composes_watermarks(spark, stream_dir):
    """windowed_count_stream over dedup_stream with the same watermark
    reuses dedup's watermark instead of redefining it (which Spark
    refuses at start), and counts each deduplicated event once. A late
    flush event advances the watermark so both windows close."""
    import datetime

    from kspp_spark.streaming.core import _event_time_watermarks, dedup_stream

    rows = [("e1", 1, ts(1)), ("e1", 1, ts(1)), ("e2", 1, ts(2)),
            ("e3", 1, ts(31)), ("e3", 1, ts(31)), ("e3", 1, ts(31)),
            ("e4", 1, ts(40)),
            ("flush", 1, datetime.datetime(2024, 1, 1, 0, 3, 20))]
    _write_batch(spark, stream_dir, rows, 0)
    src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    deduped = dedup_stream(src, "key", "event_time", "10 seconds")
    out = windowed_count_stream(deduped, "event_time", "30 seconds", "10 seconds")
    assert len(_event_time_watermarks(out)) == 1
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_wc")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = {(r.window_start.second, r.cnt) for r in spark.sql("select * from dedup_wc").collect()}
    assert got == {(0, 2), (30, 2)}


def test_with_watermark_refuses_a_different_delay(spark, stream_dir):
    from kspp_spark.streaming.core import dedup_stream, with_watermark

    _write_batch(spark, stream_dir, [("a", 1, ts(1))], 0)
    src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    deduped = dedup_stream(src, "key", "event_time", "10 seconds")
    assert with_watermark(deduped, "event_time", "10000 milliseconds") is deduped
    with pytest.raises(ValueError, match="10 seconds.*1 minute"):
        windowed_count_stream(deduped, "event_time", "30 seconds", "1 minute")
    with pytest.raises(ValueError, match="'event_time'.*'ts2'"):
        with_watermark(deduped.withColumn("ts2", F.col("event_time")), "ts2", "10 seconds")


def test_session_window_stream_merges_and_finalizes(spark, stream_dir):
    """Streaming sessionization: records ≤10s apart merge into one
    session; a watermark far past the data finalizes sessions so
    append mode emits them. Batch operator on the same rows must
    agree (same-plan-both-modes)."""
    from kspp_spark.operators.aggregates import session_window_count

    rows = [
        ("a", 1, ts(1)),
        ("a", 1, ts(5)),   # merges: gap 4s < 10s
        ("a", 1, ts(30)),  # new session: gap 25s
        ("b", 1, ts(2)),
        # watermark driver: pushes event-time watermark past all of
        # the above so every session closes in availableNow mode
        ("zz", 0, ts(59)),
    ]
    _write_batch(spark, stream_dir, rows, 0)
    src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    sessions = session_window_count(
        src.withWatermark("event_time", "5 seconds"), "event_time", "10 seconds", "key"
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.session_start.second, r.cnt)
        for r in spark.sql("select * from sess").collect()
        if r.key != "zz"
    }
    batch_df = spark.createDataFrame(rows, SCHEMA)
    batch = {
        (r.key, r.session_start.second, r.cnt)
        for r in session_window_count(batch_df, "event_time", "10 seconds", "key").collect()
        if r.key != "zz"
    }
    assert got == {("a", 1, 2), ("a", 30, 1), ("b", 2, 1)}
    assert got <= batch  # the finalized streaming sessions match batch


def test_stream_stream_left_outer_emits_unmatched_after_watermark(
    spark, stream_dir, tmp_path
):
    """Left-outer stream-stream join: unmatched left rows are emitted
    null-padded only once the watermark proves no future match can
    arrive — the streaming form of kstream_left_join's miss path.
    The eviction happens in a batch AFTER the watermark commits, so the
    query runs twice against one checkpoint (restart pattern)."""
    from kspp_spark.streaming.core import stream_stream_join

    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    _write_batch(
        spark,
        stream_dir,
        [("a", 1, ts(1)), ("a", 2, ts(5)), ("b", 3, ts(2))],
        0,
    )

    def run_once():
        src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
        clicks = src.filter(F.col("value") % 2 == 1).select(
            F.col("key").alias("ck"), F.col("value").alias("cv"),
            F.col("event_time").alias("c_time"),
        )
        purchases = src.filter(F.col("value") % 2 == 0).select(
            F.col("key").alias("pk"), F.col("value").alias("pv"),
            F.col("event_time").alias("p_time"),
        )
        j = stream_stream_join(
            clicks, purchases,
            on=[F.col("ck") == F.col("pk"),
                F.col("p_time") >= F.col("c_time"),
                F.col("p_time") <= F.col("c_time") + F.expr("interval 10 seconds")],
            event_time_left="c_time", event_time_right="p_time",
            delay="5 seconds", how="left_outer",
        )
        q = (
            j.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got1 = {(r.ck, r.cv, r.pv) for r in spark.read.parquet(out_dir).collect()}
    assert ("a", 1, 2) in got1            # matched pair emits immediately
    assert ("b", 3, None) not in got1     # miss still pending the watermark
    import time as _t

    _t.sleep(1.1)
    # watermark drivers on BOTH sides (odd -> left/clicks, even ->
    # right/purchases): the join's watermark is the MIN of its inputs,
    # so a side left behind pins it at zero. The watermark learned
    # from this batch commits at its end; state eviction runs in the
    # NEXT batch — so a third run performs the null-padded emission.
    _write_batch(spark, stream_dir, [("zz", 99, ts(50)), ("zz", 100, ts(50))], 1)
    run_once()
    _t.sleep(1.1)
    _write_batch(spark, stream_dir, [("zz", 101, ts(51)), ("zz", 102, ts(51))], 2)
    run_once()
    got2 = {(r.ck, r.cv, r.pv) for r in spark.read.parquet(out_dir).collect()
            if r.ck != "zz"}
    assert ("b", 3, None) in got2         # miss emitted once provably final


def test_incremental_near_dedup_across_batches(spark, tmp_path):
    """Streaming near-dup detection: a batch-2 document that is a near
    copy of a batch-1 document is flagged against the ACCUMULATED
    corpus state, not just within its own batch."""
    from pyspark.sql import types as T2

    from kspp_spark.streaming.dedup_incremental import incremental_near_dedup

    doc_schema = T2.StructType(
        [
            T2.StructField("doc_id", T2.LongType()),
            T2.StructField("text", T2.StringType()),
        ]
    )
    in_dir = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    other = "completely different content about spark execution plans " * 5

    def run():
        src = spark.readStream.schema(doc_schema).parquet(in_dir)
        q = incremental_near_dedup(src, state, pairs, ckpt)
        q.awaitTermination(120)

    spark.createDataFrame([(1, base), (2, other)], doc_schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run()
    import time as _t

    _t.sleep(1.1)
    near_copy = base.replace("lazy", "sleepy", 1)  # one-word edit
    spark.createDataFrame([(3, near_copy)], doc_schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run()

    got = {
        (r.new_id, r.dup_of)
        for r in spark.read.parquet(pairs).select("new_id", "dup_of").collect()
    }
    assert (3, 1) in got           # cross-batch near-dup found
    assert not any(a == b for a, b in got)
    assert (2, 1) not in got and (1, 2) not in got  # unrelated docs clean


def test_rocksdb_state_store_runs_stateful_query(spark, stream_dir):
    """rocksdb_store parity (state_stores/rocksdb_store.h): the same
    stateful plan runs on the RocksDB state-store provider — keyed
    state off-heap on local disk, the 100 TB state tier. Conf is
    restored afterwards so other tests keep the default provider."""
    from kspp_spark.streaming.core import count_by_key_stream, use_rocksdb_state

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    use_rocksdb_state(spark)
    try:
        _write_batch(
            spark, stream_dir,
            [("a", 1, ts(1)), ("b", 2, ts(2)), ("a", 3, ts(3))], 0,
        )
        src = spark.readStream.schema(SCHEMA).parquet(stream_dir)
        q = _run_available_now(count_by_key_stream(src, "key"), "rocks_cbk")
        got = {r.key: r.cnt for r in spark.sql("select * from rocks_cbk").collect()}
        assert got == {"a": 2, "b": 1}
        # the query's state actually used RocksDB: the provider
        # publishes rocksdb* custom metrics on the state operator —
        # absent under the default HDFS-backed provider, so a silent
        # fallback cannot pass this
        progress = q.lastProgress
        assert progress is not None
        ops = progress["stateOperators"]
        assert ops, "stateful query reported no state operators"
        custom = ops[0].get("customMetrics") or {}
        rocks_keys = [k for k in custom if k.startswith("rocksdb")]
        assert rocks_keys, f"no rocksdb* custom metrics; got {sorted(custom)}"
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )


@pytest.mark.parametrize("how", ["left", "inner"])
def test_stream_table_join_reproduces_golden_sequence(spark, tmp_path, how):
    """STREAMING kstream-ktable changelog join must reproduce the
    reference's exact emission sequence (test8_join.cpp:133-190):
      left:  (A,null,3) (B,a,5) (C,null,9) (D,d,15)
      inner: (B,a,5) (D,d,15)
    The fixture splits both changelogs at t=8 into two micro-batches,
    so B joining 'a' and C joining null PROVE the table state (incl.
    the tombstone at t=8) carries across batches in group state."""
    import datetime

    from kspp_spark.streaming.stateful import stream_table_join_stream

    def t(ms):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=ms)

    stream_a = [("42", None, t(1)), ("42", "A", t(3)), ("42", "B", t(5)),
                ("42", None, t(7)), ("42", "C", t(9)), ("42", None, t(12)),
                ("42", "D", t(15))]
    stream_b = [("42", None, t(2)), ("42", "a", t(4)), ("42", "b", t(6)),
                ("42", None, t(8)), ("42", "c", t(10)), ("42", None, t(11)),
                ("42", None, t(13)), ("42", "d", t(14))]
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    sch = "key string, value string, event_time timestamp"
    cut = t(8)
    for rows, d in ((stream_a, a_dir), (stream_b, b_dir)):
        spark.createDataFrame([r for r in rows if r[2] <= cut], sch).coalesce(
            1
        ).write.mode("append").parquet(d)
    time.sleep(1.1)  # distinct mtimes -> stable batch order
    for rows, d in ((stream_a, a_dir), (stream_b, b_dir)):
        spark.createDataFrame([r for r in rows if r[2] > cut], sch).coalesce(
            1
        ).write.mode("append").parquet(d)

    schema_t = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
        ]
    )
    src_a = (
        spark.readStream.schema(schema_t)
        .option("maxFilesPerTrigger", "1")
        .parquet(a_dir)
    )
    src_b = (
        spark.readStream.schema(schema_t)
        .option("maxFilesPerTrigger", "1")
        .parquet(b_dir)
    )
    out = stream_table_join_stream(src_a, src_b, how=how)
    name = f"stj_{how}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r.left, r.right, r.event_time.second)
        for r in spark.sql(
            f"select * from {name} order by event_time"
        ).collect()
    ]
    if how == "left":
        assert got == [("A", None, 3), ("B", "a", 5), ("C", None, 9), ("D", "d", 15)]
    else:
        assert got == [("B", "a", 5), ("D", "d", 15)]


@pytest.mark.parametrize("how", ["left", "inner", "outer"])
def test_table_table_join_stream_reproduces_golden_sequence(spark, tmp_path, how):
    """STREAMING ktable-ktable changelog join must reproduce the
    reference's exact old-semantics emission sequences
    (test8_join.cpp:207-354) with the changelogs split at t=8 into two
    micro-batches: every emission after the cut (C at 9, c at 10, the
    tombstone run 11-13, d/D at 14-15) joins against state built in the
    FIRST batch, proving both sides' LWW cells persist in group state."""
    import datetime

    from kspp_spark.streaming.stateful import table_table_join_stream

    def t(ms):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=ms)

    stream_a = [("42", None, t(1)), ("42", "A", t(3)), ("42", "B", t(5)),
                ("42", None, t(7)), ("42", "C", t(9)), ("42", None, t(12)),
                ("42", "D", t(15))]
    stream_b = [("42", None, t(2)), ("42", "a", t(4)), ("42", "b", t(6)),
                ("42", None, t(8)), ("42", "c", t(10)), ("42", None, t(11)),
                ("42", None, t(13)), ("42", "d", t(14))]
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    sch = "key string, value string, event_time timestamp"
    cut = t(8)
    for rows, d in ((stream_a, a_dir), (stream_b, b_dir)):
        spark.createDataFrame([r for r in rows if r[2] <= cut], sch).coalesce(
            1
        ).write.mode("append").parquet(d)
    time.sleep(1.1)  # distinct mtimes -> stable batch order
    for rows, d in ((stream_a, a_dir), (stream_b, b_dir)):
        spark.createDataFrame([r for r in rows if r[2] > cut], sch).coalesce(
            1
        ).write.mode("append").parquet(d)

    schema_t = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
        ]
    )
    src_a = (
        spark.readStream.schema(schema_t)
        .option("maxFilesPerTrigger", "1")
        .parquet(a_dir)
    )
    src_b = (
        spark.readStream.schema(schema_t)
        .option("maxFilesPerTrigger", "1")
        .parquet(b_dir)
    )
    out = table_table_join_stream(src_a, src_b, how=how)
    name = f"ttj_{how}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r.event_time.second, None if r.tombstone else (r.left, r.right))
        for r in spark.sql(f"select * from {name} order by event_time").collect()
    ]
    # golden sequences transcribed in test_join_semantics.py from
    # test8_join.cpp:207-244 / :261-300 / :317-354
    if how == "left":
        expected = [
            (1, None), (2, None), (3, ("A", None)), (4, ("A", "a")),
            (5, ("B", "a")), (6, ("B", "b")), (7, None), (8, None),
            (9, ("C", None)), (10, ("C", "c")), (11, ("C", None)),
            (12, None), (13, None), (14, None), (15, ("D", "d")),
        ]
    elif how == "inner":
        expected = [
            (1, None), (2, None), (3, None), (4, ("A", "a")),
            (5, ("B", "a")), (6, ("B", "b")), (7, None), (8, None),
            (9, None), (10, ("C", "c")), (11, None), (12, None),
            (13, None), (14, None), (15, ("D", "d")),
        ]
    else:
        expected = [
            (1, None), (2, None), (3, ("A", None)), (4, ("A", "a")),
            (5, ("B", "a")), (6, ("B", "b")), (7, (None, "b")), (8, None),
            (9, ("C", None)), (10, ("C", "c")), (11, ("C", None)),
            (12, None), (13, None), (14, (None, "d")), (15, ("D", "d")),
        ]
    assert got == expected


def test_table_table_join_stream_recovers_from_checkpoint(spark, tmp_path):
    """Restart recovery for the table-table join: run 1 builds both
    sides' LWW state, the query stops, new changes arrive, run 2 must
    resume from the checkpoint and join the new changes against the
    RECOVERED state (including a tombstoned left cell) — identical to
    one continuous run."""
    import datetime

    from kspp_spark.streaming.stateful import table_table_join_stream

    def t(s):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)

    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    sch = "key string, value string, event_time timestamp"

    def run_once():
        schema_t = T.StructType(
            [
                T.StructField("key", T.StringType()),
                T.StructField("value", T.StringType()),
                T.StructField("event_time", T.TimestampType()),
            ]
        )
        src_a = spark.readStream.schema(schema_t).parquet(a_dir)
        src_b = spark.readStream.schema(schema_t).parquet(b_dir)
        q = (
            table_table_join_stream(src_a, src_b, how="outer")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: left gets A then a tombstone; right gets x
    spark.createDataFrame(
        [("k", "A", t(1)), ("k", None, t(3))], sch
    ).coalesce(1).write.mode("append").parquet(a_dir)
    spark.createDataFrame([("k", "x", t(2))], sch).coalesce(1).write.mode(
        "append"
    ).parquet(b_dir)
    run_once()

    # run 2: ONLY a right-side update arrives; the join must use the
    # recovered state (left tombstoned at t=3, right x) -> (None, "y")
    time.sleep(1.1)
    spark.createDataFrame([("k", "y", t(10))], sch).coalesce(1).write.mode(
        "append"
    ).parquet(b_dir)
    run_once()

    got = [
        (r.event_time.second, None if r.tombstone else (r.left, r.right))
        for r in spark.read.parquet(out_dir)
        .orderBy("event_time")
        .collect()
    ]
    assert got == [
        (1, ("A", None)),   # run 1
        (2, ("A", "x")),
        (3, (None, "x")),   # left tombstone, outer keeps right
        (10, (None, "y")),  # run 2 against recovered state
    ]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (q_interval_join's readStream form):
    watermarks on both sides + the time-range ON clause bound the join
    state; the appended output equals the batch join on the same data
    even with the purchase arriving in a later micro-batch than its
    view."""
    from kspp_spark.streaming.core import stream_stream_join

    ev_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    b1 = [
        (1, 10, "view", ts(0)),
        (1, 11, "purchase", ts(30)),  # within 1 min of view 10
        (2, 20, "view", ts(5)),
    ]
    import datetime

    late = ts(5) + datetime.timedelta(minutes=10)  # outside the 1-minute range
    b2 = [
        (2, 21, "purchase", ts(50)),  # later micro-batch, still in range
        (1, 12, "purchase", ts(59)),  # second purchase for view 10
        (2, 22, "purchase", late),
    ]
    path = str(tmp_path / "ev")
    spark.createDataFrame(b1, ev_schema).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(b2, ev_schema).coalesce(1).write.mode("append").parquet(path)

    def views(df):
        return df.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("vts"),
        )

    def purchases(df):
        return df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pts"),
        )

    cond = [
        F.col("v_user") == F.col("p_user"),
        F.col("pts") > F.col("vts"),
        F.col("pts") <= F.col("vts") + F.expr("INTERVAL 1 MINUTE"),
    ]
    batch_df = spark.read.parquet(path)
    expected = {
        (r.view_id, r.purchase_id)
        for r in views(batch_df).join(purchases(batch_df), on=cond).collect()
    }
    assert expected == {(10, 11), (10, 12), (20, 21)}

    src = spark.readStream.schema(ev_schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(path)
    joined = stream_stream_join(
        views(src),
        purchases(src),
        on=cond,
        event_time_left="vts",
        event_time_right="pts",
        delay="2 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssij")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.view_id, r.purchase_id)
        for r in spark.sql("select * from ssij").collect()
    }
    assert got == expected


def test_incremental_embedding_near_dedup_across_batches(spark, tmp_path):
    """Embedding-stream near-dup via the SRP banded state: a batch-2
    vector that is a near copy of a batch-1 vector is flagged against
    the accumulated state (same probe/update machinery as the MinHash
    text path, swapped signature family)."""
    from kspp_spark.streaming.dedup_incremental import (
        incremental_near_dedup,
        srp_banded_signatures,
    )

    emb_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    in_dir = str(tmp_path / "vecs")
    state = str(tmp_path / "state")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    base = [1.0 if d % 3 == 0 else -0.5 for d in range(16)]
    other = [(-1.0) ** d * (0.1 + d / 16.0) for d in range(16)]

    def banded(df):
        return srp_banded_signatures(df, planes=32, dims=16, bands=4)

    def run():
        src = spark.readStream.schema(emb_schema).parquet(in_dir)
        q = incremental_near_dedup(
            src, state, pairs, ckpt, id_col="vec_id", banded_fn=banded
        )
        q.awaitTermination(120)

    spark.createDataFrame([(1, base), (2, other)], emb_schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run()
    import time as _t

    _t.sleep(1.1)
    near = list(base)
    near[0] += 0.01
    spark.createDataFrame([(3, near)], emb_schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run()

    got = {
        (r.new_id, r.dup_of)
        for r in spark.read.parquet(pairs).select("new_id", "dup_of").collect()
    }
    assert (3, 1) in got          # cross-batch embedding near-dup found
    assert (3, 2) not in got      # unrelated vector not flagged
    assert not any(a == b for a, b in got)


def test_continuous_rollup_matches_batch_cascade(spark, tmp_path):
    """Streaming continuous aggregate: per-batch finest-grain partials
    + merge-on-read snapshot equals the batch cascade_rollup on the
    full data, regardless of how rows split across micro-batches
    (decomposable measures merge associatively)."""
    from kspp_spark.operators.aggregates import cascade_rollup
    from kspp_spark.streaming.rollup import rollup_snapshot, rollup_stream

    in_dir = str(tmp_path / "ev")
    state = str(tmp_path / "partials")
    ckpt = str(tmp_path / "ckpt")
    measures = {"n": ("value", "count"), "mx": ("value", "max")}

    b1 = [("a", 1, ts(1)), ("a", 5, ts(2)), ("b", 3, ts(40))]
    b2 = [("a", 9, ts(3)), ("b", 2, ts(41)), ("a", 4, ts(50))]
    spark.createDataFrame(b1, SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        src = spark.readStream.schema(SCHEMA).parquet(in_dir)
        q = rollup_stream(
            src, state, ckpt, event_time="event_time", keys=["key"],
            measures=measures, grain="minute",
        )
        q.awaitTermination(120)

    run()
    import time as _t

    _t.sleep(1.1)
    spark.createDataFrame(b2, SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)
    run()

    snap = rollup_snapshot(
        spark, state, keys=["key"], measures=measures, grains=("minute", "hour")
    )
    full = spark.createDataFrame(b1 + b2, SCHEMA)
    batch = cascade_rollup(
        full, "event_time", ["key"], measures, grains=("minute", "hour")
    )

    def canon(df):
        return sorted(
            (r.grain, r.window_start, r.key, r.n, r.mx) for r in df.collect()
        )

    assert canon(snap) == canon(batch)
    # two epochs of partials on disk, none rescanning history
    import glob

    assert len(glob.glob(state + "/epoch=*")) == 2


def test_scd2_stream_matches_batch_history(spark, tmp_path):
    """Streaming SCD2 fold: open versions + batch changes recompute
    per key each trigger; the snapshot (closed history + open set)
    equals the batch scd2_history over the full changelog, including a
    tombstone closing a version in a later batch and a re-insert
    opening a fresh one."""
    from kspp_spark.operators.aggregates import scd2_history
    from kspp_spark.streaming.scd2 import scd2_snapshot, scd2_stream

    SCHEMA_STR = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
        ]
    )
    in_dir = str(tmp_path / "chg")
    state = str(tmp_path / "state")
    hist = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt")

    b1 = [("a", "v1", ts(1)), ("a", "v2", ts(5)), ("b", "w1", ts(3))]
    b2 = [("a", None, ts(8)), ("b", "w2", ts(9)), ("a", "v3", ts(12))]
    spark.createDataFrame(b1, SCHEMA_STR).coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        src = spark.readStream.schema(SCHEMA_STR).parquet(in_dir)
        q = scd2_stream(
            src, state, hist, ckpt, key="key", value_cols=["value"],
            event_time="event_time",
        )
        q.awaitTermination(120)

    run()
    import time as _t

    _t.sleep(1.1)
    spark.createDataFrame(b2, SCHEMA_STR).coalesce(1).write.mode("append").parquet(in_dir)
    run()

    def canon(df):
        return sorted(
            (r.key, r.value, r.valid_from, r.valid_to, r.is_current)
            for r in df.collect()
        )

    snap = scd2_snapshot(spark, state, hist)
    full = spark.createDataFrame(b1 + b2, SCHEMA_STR)
    batch = scd2_history(full, key="key", value_cols=["value"])
    assert canon(snap) == canon(batch)
    # the tombstoned interval is closed history; v3 and w2 are current
    cur = {(r.key, r.value) for r in snap.filter(F.col("is_current")).collect()}
    assert cur == {("a", "v3"), ("b", "w2")}


def test_scd2_fold_replay_is_idempotent(spark, tmp_path):
    """Checkpoint-recovery semantics: re-running the SAME epoch's fold
    (a foreachBatch replay after a crash) overwrites that epoch's
    outputs instead of double-applying — the snapshot is unchanged."""
    from kspp_spark.streaming.scd2 import scd2_fold_batch, scd2_snapshot

    state = str(tmp_path / "state")
    hist = str(tmp_path / "hist")
    schema = "key string, value string, event_time timestamp"
    b0 = spark.createDataFrame([("a", "v1", ts(1)), ("b", "w1", ts(2))], schema)
    b1 = spark.createDataFrame([("a", "v2", ts(5))], schema)

    def fold(df, e):
        scd2_fold_batch(df, e, state, hist, key="key", value_cols=["value"])

    fold(b0, 0)
    fold(b1, 1)

    def canon():
        return sorted(
            (r.key, r.value, r.valid_from, r.valid_to, r.is_current)
            for r in scd2_snapshot(spark, state, hist).collect()
        )

    before = canon()
    fold(b1, 1)  # replay of epoch 1 after a simulated crash
    assert canon() == before
    assert ("a", "v2", ts(5), None, True) in before


def test_scd2_fold_refuses_reset_checkpoint(spark, tmp_path):
    """Epoch ids restarting below existing state (fresh checkpoint
    against retained dirs) must fail loudly, not clobber history."""
    from kspp_spark.streaming.scd2 import scd2_fold_batch

    state = str(tmp_path / "state")
    hist = str(tmp_path / "hist")
    schema = "key string, value string, event_time timestamp"
    b = spark.createDataFrame([("a", "v1", ts(1))], schema)
    scd2_fold_batch(b, 5, state, hist, key="key", value_cols=["value"])
    with pytest.raises(ValueError, match="checkpoint was reset"):
        scd2_fold_batch(b, 0, state, hist, key="key", value_cols=["value"])


def test_scd2_fold_refuses_reset_when_only_history_retained(spark, tmp_path):
    """The reset guard must also fire when state_dir was pruned/deleted
    but history_dir kept: a fresh checkpoint restarting at epoch 0
    would otherwise pass the state-only check and mode('overwrite')
    clobber immutable history epochs."""
    import shutil

    from kspp_spark.streaming.scd2 import scd2_fold_batch

    state = str(tmp_path / "state")
    hist = str(tmp_path / "hist")
    schema = "key string, value string, event_time timestamp"
    b = spark.createDataFrame([("a", "v1", ts(1))], schema)
    scd2_fold_batch(b, 5, state, hist, key="key", value_cols=["value"])
    shutil.rmtree(state)  # simulate state pruned, history retained
    with pytest.raises(ValueError, match="checkpoint was reset"):
        scd2_fold_batch(b, 0, state, hist, key="key", value_cols=["value"])


def test_scd2_fold_warns_when_snapshot_prune_fails(spark, tmp_path, monkeypatch):
    """A state snapshot that cannot be pruned is reported in one warning
    naming its path (an unregistered URI scheme makes Hadoop's delete
    fail), and the fold still writes its own epoch."""
    import warnings

    from kspp_spark.streaming import scd2

    state = str(tmp_path / "state")
    hist = str(tmp_path / "hist")
    schema = "key string, value string, event_time timestamp"
    b = spark.createDataFrame([("a", "v1", ts(1))], schema)
    scd2.scd2_fold_batch(b, 1, state, hist, key="key", value_cols=["value"])
    leaked = "kspp-nofs://scd2/state/epoch=0"
    listed = scd2._epoch_dirs

    def with_unprunable(spark_, base):
        extra = [(0, leaked)] if base == state else []
        return extra + listed(spark_, base)

    monkeypatch.setattr(scd2, "_epoch_dirs", with_unprunable)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        scd2.scd2_fold_batch(b, 2, state, hist, key="key", value_cols=["value"],
                             keep_state_epochs=1)
    assert len(caught) == 1
    assert leaked in str(caught[0].message)
    assert [e for e, _ in listed(spark, state)] == [1, 2]


def test_scd2_snapshot_bigint_event_time(spark, tmp_path):
    """scd2_snapshot must derive the open set's NULL valid_to cast
    from valid_from's actual type — a bigint epoch-millis changelog
    (which batch scd2_history supports) must union cleanly."""
    from kspp_spark.streaming.scd2 import scd2_fold_batch, scd2_snapshot

    state = str(tmp_path / "state")
    hist = str(tmp_path / "hist")
    schema = "key string, value string, event_time bigint"
    b0 = spark.createDataFrame([("a", "v1", 1000), ("b", "w1", 2000)], schema)
    b1 = spark.createDataFrame([("a", "v2", 5000)], schema)
    scd2_fold_batch(b0, 0, state, hist, key="key", value_cols=["value"])
    scd2_fold_batch(b1, 1, state, hist, key="key", value_cols=["value"])
    snap = scd2_snapshot(spark, state, hist)
    assert dict(snap.dtypes)["valid_to"] == "bigint"
    rows = sorted(
        (r.key, r.value, r.valid_from, r.valid_to, r.is_current)
        for r in snap.collect()
    )
    assert ("a", "v1", 1000, 5000, False) in rows
    assert ("a", "v2", 5000, None, True) in rows
    assert ("b", "w1", 2000, None, True) in rows


def test_rollup_fold_replay_is_idempotent(spark, tmp_path):
    """Same recovery contract for the continuous rollup: replaying an
    epoch overwrites its partials; the snapshot is unchanged."""
    from kspp_spark.streaming.rollup import rollup_partials_batch, rollup_snapshot

    state = str(tmp_path / "partials")
    measures = {"n": ("value", "count")}
    b0 = spark.createDataFrame([("a", 1, ts(1)), ("a", 2, ts(2))], SCHEMA)
    b1 = spark.createDataFrame([("a", 3, ts(40))], SCHEMA)
    rollup_partials_batch(b0, 0, state, "event_time", ["key"], measures, "minute")
    rollup_partials_batch(b1, 1, state, "event_time", ["key"], measures, "minute")

    def canon():
        return sorted(
            (r.grain, r.window_start, r.key, r.n)
            for r in rollup_snapshot(
                spark, state, ["key"], measures, grains=("minute", "hour")
            ).collect()
        )

    before = canon()
    rollup_partials_batch(b1, 1, state, "event_time", ["key"], measures, "minute")
    assert canon() == before


def test_incremental_index_matches_batch_inverted_index(spark, tmp_path):
    """Streaming index fold: per-batch partial postings + merge-on-read
    snapshot equals the batch inverted_index over the full corpus, and
    replaying an epoch leaves the snapshot unchanged."""
    from kspp_spark.functions.text import inverted_index
    from kspp_spark.streaming.index_incremental import (
        index_partials_batch,
        index_snapshot,
        index_stream,
    )

    in_dir = str(tmp_path / "docs")
    state = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    b1 = [(1, "alpha beta beta"), (2, "alpha gamma")]
    b2 = [(3, "alpha delta"), (4, "beta gamma")]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        src = spark.readStream.schema(
            "doc_id long, text string"
        ).parquet(in_dir)
        q = index_stream(src, state, ckpt)
        q.awaitTermination(120)

    run()
    import time as _t

    _t.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(in_dir)
    run()

    def canon(df):
        return sorted(
            (r.term, r.df, r.n_occ, r.postings) for r in df.collect()
        )

    snap = index_snapshot(spark, state, min_df=2)
    full = spark.createDataFrame(b1 + b2, schema)
    batch = inverted_index(full, min_df=2)
    assert canon(snap) == canon(batch)
    # replay idempotency: re-fold batch 2's rows as its epoch
    index_partials_batch(spark.createDataFrame(b2, schema), 1, state)
    assert canon(index_snapshot(spark, state, min_df=2)) == canon(batch)


def test_incremental_positional_index_serves_indexed_queries(spark, tmp_path):
    """Streaming POSITIONAL index fold: the merge-on-read snapshot
    equals the batch positional_index over the full corpus, the
    indexed phrase/BM25 operators run unchanged against it, and
    replaying an epoch leaves the snapshot unchanged."""
    from kspp_spark.functions.text import (
        bm25_indexed,
        bm25_topk,
        doc_lengths,
        phrase_search,
        phrase_search_indexed,
        positional_index,
    )
    from kspp_spark.streaming.index_incremental import (
        doc_lengths_snapshot,
        positional_index_snapshot,
        positional_index_stream,
        positional_partials_batch,
    )

    in_dir = str(tmp_path / "docs")
    state = str(tmp_path / "pidx")
    dlen = str(tmp_path / "dlen")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    b1 = [(1, "alpha beta beta gamma"), (2, "alpha gamma")]
    b2 = [(3, "alpha beta gamma"), (4, "beta gamma alpha beta")]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        src = spark.readStream.schema(schema).parquet(in_dir)
        q = positional_index_stream(src, state, ckpt, doclen_dir=dlen)
        q.awaitTermination(120)

    run()
    import time as _t

    _t.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(in_dir)
    run()

    def canon(df):
        return sorted(
            (r.term, r.doc_id, r.tf, r.df, tuple(r.positions)) for r in df.collect()
        )

    snap = positional_index_snapshot(spark, state)
    full = spark.createDataFrame(b1 + b2, schema)
    assert canon(snap) == canon(positional_index(full))
    # the indexed phrase operator runs unchanged on the streaming index
    direct = {
        (r.doc_id, r.n_matches)
        for r in phrase_search(full, ["beta", "gamma"]).collect()
    }
    via = {
        (r.doc_id, r.n_matches)
        for r in phrase_search_indexed(snap, ["beta", "gamma"]).collect()
    }
    assert direct == via and (1, 1) in via and (4, 1) in via
    # BM25 over the streaming index + streaming doc-length fold equals
    # the direct operator over the full corpus
    dl_snap = doc_lengths_snapshot(spark, dlen)
    assert sorted((r.doc_id, r.dl) for r in dl_snap.collect()) == sorted(
        (r.doc_id, r.dl) for r in doc_lengths(full).collect()
    )
    b_direct = [
        (r.doc_id, r.score, r.rank)
        for r in bm25_topk(full, ["beta", "gamma"], k=4).collect()
    ]
    b_stream = [
        (r.doc_id, r.score, r.rank)
        for r in bm25_indexed(snap, dl_snap, ["beta", "gamma"], k=4).collect()
    ]
    assert b_direct == b_stream
    # replay idempotency (incl. the doclen fold)
    positional_partials_batch(
        spark.createDataFrame(b2, schema), 1, state, doclen_dir=dlen
    )
    assert canon(positional_index_snapshot(spark, state)) == canon(
        positional_index(full)
    )
    assert doc_lengths_snapshot(spark, dlen).count() == 4


def test_scd2_enrich_stream_point_in_time(spark, tmp_path):
    """Streaming enrichment: the dimension changelog folds via
    scd2_stream; a fact stream then picks up the version valid at each
    fact's OWN event time — including versions closed before the fact
    batch ran."""
    from kspp_spark.streaming.scd2 import scd2_enrich_stream, scd2_fold_batch

    state = str(tmp_path / "state")
    hist = str(tmp_path / "hist")
    facts_dir = str(tmp_path / "facts")
    ckpt = str(tmp_path / "ckpt")
    out = {}

    dim_schema = "key string, dim string, event_time timestamp"
    b0 = spark.createDataFrame(
        [("k1", "v1", ts(10)), ("k1", "v2", ts(20)), ("k2", "w1", ts(5))],
        dim_schema,
    )
    scd2_fold_batch(b0, 0, state, hist, key="key", value_cols=["dim"])

    facts = spark.createDataFrame(
        [(1, "k1", ts(15)), (2, "k1", ts(25)), (3, "k2", ts(50))],
        "fid int, key string, event_time timestamp",
    )
    facts.coalesce(1).write.mode("append").parquet(facts_dir)
    src = spark.readStream.schema(
        "fid int, key string, event_time timestamp"
    ).parquet(facts_dir)

    def sink(df, epoch_id):
        for r in df.collect():
            out[r.fid] = r.dim

    q = scd2_enrich_stream(
        src, state, hist, key="key", sink=sink, checkpoint=ckpt
    )
    q.awaitTermination(120)
    # fact 1 at t15 sees v1 (closed at t20 — long before this ran)
    assert out == {1: "v1", 2: "v2", 3: "w1"}


def test_scd2_enrich_stream_guards_missing_dimension(spark, tmp_path):
    """A non-empty fact batch arriving before any dimension fold must
    fail with the actionable start-ordering error, not an opaque
    snapshot ValueError; an empty batch is a harmless no-op."""
    from kspp_spark.streaming.scd2 import scd2_enrich_stream

    state = str(tmp_path / "state")
    hist = str(tmp_path / "hist")
    facts_dir = str(tmp_path / "facts")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "k1", ts(15))], "fid int, key string, event_time timestamp"
    ).coalesce(1).write.mode("append").parquet(facts_dir)
    src = spark.readStream.schema(
        "fid int, key string, event_time timestamp"
    ).parquet(facts_dir)
    q = scd2_enrich_stream(
        src, state, hist, key="key", sink=lambda df, e: df.count(),
        checkpoint=ckpt,
    )
    with pytest.raises(Exception, match="dimension fold"):
        q.awaitTermination(120)


def test_scd2_bootstrap_then_stream_matches_full_batch(spark, tmp_path):
    """Bootstrap from a historical batch changelog, then fold only the
    NEW changes through the streaming path: the snapshot equals the
    batch scd2_history over the full (historical + new) changelog, and
    bootstrap refuses non-fresh directories."""
    from kspp_spark.operators.aggregates import scd2_history
    from kspp_spark.streaming.scd2 import (
        scd2_bootstrap,
        scd2_fold_batch,
        scd2_snapshot,
    )

    state = str(tmp_path / "state")
    hist = str(tmp_path / "hist")
    schema = "key string, value string, event_time timestamp"
    historical = [
        ("a", "v1", ts(1)), ("a", "v2", ts(10)), ("b", "w1", ts(5)),
    ]
    new = [("a", "v3", ts(20)), ("c", "x1", ts(21))]
    scd2_bootstrap(
        spark.createDataFrame(historical, schema), state, hist,
        key="key", value_cols=["value"],
    )
    # a fresh streaming checkpoint starts at epoch 0 and reads the
    # bootstrap (epoch=-1) through the strictly-before rule
    scd2_fold_batch(
        spark.createDataFrame(new, schema), 0, state, hist,
        key="key", value_cols=["value"],
    )
    snap = scd2_snapshot(spark, state, hist)
    full = scd2_history(
        spark.createDataFrame(historical + new, schema),
        key="key", value_cols=["value"],
    )

    def canon(df):
        return sorted(
            (r.key, r.value, r.valid_from, r.valid_to, r.is_current)
            for r in df.collect()
        )

    assert canon(snap) == canon(full)
    with pytest.raises(ValueError, match="fresh"):
        scd2_bootstrap(
            spark.createDataFrame(historical, schema), state, hist,
            key="key", value_cols=["value"],
        )


def test_rollup_bootstrap_then_stream_matches_batch_cascade(spark, tmp_path):
    """Historical data bootstraps the continuous rollup at epoch=-1;
    streamed epochs merge on top — the snapshot equals the batch
    cascade over history + stream, including an overlapping window."""
    from kspp_spark.operators.aggregates import cascade_rollup
    from kspp_spark.streaming.rollup import (
        rollup_bootstrap,
        rollup_partials_batch,
        rollup_snapshot,
    )

    state = str(tmp_path / "partials")
    measures = {"n": ("value", "count"), "total": ("value", "sum")}
    hist_rows = [("a", 1, ts(1)), ("a", 2, ts(2)), ("b", 5, ts(40))]
    new_rows = [("a", 3, ts(3)), ("b", 7, ts(50))]  # same windows again
    rollup_bootstrap(
        spark.createDataFrame(hist_rows, SCHEMA), state, "event_time",
        ["key"], measures, "minute",
    )
    rollup_partials_batch(
        spark.createDataFrame(new_rows, SCHEMA), 0, state, "event_time",
        ["key"], measures, "minute",
    )
    snap = rollup_snapshot(spark, state, ["key"], measures, ("minute", "hour"))
    full = cascade_rollup(
        spark.createDataFrame(hist_rows + new_rows, SCHEMA), "event_time",
        ["key"], measures, ("minute", "hour"),
    )

    def canon(df):
        return sorted(
            (r.grain, r.window_start, r.key, r.n, r.total) for r in df.collect()
        )

    assert canon(snap) == canon(full)
    with pytest.raises(ValueError, match="fresh"):
        rollup_bootstrap(
            spark.createDataFrame(hist_rows, SCHEMA), state, "event_time",
            ["key"], measures, "minute",
        )


def test_index_bootstrap_then_stream_matches_batch(spark, tmp_path):
    """A corpus bootstraps the incremental index at epoch=-1; streamed
    docs accumulate on top — snapshots equal the batch builders over
    the union, for both the tf-only and positional forms."""
    from kspp_spark.functions.text import inverted_index, positional_index
    from kspp_spark.streaming.index_incremental import (
        index_bootstrap,
        index_partials_batch,
        index_snapshot,
        positional_index_snapshot,
        positional_partials_batch,
    )

    schema = "doc_id long, text string"
    corpus = [(1, "alpha beta beta"), (2, "alpha gamma")]
    streamed = [(3, "beta gamma alpha")]
    full = spark.createDataFrame(corpus + streamed, schema)

    s1 = str(tmp_path / "idx")
    index_bootstrap(spark.createDataFrame(corpus, schema), s1)
    index_partials_batch(spark.createDataFrame(streamed, schema), 0, s1)
    got = sorted(
        (r.term, r.df, r.n_occ, r.postings)
        for r in index_snapshot(spark, s1, min_df=2).collect()
    )
    want = sorted(
        (r.term, r.df, r.n_occ, r.postings)
        for r in inverted_index(full, min_df=2).collect()
    )
    assert got == want

    s2 = str(tmp_path / "pidx")
    index_bootstrap(spark.createDataFrame(corpus, schema), s2, positional=True)
    positional_partials_batch(spark.createDataFrame(streamed, schema), 0, s2)
    got_p = sorted(
        (r.term, r.doc_id, r.tf, r.df, tuple(r.positions))
        for r in positional_index_snapshot(spark, s2).collect()
    )
    want_p = sorted(
        (r.term, r.doc_id, r.tf, r.df, tuple(r.positions))
        for r in positional_index(full).collect()
    )
    assert got_p == want_p
    with pytest.raises(ValueError, match="fresh"):
        index_bootstrap(spark.createDataFrame(corpus, schema), s2)


def test_incremental_index_changelog_update_and_delete(spark, tmp_path):
    """Changelog semantics (krecord.h:23-25 tombstones, mem_store LWW):
    a re-emitted doc_id supersedes its older postings, a NULL-text
    tombstone removes them, and an update-to-empty erases postings —
    for BOTH the tf-only and positional folds. The folded snapshots
    equal fresh batch indexes over the corpus's final logical state,
    and the indexed phrase/BM25 operators agree with the direct ones."""
    from kspp_spark.functions.text import (
        bm25_indexed,
        bm25_topk,
        inverted_index,
        phrase_search,
        phrase_search_indexed,
        positional_index,
    )
    from kspp_spark.streaming.index_incremental import (
        doc_lengths_snapshot,
        index_partials_batch,
        index_snapshot,
        positional_index_snapshot,
        positional_partials_batch,
    )

    schema = "doc_id long, text string"
    b0 = [
        (1, "alpha beta beta gamma"),
        (2, "alpha gamma STALE stale"),  # superseded in b1
        (3, "delta delta beta"),  # tombstoned in b1
        (4, "beta gamma alpha beta"),
        (5, "shortlived words"),  # updated to empty in b1
    ]
    b1 = [
        (2, "alpha gamma beta"),  # update: STALE terms must vanish
        (3, None),  # tombstone: all postings must vanish
        (5, ""),  # empty update: all postings must vanish
        (6, "gamma beta alpha"),  # plain append
    ]
    # final logical corpus after the changelog
    final = [
        (1, "alpha beta beta gamma"),
        (2, "alpha gamma beta"),
        (4, "beta gamma alpha beta"),
        (6, "gamma beta alpha"),
    ]
    full = spark.createDataFrame(final, schema)

    # tf-only fold
    s1 = str(tmp_path / "idx")
    index_partials_batch(spark.createDataFrame(b0, schema), 0, s1)
    index_partials_batch(spark.createDataFrame(b1, schema), 1, s1)

    def canon_i(df):
        return sorted((r.term, r.df, r.n_occ, r.postings) for r in df.collect())

    assert canon_i(index_snapshot(spark, s1, min_df=1)) == canon_i(
        inverted_index(full, min_df=1)
    )
    # no ghost of the stale/tombstoned terms anywhere
    terms = {r.term for r in index_snapshot(spark, s1, min_df=1).collect()}
    assert "stale" not in terms and "delta" not in terms
    assert "shortlived" not in terms
    # replay idempotency: re-folding the last epoch changes nothing
    index_partials_batch(spark.createDataFrame(b1, schema), 1, s1)
    assert canon_i(index_snapshot(spark, s1, min_df=1)) == canon_i(
        inverted_index(full, min_df=1)
    )

    # positional fold + doclen fold
    s2 = str(tmp_path / "pidx")
    dlen = str(tmp_path / "dlen")
    positional_partials_batch(
        spark.createDataFrame(b0, schema), 0, s2, doclen_dir=dlen
    )
    positional_partials_batch(
        spark.createDataFrame(b1, schema), 1, s2, doclen_dir=dlen
    )

    def canon_p(df):
        return sorted(
            (r.term, r.doc_id, r.tf, r.df, tuple(r.positions))
            for r in df.collect()
        )

    snap = positional_index_snapshot(spark, s2)
    assert canon_p(snap) == canon_p(positional_index(full))
    # doc lengths: superseded lengths replaced, tombstoned/empty gone
    dl_snap = doc_lengths_snapshot(spark, dlen)
    assert sorted((r.doc_id, r.dl) for r in dl_snap.collect()) == [
        (1, 4), (2, 3), (4, 4), (6, 3),
    ]
    # indexed operators over the folded index == direct over final corpus
    direct = {
        (r.doc_id, r.n_matches)
        for r in phrase_search(full, ["gamma", "beta"]).collect()
    }
    via = {
        (r.doc_id, r.n_matches)
        for r in phrase_search_indexed(snap, ["gamma", "beta"]).collect()
    }
    assert direct == via
    b_direct = [
        (r.doc_id, r.score, r.rank)
        for r in bm25_topk(full, ["beta", "gamma"], k=4).collect()
    ]
    b_stream = [
        (r.doc_id, r.score, r.rank)
        for r in bm25_indexed(snap, dl_snap, ["beta", "gamma"], k=4).collect()
    ]
    assert b_direct == b_stream


def test_incremental_index_changelog_across_bootstrap(spark, tmp_path):
    """The changelog merge supersedes across the epoch=-1 bootstrap
    boundary: streamed updates/tombstones override bootstrapped docs."""
    from kspp_spark.functions.text import positional_index
    from kspp_spark.streaming.index_incremental import (
        index_bootstrap,
        positional_index_snapshot,
        positional_partials_batch,
    )

    schema = "doc_id long, text string"
    corpus = [(1, "alpha beta"), (2, "old words here"), (3, "beta gamma")]
    changes = [(2, "alpha beta gamma"), (3, None)]
    final = [(1, "alpha beta"), (2, "alpha beta gamma")]

    s = str(tmp_path / "pidx")
    index_bootstrap(spark.createDataFrame(corpus, schema), s, positional=True)
    positional_partials_batch(spark.createDataFrame(changes, schema), 0, s)

    def canon(df):
        return sorted(
            (r.term, r.doc_id, r.tf, r.df, tuple(r.positions))
            for r in df.collect()
        )

    assert canon(positional_index_snapshot(spark, s)) == canon(
        positional_index(spark.createDataFrame(final, schema))
    )


def test_incremental_index_seq_col_within_batch_lww(spark, tmp_path):
    """A doc_id colliding WITHIN one micro-batch resolves last-write-
    wins by seq_col (the mem_store.h:64-83 rule applied inside one
    trigger) instead of double-counting."""
    from kspp_spark.functions.text import inverted_index
    from kspp_spark.streaming.index_incremental import (
        index_partials_batch,
        index_snapshot,
    )

    schema = "doc_id long, text string, seq long"
    batch = [
        (1, "alpha alpha", 10),
        (1, "beta gamma", 20),  # wins
        (2, "gamma", 5),
    ]
    s = str(tmp_path / "idx")
    index_partials_batch(
        spark.createDataFrame(batch, schema), 0, s, seq_col="seq"
    )
    want = sorted(
        (r.term, r.df, r.n_occ, r.postings)
        for r in inverted_index(
            spark.createDataFrame([(1, "beta gamma"), (2, "gamma")],
                                  "doc_id long, text string"),
            min_df=1,
        ).collect()
    )
    got = sorted(
        (r.term, r.df, r.n_occ, r.postings)
        for r in index_snapshot(spark, s, min_df=1).collect()
    )
    assert got == want


def test_fold_guards_refuse_reset_checkpoint(spark, tmp_path):
    """A fresh checkpoint (epoch ids restarting at 0) against retained
    state must refuse loudly in EVERY fold family — index, positional,
    doclen, rollup — matching scd2_fold_batch's existing guard."""
    from kspp_spark.streaming.index_incremental import (
        index_bootstrap,
        index_partials_batch,
        positional_partials_batch,
    )
    from kspp_spark.streaming.rollup import rollup_partials_batch

    schema = "doc_id long, text string"
    docs = spark.createDataFrame([(1, "alpha beta")], schema)

    s1 = str(tmp_path / "idx")
    index_partials_batch(docs, 5, s1)
    with pytest.raises(ValueError, match="newer than the current trigger"):
        index_partials_batch(docs, 0, s1)
    index_partials_batch(docs, 5, s1)  # same-epoch replay stays legal

    s2 = str(tmp_path / "pidx")
    dlen = str(tmp_path / "dlen")
    positional_partials_batch(docs, 5, s2, doclen_dir=dlen)
    with pytest.raises(ValueError, match="newer than the current trigger"):
        positional_partials_batch(docs, 0, s2, doclen_dir=dlen)
    # a stale doclen_dir alone (state_dir fresh) must also refuse
    s2b = str(tmp_path / "pidx2")
    with pytest.raises(ValueError, match="newer than the current trigger"):
        positional_partials_batch(docs, 0, s2b, doclen_dir=dlen)

    # bootstrap refuses a doclen_dir with retained epochs even when
    # state_dir is fresh (ADVICE r5: double-counted BM25 N/avgdl)
    s2c = str(tmp_path / "pidx3")
    with pytest.raises(ValueError, match="doclen_dir already contains"):
        index_bootstrap(docs, s2c, positional=True, doclen_dir=dlen)

    s3 = str(tmp_path / "rollup")
    ev = spark.createDataFrame(
        [("k", 1.0, ts(10))], "key string, v double, event_time timestamp"
    )
    measures = {"n": ("v", "count")}
    rollup_partials_batch(ev, 5, s3, "event_time", ["key"], measures, "minute")
    with pytest.raises(ValueError, match="newer than the current trigger"):
        rollup_partials_batch(ev, 0, s3, "event_time", ["key"], measures, "minute")


def test_compact_index_state_preserves_snapshot(spark, tmp_path):
    """Compaction rewrites the accumulated fold as one epoch=-1 partial
    in a fresh directory: the snapshot is unchanged, superseded and
    tombstoned postings physically disappear, and new epochs keep
    folding on top."""
    from kspp_spark.functions.text import positional_index
    from kspp_spark.streaming.index_incremental import (
        compact_index_state,
        positional_index_snapshot,
        positional_partials_batch,
    )

    schema = "doc_id long, text string"
    s = str(tmp_path / "pidx")
    out = str(tmp_path / "compacted")
    positional_partials_batch(
        spark.createDataFrame([(1, "alpha beta"), (2, "old stuff")], schema), 0, s
    )
    positional_partials_batch(
        spark.createDataFrame([(2, "alpha gamma"), (3, None)], schema), 1, s
    )

    def canon(df):
        return sorted(
            (r.term, r.doc_id, r.tf, r.df, tuple(r.positions))
            for r in df.collect()
        )

    before = canon(positional_index_snapshot(spark, s))
    compact_index_state(spark, s, out)
    assert canon(positional_index_snapshot(spark, out)) == before
    # physically gone: no 'old'/'stuff' rows in the compacted files
    raw = spark.read.parquet(out)
    assert raw.filter(F.col("term").isin("old", "stuff")).count() == 0
    # folding continues on the compacted dir
    positional_partials_batch(
        spark.createDataFrame([(4, "beta beta")], schema), 0, out
    )
    want = canon(
        positional_index(
            spark.createDataFrame(
                [(1, "alpha beta"), (2, "alpha gamma"), (4, "beta beta")], schema
            )
        )
    )
    assert canon(positional_index_snapshot(spark, out)) == want
    with pytest.raises(ValueError, match="fresh"):
        compact_index_state(spark, s, out)


def test_use_rocksdb_state_provider_actually_engages(spark, tmp_path):
    """use_rocksdb_state must not silently no-op: a stateful streaming
    query started after the switch reports RocksDB state-store metrics
    (lastProgress.stateOperators.customMetrics carries rocksdb* keys,
    which the default HDFSBackedStateStoreProvider never emits).
    Restores the provider afterwards so other tests keep the default."""
    from kspp_spark.streaming.core import count_by_key_stream, use_rocksdb_state

    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key, None)
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a",), ("b",), ("a",)], "k string"
    ).coalesce(1).write.mode("append").parquet(in_dir)
    try:
        use_rocksdb_state(spark)
        src = spark.readStream.schema("k string").parquet(in_dir)
        counted = count_by_key_stream(src, "k")
        q = (
            counted.writeStream.outputMode("update")
            .format("memory")
            .queryName("rocksdb_probe")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        progress = q.recentProgress
        assert progress, "query produced no progress events"
        state_ops = [p["stateOperators"] for p in progress if p["stateOperators"]]
        assert state_ops, "no stateful operator in progress metrics"
        metrics = state_ops[-1][0].get("customMetrics", {})
        rocks_keys = [m for m in metrics if "rocksdb" in m.lower()]
        assert rocks_keys, f"RocksDB provider not engaged: {sorted(metrics)}"
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


@pytest.mark.slow
def test_rocksdb_frontier_state_spills_at_1m_keys(spark, tmp_path):
    """The 'use RocksDB for crawl-scale key counts' claim, TESTED
    (VERDICT r9 item #5): the streaming frontier holds 1M canonical
    URLs of first-seen state on the RocksDB provider with a small
    write buffer, and (a) the provider is engaged (rocksdb* custom
    metrics), (b) state row count is exactly the 1M distinct keys,
    (c) reported RocksDB memory stays BOUNDED — far below what 1M
    heap rows would cost — because the working set lives in SST
    files on local disk, not on the executor heap."""
    from kspp_spark.streaming.core import use_rocksdb_state
    from kspp_spark.streaming.frontier import frontier_stream

    n = 1_000_000
    in_dir = str(tmp_path / "frontier_1m_in")
    ckpt = str(tmp_path / "frontier_1m_ckpt")
    # 1M distinct canonical URLs over 1k hosts, built JVM-side
    spark.range(n).selectExpr(
        "concat('https://h', id % 1000, '.example.com/p', id) AS url",
        "'gen' AS via",
    ).repartition(4).write.mode("overwrite").parquet(in_dir)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    buf_key = "spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB"
    use_rocksdb_state(spark)
    spark.conf.set(buf_key, "8")  # small memtable -> real SST spill
    try:
        src = (
            spark.readStream.schema("url string, via string")
            .option("maxFilesPerTrigger", 2)
            .parquet(in_dir)
        )
        q = (
            frontier_stream(src)
            .writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(560)
        ops = [
            p["stateOperators"][0]
            for p in q.recentProgress
            if p.get("stateOperators")
        ]
        assert ops, "no state operator progress"
        last = ops[-1]
        assert last["numRowsTotal"] == n, last["numRowsTotal"]
        custom = last.get("customMetrics") or {}
        rocks = {k: v for k, v in custom.items() if k.startswith("rocksdb")}
        assert rocks, f"RocksDB not engaged: {sorted(custom)}"
        # state reached disk: SST files hold the key set, and the
        # 8MB memtable genuinely flushed (bytes written by flush > 0)
        sst = rocks.get("rocksdbSstFileSize", 0)
        assert sst > 0, f"no SST spill at 1M keys: {rocks}"
        flushed = sum(
            rocks.get(k, 0)
            for k in (
                "rocksdbTotalBytesWrittenByFlush",
                "rocksdbTotalBytesWrittenByCompaction",
            )
        )
        assert flushed > 0, f"memtable never flushed to disk: {rocks}"
        # memory bounded: the only resident-memory figure the 4.1
        # provider publishes is the pinned-block-cache usage — it must
        # sit far below the SST footprint (the key set lives on disk,
        # not pinned on the heap/off-heap cache)
        pinned = rocks.get("rocksdbPinnedBlocksMemoryUsage")
        assert pinned is not None and pinned < 256 * 1024 * 1024, rocks
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )
        spark.conf.unset(buf_key)


def test_incremental_index_seq_mode_ignores_stale_updates(spark, tmp_path):
    """EVENT-ordered changelog merge (mem_store.h:64-83): with seq_col,
    a late-arriving STALE update or STALE delete (lower seq in a LATER
    epoch) loses the merge and is ignored — for postings and the
    doc-length fold; compaction preserves the winning seqs so
    staleness protection survives a rewrite."""
    from kspp_spark.functions.text import positional_index
    from kspp_spark.streaming.index_incremental import (
        compact_index_state,
        doc_lengths_snapshot,
        positional_index_snapshot,
        positional_partials_batch,
    )

    schema = "doc_id long, text string, seq long"
    # epoch 0: current versions
    b0 = [(1, "alpha beta", 20), (2, "gamma delta", 20), (3, "beta beta", 20)]
    # epoch 1: doc1 STALE update (seq 10 < 20) -> ignored;
    #          doc2 STALE delete -> ignored;
    #          doc3 FRESH update (seq 30) -> supersedes
    b1 = [(1, "should never appear", 10), (2, None, 10), (3, "beta gamma", 30)]
    final = [(1, "alpha beta"), (2, "gamma delta"), (3, "beta gamma")]

    s = str(tmp_path / "pidx")
    dlen = str(tmp_path / "dlen")
    positional_partials_batch(
        spark.createDataFrame(b0, schema), 0, s, doclen_dir=dlen, seq_col="seq"
    )
    positional_partials_batch(
        spark.createDataFrame(b1, schema), 1, s, doclen_dir=dlen, seq_col="seq"
    )

    def canon(df):
        return sorted(
            (r.term, r.doc_id, r.tf, r.df, tuple(r.positions))
            for r in df.collect()
        )

    want = canon(positional_index(
        spark.createDataFrame(final, "doc_id long, text string")
    ))
    assert canon(positional_index_snapshot(spark, s)) == want
    assert sorted(
        (r.doc_id, r.dl) for r in doc_lengths_snapshot(spark, dlen).collect()
    ) == [(1, 2), (2, 2), (3, 2)]

    # compaction keeps winning seqs: the same stale update REPLAYED
    # against the compacted state still loses
    out = str(tmp_path / "compacted")
    compact_index_state(spark, s, out)
    assert canon(positional_index_snapshot(spark, out)) == want
    positional_partials_batch(
        spark.createDataFrame([(1, "still stale", 5)], schema), 0, out,
        seq_col="seq",
    )
    assert canon(positional_index_snapshot(spark, out)) == want
    # and a genuinely fresh update supersedes post-compaction
    positional_partials_batch(
        spark.createDataFrame([(1, "fresh text", 99)], schema), 1, out,
        seq_col="seq",
    )
    got_terms = {
        r.term for r in positional_index_snapshot(spark, out).collect()
    }
    assert "fresh" in got_terms and "stale" not in got_terms


def test_compaction_preserves_tombstone_seq_no_resurrection(spark, tmp_path):
    """Regression (round-6 review): a TOMBSTONED doc's winning version
    is its sentinel alone — compaction must keep that sentinel (with
    the delete's seq), or a later STALE update would resurrect the
    deleted doc with older-than-delete content."""
    from kspp_spark.streaming.index_incremental import (
        compact_index_state,
        positional_index_snapshot,
        positional_partials_batch,
    )

    schema = "doc_id long, text string, seq long"
    s = str(tmp_path / "pidx")
    out = str(tmp_path / "compacted")
    positional_partials_batch(
        spark.createDataFrame([(1, "doomed words", 20)], schema), 0, s,
        seq_col="seq",
    )
    positional_partials_batch(
        spark.createDataFrame([(1, None, 30)], schema), 1, s, seq_col="seq"
    )
    assert positional_index_snapshot(spark, s).count() == 0
    compact_index_state(spark, s, out)
    assert positional_index_snapshot(spark, out).count() == 0
    # the stale pre-delete update replays against the COMPACTED state:
    # the kept sentinel (seq 30) must still win
    positional_partials_batch(
        spark.createDataFrame([(1, "stale resurrection", 10)], schema), 0,
        out, seq_col="seq",
    )
    assert positional_index_snapshot(spark, out).count() == 0
    # a post-delete write is a legitimate re-add
    positional_partials_batch(
        spark.createDataFrame([(1, "legit readd", 40)], schema), 1, out,
        seq_col="seq",
    )
    assert {
        r.term for r in positional_index_snapshot(spark, out).collect()
    } == {"legit", "readd"}


def test_seq_mode_migration_from_seqless_state(spark, tmp_path):
    """Migration semantics: epochs folded BEFORE seq_col was adopted
    surface with NULL _seq (mergeSchema) and rank below every real
    seq — seq-ed writes supersede legacy rows, while docs only in the
    legacy epochs keep serving by epoch order (no silent data loss)."""
    from kspp_spark.streaming.index_incremental import (
        index_partials_batch,
        index_snapshot,
    )

    s = str(tmp_path / "idx")
    index_partials_batch(
        spark.createDataFrame(
            [(1, "legacy one"), (2, "legacy two")], "doc_id long, text string"
        ),
        0,
        s,
    )
    index_partials_batch(
        spark.createDataFrame(
            [(1, "seqed update", 5)], "doc_id long, text string, seq long"
        ),
        1,
        s,
        seq_col="seq",
    )
    got = {
        r.term: r.postings
        for r in index_snapshot(spark, s, min_df=1).collect()
    }
    assert "legacy" in got and got["legacy"] == "2"  # doc 2 still served
    assert got.get("seqed") == "1" and got.get("update") == "1"
    assert "one" not in got  # doc 1's legacy rows superseded


def test_dedup_seq_mode_migration_from_seqless_state(spark, tmp_path):
    """The dedup store follows the same migration rule as the index
    store: bands folded before seq_col was adopted carry NULL _seq and
    rank below every real seq (even seq 0), so seq-ed updates and
    deletes supersede them, while a doc present only in the legacy
    epochs keeps probing."""
    from kspp_spark.streaming.dedup_incremental import probe_and_update

    state = str(tmp_path / "state")
    pairs_dir = str(tmp_path / "pairs")
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different content about spark aggregation plans here"
    text_c = "a third unrelated sentence on parquet files and epoch directories"
    text_d = "yet another document describing kafka offsets and consumer groups"

    probe_and_update(
        spark.createDataFrame(
            [(1, text_a), (2, text_b), (3, text_d)], "doc_id long, text string"
        ),
        0, state, pairs_dir,
    )
    seq_schema = "doc_id long, text string, seq long"
    # the lowest real seq still beats the legacy rows: doc 1 -> C, doc 3 deleted
    probe_and_update(
        spark.createDataFrame([(1, text_c, 0), (3, None, 0)], seq_schema),
        1, state, pairs_dir, seq_col="seq",
    )
    probe_and_update(
        spark.createDataFrame(
            [(10, text_a, 5), (11, text_b, 5), (12, text_c, 5), (13, text_d, 5)],
            seq_schema,
        ),
        2, state, pairs_dir, seq_col="seq",
    )
    got = sorted(
        (r.new_id, r.dup_of)
        for r in spark.read.parquet(str(tmp_path / "pairs" / "epoch=2")).collect()
    )
    # 10 finds nothing (doc 1's legacy A lost), 11 finds legacy-only
    # doc 2, 12 finds doc 1's seq-ed C, 13 finds nothing (doc 3 deleted)
    assert got == [(11, 2), (12, 1)]


def test_boilerplate_fold_matches_batch_and_handles_changelog(spark, tmp_path):
    """Streaming boilerplate-frequency fold: (1) the snapshot over
    appended batches equals the batch detector over the full corpus;
    (2) changelog semantics — a re-crawled doc's old units stop
    counting and a tombstone removes the doc's contribution — so the
    set equals a batch recount over the LIVE corpus only; (3) replay
    is idempotent; (4) the snapshot feeds the same rewrite as the
    batch path."""
    from kspp_spark.functions.text import (
        boilerplate_units,
        remove_boilerplate,
        remove_boilerplate_with_set,
    )
    from kspp_spark.streaming.boilerplate_incremental import (
        boilerplate_partials_batch,
        boilerplate_set_snapshot,
    )

    state = str(tmp_path / "bl")
    schema = "doc_id long, text string"
    footer = "subscribe now"
    b0 = [(1, f"unique one\n{footer}"), (2, f"{footer}\nother stuff")]
    b1 = [(3, f"third doc\n{footer}"), (4, "fully original")]

    def canon(df):
        return sorted((r.unit_digest, r.n_docs) for r in df.collect())

    boilerplate_partials_batch(
        spark.createDataFrame(b0, schema), 0, state, split_pattern=r"\n"
    )
    boilerplate_partials_batch(
        spark.createDataFrame(b1, schema), 1, state, split_pattern=r"\n"
    )
    snap = boilerplate_set_snapshot(spark, state, min_docs=2)
    full = spark.createDataFrame(b0 + b1, schema)
    batch = boilerplate_units(
        full, split_pattern=r"\n", min_docs=2, keep_unit=False
    )
    assert canon(snap) == canon(batch)

    # (4) rewrite against the snapshot == batch removal on the corpus
    got = {
        r.doc_id: r.clean_text
        for r in remove_boilerplate_with_set(
            full, snap, split_pattern=r"\n"
        ).collect()
    }
    want = {
        r.doc_id: r.clean_text
        for r in remove_boilerplate(full, split_pattern=r"\n", min_docs=2).collect()
    }
    assert got == want
    assert got[1] == "unique one"  # the shared footer is stripped

    # (2) changelog: doc 2 re-crawled WITHOUT the footer, doc 3
    # tombstoned -> footer now lives only in doc 1 -> below min_docs
    b2 = [(2, "recrawled clean page"), (3, None)]
    boilerplate_partials_batch(
        spark.createDataFrame(b2, schema), 2, state, split_pattern=r"\n"
    )
    snap2 = boilerplate_set_snapshot(spark, state, min_docs=2)
    live = spark.createDataFrame(
        [b0[0], (2, "recrawled clean page"), b1[1]], schema
    )
    live_batch = boilerplate_units(
        live, split_pattern=r"\n", min_docs=2, keep_unit=False
    )
    assert canon(snap2) == canon(live_batch)
    assert canon(snap2) == []  # nothing repeats across the live docs

    # (3) replay idempotency: re-fold epoch 2
    boilerplate_partials_batch(
        spark.createDataFrame(b2, schema), 2, state, split_pattern=r"\n"
    )
    assert canon(boilerplate_set_snapshot(spark, state, min_docs=2)) == canon(
        live_batch
    )


def test_boilerplate_bootstrap_then_stream(spark, tmp_path):
    """epoch=-1 batch bootstrap + streamed updates: the set equals a
    batch recount over the live corpus; a stream tombstone supersedes
    a bootstrapped doc across the boundary; non-fresh dirs refused."""
    import pytest as _pt

    from kspp_spark.functions.text import boilerplate_units
    from kspp_spark.streaming.boilerplate_incremental import (
        boilerplate_bootstrap,
        boilerplate_partials_batch,
        boilerplate_set_snapshot,
        compact_boilerplate_state,
    )

    state = str(tmp_path / "bl")
    schema = "doc_id long, text string"
    footer = "all rights reserved"
    corpus = [(1, f"page one\n{footer}"), (2, f"page two\n{footer}"),
              (3, f"page three\n{footer}")]
    boilerplate_bootstrap(
        spark.createDataFrame(corpus, schema), state, split_pattern=r"\n"
    )

    def canon(df):
        return sorted((r.unit_digest, r.n_docs) for r in df.collect())

    snap = boilerplate_set_snapshot(spark, state, min_docs=3)
    batch = boilerplate_units(
        spark.createDataFrame(corpus, schema),
        split_pattern=r"\n", min_docs=3, keep_unit=False,
    )
    assert canon(snap) == canon(batch) and len(canon(snap)) == 1

    # stream epoch 0: tombstone doc 3 -> footer drops to 2 live docs
    boilerplate_partials_batch(
        spark.createDataFrame([(3, None)], schema), 0, state,
        split_pattern=r"\n",
    )
    assert canon(boilerplate_set_snapshot(spark, state, min_docs=3)) == []
    live = boilerplate_units(
        spark.createDataFrame(corpus[:2], schema),
        split_pattern=r"\n", min_docs=2, keep_unit=False,
    )
    assert canon(boilerplate_set_snapshot(spark, state, min_docs=2)) == canon(live)

    # refuses a non-fresh directory
    with _pt.raises(ValueError, match="fresh"):
        boilerplate_bootstrap(
            spark.createDataFrame(corpus, schema), state, split_pattern=r"\n"
        )

    # compaction preserves the set
    out = str(tmp_path / "bl2")
    compact_boilerplate_state(spark, state, out)
    assert canon(boilerplate_set_snapshot(spark, out, min_docs=2)) == canon(live)


def test_incremental_dedup_changelog_supersede_and_tombstone(spark, tmp_path):
    """Changelog semantics for the near-dup state: a re-emitted doc's
    OLD content stops matching (latest-epoch-wins), its NEW content
    matches; a tombstoned doc stops generating candidates entirely;
    replaying an epoch emits no duplicate pairs."""
    from kspp_spark.streaming.dedup_incremental import probe_and_update

    state = str(tmp_path / "state")
    pairs_dir = str(tmp_path / "pairs")
    schema = "doc_id long, text string"
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different content about spark aggregation plans here"

    def pairs():
        return sorted(
            (r.new_id, r.dup_of)
            for r in spark.read.parquet(pairs_dir).select("new_id", "dup_of").collect()
        )

    # epoch 0: doc 1 = A
    probe_and_update(spark.createDataFrame([(1, text_a)], schema), 0, state, pairs_dir)
    # epoch 1: doc 1 RE-EMITTED as B (supersedes A), doc 2 tombstoned-
    # before-known is irrelevant; also add doc 9 = B's near-copy later
    probe_and_update(spark.createDataFrame([(1, text_b)], schema), 1, state, pairs_dir)
    # epoch 2: doc 2 = A -> must NOT pair with doc 1 (its A is stale)
    probe_and_update(spark.createDataFrame([(2, text_a)], schema), 2, state, pairs_dir)
    assert pairs() == []
    # epoch 3: doc 3 = B -> pairs with doc 1 (its live content)
    probe_and_update(spark.createDataFrame([(3, text_b)], schema), 3, state, pairs_dir)
    assert pairs() == [(3, 1)]
    # epoch 4: doc 1 tombstoned (NULL text -> no signature rows)
    probe_and_update(spark.createDataFrame([(1, None)], schema), 4, state, pairs_dir)
    # epoch 5: doc 4 = B -> doc 1 is dead; only doc 3 matches
    probe_and_update(spark.createDataFrame([(4, text_b)], schema), 5, state, pairs_dir)
    assert pairs() == [(3, 1), (4, 3)]
    # replay epoch 5 (checkpoint recovery): pairs unchanged
    probe_and_update(spark.createDataFrame([(4, text_b)], schema), 5, state, pairs_dir)
    assert pairs() == [(3, 1), (4, 3)]


def test_incremental_dedup_srp_tombstone(spark, tmp_path):
    """Embedding-family changelog: a NULL embedding yields no
    signature rows (only the presence sentinel), so the tombstoned
    vector stops matching future near-copies."""
    from kspp_spark.streaming.dedup_incremental import (
        probe_and_update,
        srp_banded_signatures,
    )

    state = str(tmp_path / "state")
    pairs_dir = str(tmp_path / "pairs")
    schema = "vec_id long, embedding array<float>"
    base = [1.0 if d % 3 == 0 else -0.5 for d in range(16)]

    def banded(df):
        return srp_banded_signatures(df, planes=32, dims=16, bands=4)

    def pairs():
        return sorted(
            (r.new_id, r.dup_of)
            for r in spark.read.parquet(pairs_dir).select("new_id", "dup_of").collect()
        )

    probe_and_update(
        spark.createDataFrame([(1, base)], schema), 0, state, pairs_dir,
        id_col="vec_id", banded_fn=banded,
    )
    probe_and_update(
        spark.createDataFrame([(2, base)], schema), 1, state, pairs_dir,
        id_col="vec_id", banded_fn=banded,
    )
    assert pairs() == [(2, 1)]  # identical vector pairs while 1 lives
    probe_and_update(
        spark.createDataFrame([(1, None)], schema), 2, state, pairs_dir,
        id_col="vec_id", banded_fn=banded,
    )
    probe_and_update(
        spark.createDataFrame([(3, base)], schema), 3, state, pairs_dir,
        id_col="vec_id", banded_fn=banded,
    )
    assert pairs() == [(2, 1), (3, 2)]  # 1 is dead; only 2 matches


def test_incremental_dedup_changelog_edge_cases(spark, tmp_path):
    """The two review-verified leaks plus compaction: (1) two
    tombstones never pair (NULL text yields NO signature rows — not
    the empty-string signature); (2) content superseded IN THE SAME
    BATCH as a new doc carrying the old content does not pair (the
    replay-safe current-epoch exclusion must not resurrect prior
    epochs of batch-touched ids); (3) compaction preserves probe
    results while dropping superseded epochs."""
    from kspp_spark.streaming.dedup_incremental import (
        compact_dedup_state,
        probe_and_update,
    )

    state = str(tmp_path / "state")
    pairs_dir = str(tmp_path / "pairs")
    schema = "doc_id long, text string"
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different content about spark aggregation plans here"

    def pairs(d=pairs_dir):
        return sorted(
            (r.new_id, r.dup_of)
            for r in spark.read.parquet(d).select("new_id", "dup_of").collect()
        )

    # (2) same-batch supersede: epoch 0 doc 1 = A; epoch 1 re-emits
    # doc 1 as B AND introduces doc 5 = A -> no (5, 1) stale pair
    probe_and_update(spark.createDataFrame([(1, text_a)], schema), 0, state, pairs_dir)
    probe_and_update(
        spark.createDataFrame([(1, text_b), (5, text_a)], schema), 1, state, pairs_dir
    )
    assert pairs() == []
    # (1) tombstone two docs in different epochs -> no tombstone pair
    probe_and_update(spark.createDataFrame([(1, None)], schema), 2, state, pairs_dir)
    probe_and_update(spark.createDataFrame([(5, None)], schema), 3, state, pairs_dir)
    assert pairs() == []
    # live content still probes: doc 6 = B matched nothing (1 is dead)
    probe_and_update(spark.createDataFrame([(6, text_b)], schema), 4, state, pairs_dir)
    assert pairs() == []
    # (3) compaction: probe results identical off the compacted state
    state2 = str(tmp_path / "state2")
    pairs2 = str(tmp_path / "pairs2")
    compact_dedup_state(spark, state, state2)
    probe_and_update(spark.createDataFrame([(7, text_b)], schema), 0, state2, pairs2)
    assert pairs(pairs2) == [(7, 6)]
    import pytest as _pt

    with _pt.raises(ValueError, match="fresh"):
        compact_dedup_state(spark, state, state2)

    # argument validation happens BEFORE any write: sigs_dir without
    # sigs_out_dir must fail without touching the band out_dir, so the
    # corrected retry still sees a fresh directory
    state3 = str(tmp_path / "state3")
    with _pt.raises(ValueError, match="sigs_out_dir"):
        compact_dedup_state(spark, state, state3, sigs_dir=state)
    compact_dedup_state(spark, state, state3)  # retry succeeds


def test_incremental_dedup_epoch_guard(spark, tmp_path):
    """A fresh checkpoint pointed at a RETAINED state dir restarts
    epoch ids at 0 while older retained epochs carry higher numbers —
    the fold must refuse loudly instead of silently serving stale
    signatures as each doc's newest version (same guard as the
    index/rollup folds)."""
    from kspp_spark.streaming.dedup_incremental import probe_and_update

    state = str(tmp_path / "state")
    pairs_dir = str(tmp_path / "pairs")
    schema = "doc_id long, text string"
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    probe_and_update(spark.createDataFrame([(1, text_a)], schema), 0, state, pairs_dir)
    probe_and_update(spark.createDataFrame([(2, text_a)], schema), 1, state, pairs_dir)
    with pytest.raises(ValueError, match="newer than the current"):
        probe_and_update(
            spark.createDataFrame([(3, text_a)], schema), 0, state, pairs_dir
        )
    # replaying the CURRENT epoch stays fine (checkpoint recovery)
    probe_and_update(spark.createDataFrame([(2, text_a)], schema), 1, state, pairs_dir)


@pytest.mark.full
def test_incremental_dedup_seq_event_ordered_lww(spark, tmp_path):
    """seq mode: a late-arriving STALE update or delete (lower seq in
    a newer epoch) is IGNORED — the doc keeps its fresher content, the
    stale content pairs with nothing, and a fresh delete still works
    (mem_store.h:64-83's stale-update/stale-delete rule). Within-batch
    collisions resolve max_by(seq)."""
    from kspp_spark.streaming.dedup_incremental import probe_and_update

    state = str(tmp_path / "state")
    pairs_dir = str(tmp_path / "pairs")
    schema = "doc_id long, text string, seq long"
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different content about spark aggregation plans here"

    def step(rows, epoch):
        probe_and_update(
            spark.createDataFrame(rows, schema), epoch, state, pairs_dir,
            seq_col="seq",
        )

    def pairs():
        return sorted(
            (r.new_id, r.dup_of)
            for r in spark.read.parquet(pairs_dir).select("new_id", "dup_of").collect()
        )

    step([(1, text_a, 10)], 0)
    step([(2, text_b, 20)], 1)
    # STALE update: doc 1 -> B at seq 5 (< 10). Must NOT pair with
    # doc 2 (=B) and must NOT supersede doc 1's A.
    step([(1, text_b, 5)], 2)
    assert pairs() == []
    # doc 1 still serves A: a new A doc pairs with it
    step([(3, text_a, 30)], 3)
    assert pairs() == [(3, 1)]
    # STALE delete: tombstone at seq 7 (< 10) is ignored
    step([(1, None, 7)], 4)
    step([(4, text_a, 40)], 5)
    assert pairs() == [(3, 1), (4, 1), (4, 3)]
    # FRESH delete takes effect
    step([(1, None, 50)], 6)
    step([(5, text_a, 60)], 7)
    assert pairs() == [(3, 1), (4, 1), (4, 3), (5, 3), (5, 4)]
    # within-batch collision: doc 6 emitted twice, winner is seq 100=B
    step([(6, text_a, 90), (6, text_b, 100)], 8)
    assert (9, 9) not in pairs()
    assert pairs() == [(2, 6), (3, 1), (4, 1), (4, 3), (5, 3), (5, 4)] or \
        pairs() == [(3, 1), (4, 1), (4, 3), (5, 3), (5, 4), (6, 2)]


@pytest.mark.full
def test_incremental_dedup_seq_batch_equivalence(spark, tmp_path):
    """Under RANDOM update/delete interleavings with stale writes
    mixed in, a final-epoch probe doc pairs with exactly the docs a
    BATCH banded-signature run over the LIVE (seq-LWW-resolved)
    corpus says it should — and compaction preserves that."""
    import random

    from kspp_spark.streaming.dedup_incremental import (
        banded_signatures,
        compact_dedup_state,
        probe_and_update,
    )

    texts = {
        "A": "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
        "B": "kilo lima mike november oscar papa quebec romeo sierra tango",
        "C": "uniform victor whiskey xray yankee zulu one two three four",
    }
    schema = "doc_id long, text string, seq long"
    rng = random.Random(707)
    truth: dict = {}  # doc_id -> (text_key or None, seq) after LWW
    state = str(tmp_path / "state")
    pairs_dir = str(tmp_path / "pairs")
    epoch = 0
    for _ in range(12):
        rows = []
        for doc in rng.sample(range(1, 7), rng.randint(1, 3)):
            kind = rng.choice(["update", "update", "stale", "delete"])
            cur_seq = truth.get(doc, (None, -1))[1]
            if kind == "stale" and cur_seq >= 0:
                # strictly lower seq than the doc's current winner
                rows.append((doc, texts[rng.choice("ABC")], cur_seq - 1))
                continue
            seq = cur_seq + rng.randint(1, 5) + 1
            key = None if kind == "delete" else rng.choice("ABC")
            rows.append((doc, texts[key] if key else None, seq))
            truth[doc] = (key, seq)
        probe_and_update(
            spark.createDataFrame(rows, schema), epoch, state, pairs_dir,
            seq_col="seq",
        )
        epoch += 1

    def probe(state_dir, pairs_out, probe_epoch):
        q = [(100, texts["A"], 10_000), (200, texts["B"], 10_000)]
        probe_and_update(
            spark.createDataFrame(q, schema), probe_epoch, state_dir, pairs_out,
            seq_col="seq",
        )
        return sorted(
            (r.new_id, r.dup_of)
            for r in spark.read.parquet(
                os.path.join(pairs_out, f"epoch={probe_epoch}")
            ).collect()
        )

    # expected: batch band collisions of the probe docs against the
    # live corpus (identical text -> all bands collide; disjoint-vocab
    # text -> none)
    live = [
        (doc, texts[key]) for doc, (key, _) in truth.items() if key is not None
    ]
    corpus = spark.createDataFrame(live + [(100, texts["A"]), (200, texts["B"])],
                                   "doc_id long, text string")
    b = banded_signatures(corpus)
    qb = b.filter(F.col("id").isin([100, 200]))
    cb = b.filter(~F.col("id").isin([100, 200]))
    expected = sorted(
        set(
            (r.qid, r.id)
            for r in qb.select(F.col("id").alias("qid"), "band", "bhash")
            .join(cb, ["band", "bhash"])
            .collect()
        )
    )
    got = probe(state, str(tmp_path / "p1"), epoch)
    assert got == expected
    # compaction (seq-preserving) serves the identical probe
    state2 = str(tmp_path / "state2")
    compact_dedup_state(spark, state, state2)
    assert probe(state2, str(tmp_path / "p3"), 0) == expected
    # and a stale write still loses AFTER compaction (the sentinel
    # kept the winning seq)
    dead = [d for d, (k, _) in truth.items() if k is None]
    if dead:
        doc = dead[0]
        probe_and_update(
            spark.createDataFrame([(doc, texts["A"], 0)], schema), 1,
            state2, str(tmp_path / "p4"), seq_col="seq",
        )
        got2 = sorted(
            r.dup_of
            for r in spark.read.parquet(str(tmp_path / "p4")).collect()
        )
        assert got2 == []  # resurrection attempt pairs with nothing


@pytest.mark.full
def test_incremental_dedup_verify_scores(spark, tmp_path):
    """verify=True: pairs come out scored with the MinHash Jaccard
    estimate (fraction of equal signature components) against each
    member's WINNING signature — identical docs score exactly 1.0,
    planted near-dups score exactly what a batch minhash_signatures
    comparison says, and tombstoned members drop out of the verify
    lookup."""
    from kspp_spark.functions.dedup import minhash_signatures
    from kspp_spark.streaming.dedup_incremental import probe_and_update

    state = str(tmp_path / "state")
    pairs_dir = str(tmp_path / "pairs")
    schema = "doc_id long, text string"
    text_a = (
        "the quick brown fox jumps over the lazy dog while the crowd "
        "watches from the old wooden bridge near the river bank today"
    )
    # one word changed -> high-but-not-1.0 estimated jaccard
    text_a2 = text_a.replace("wooden", "stone")

    def step(rows, epoch):
        probe_and_update(
            spark.createDataFrame(rows, schema), epoch, state, pairs_dir,
            verify=True, min_score=0.5,
        )

    step([(1, text_a)], 0)
    step([(2, text_a)], 1)  # identical -> score 1.0
    step([(3, text_a2)], 2)  # near-dup -> estimator score
    rows = {
        (r.new_id, r.dup_of): (r.score, r.verified)
        for r in spark.read.parquet(pairs_dir).collect()
    }
    assert rows[(2, 1)] == (1.0, True)
    # expected estimator score from the BATCH signature path
    sigs = {
        r.doc_id: r.sig
        for r in minhash_signatures(
            spark.createDataFrame([(1, text_a), (3, text_a2)], schema)
        ).collect()
    }
    est = sum(x == y for x, y in zip(sigs[1], sigs[3])) / len(sigs[1])
    assert 0 < est < 1.0
    for pair in [(3, 1), (3, 2)]:
        score, verified = rows[pair]
        assert abs(score - est) < 1e-12
        assert verified == (est >= 0.5)
    # tombstone doc 1; a new identical doc pairs only with live docs
    step([(1, None)], 3)
    step([(4, text_a)], 4)
    e4 = {
        (r.new_id, r.dup_of): r.score
        for r in spark.read.parquet(os.path.join(pairs_dir, "epoch=4")).collect()
    }
    assert (4, 1) not in e4 and e4[(4, 2)] == 1.0
    # checkpoint-recovery REPLAY of the current epoch with verify on:
    # identical scored pairs, no duplicates, sigs state still serves
    step([(4, text_a)], 4)
    e4b = {
        (r.new_id, r.dup_of): r.score
        for r in spark.read.parquet(os.path.join(pairs_dir, "epoch=4")).collect()
    }
    assert e4b == e4


def test_incremental_dedup_verify_srp_family(spark, tmp_path):
    """Embedding-family verify: SRP hamming similarity scores — an
    identical vector scores 1.0 verified; the sigs state tombstones
    with the doc (NULL embedding -> NULL sig row)."""
    from kspp_spark.streaming.dedup_incremental import (
        probe_and_update,
        srp_banded_signatures,
        srp_sig_fn,
        srp_score_fn,
    )

    state = str(tmp_path / "state")
    pairs_dir = str(tmp_path / "pairs")
    schema = "vec_id long, embedding array<float>"
    base = [1.0 if d % 3 == 0 else -0.5 for d in range(16)]

    def step(rows, epoch):
        probe_and_update(
            spark.createDataFrame(rows, schema), epoch, state, pairs_dir,
            id_col="vec_id",
            banded_fn=lambda df: srp_banded_signatures(df, planes=32, dims=16, bands=4),
            verify=True,
            sig_fn=srp_sig_fn(planes=32, dims=16),
            score_fn=srp_score_fn(32),
            min_score=0.9,
        )

    step([(1, base)], 0)
    step([(2, base)], 1)
    got = [
        (r.new_id, r.dup_of, r.score, r.verified)
        for r in spark.read.parquet(pairs_dir).collect()
    ]
    assert got == [(2, 1, 1.0, True)]
    step([(1, None)], 2)
    step([(3, base)], 3)
    e3 = [
        (r.new_id, r.dup_of)
        for r in spark.read.parquet(os.path.join(pairs_dir, "epoch=3")).collect()
    ]
    assert e3 == [(3, 2)]


def test_incremental_near_dedup_stream_seq_verify_e2e(spark, tmp_path):
    """Full writeStream wiring with seq-mode changelog AND the verify
    stage: across real micro-batches, an identical re-arrival scores
    1.0 verified, a stale update is ignored, and the sigs state folds
    alongside the band state under the stream's checkpoint."""
    from pyspark.sql import types as T2

    from kspp_spark.streaming.dedup_incremental import (
        dedup_sigs_snapshot,
        incremental_near_dedup,
    )

    doc_schema = T2.StructType(
        [
            T2.StructField("doc_id", T2.LongType()),
            T2.StructField("text", T2.StringType()),
            T2.StructField("seq", T2.LongType()),
        ]
    )
    in_dir = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    other = "completely different content about spark execution plans " * 5

    def run():
        src = spark.readStream.schema(doc_schema).parquet(in_dir)
        q = incremental_near_dedup(
            src, state, pairs, ckpt,
            seq_col="seq", verify=True, min_score=0.5,
        )
        q.awaitTermination(120)

    import time as _t

    spark.createDataFrame([(1, base, 10), (2, other, 10)], doc_schema).coalesce(
        1
    ).write.mode("append").parquet(in_dir)
    run()
    _t.sleep(1.1)
    # identical re-arrival of doc 1's content as doc 3 + a STALE
    # update of doc 1 (seq 5 < 10: ignored — doc 1 keeps `base`)
    spark.createDataFrame(
        [(3, base, 20), (1, other, 5)], doc_schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    run()
    got = {
        (r.new_id, r.dup_of): (r.score, r.verified)
        for r in spark.read.parquet(pairs).collect()
    }
    assert got[(3, 1)] == (1.0, True)  # vs doc 1's LIVE (non-stale) text
    assert (3, 2) not in got and (1, 2) not in got
    # the sigs state serves winning signatures for all three docs
    sigs = {r.id: r.sig for r in dedup_sigs_snapshot(spark, state + "_sigs").collect()}
    assert set(sigs) == {1, 2, 3}
    assert sigs[1] == sigs[3] != sigs[2]  # doc 1 kept base's signature


def test_incremental_dedup_stale_write_pairs_nothing_within_batch(spark, tmp_path):
    """A STALE update arriving in the SAME batch as a new doc carrying
    matching content must pair with nothing in either direction: the
    stale content never probes (not within the batch, not against
    state), and the doc's live state content stays probe-able."""
    from kspp_spark.streaming.dedup_incremental import probe_and_update

    state = str(tmp_path / "state")
    pairs_dir = str(tmp_path / "pairs")
    schema = "doc_id long, text string, seq long"
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different content about spark aggregation plans here"

    def step(rows, epoch):
        probe_and_update(
            spark.createDataFrame(rows, schema), epoch, state, pairs_dir,
            seq_col="seq",
        )

    def pairs():
        return sorted(
            (r.new_id, r.dup_of)
            for r in spark.read.parquet(pairs_dir).select("new_id", "dup_of").collect()
        )

    step([(1, text_a, 10)], 0)
    # one batch: stale doc 1 -> B (seq 5 < 10) + new doc 2 = B.
    # Neither a within-batch (2,1)/(1,2) nor any cross pair may appear.
    step([(1, text_b, 5), (2, text_b, 20)], 1)
    assert pairs() == []
    # doc 1 still serves A (the stale B never superseded it)
    step([(3, text_a, 30)], 2)
    assert pairs() == [(3, 1)]
    # and doc 2's B (which DID win — fresh insert) is probe-able
    step([(4, text_b, 40)], 3)
    assert pairs() == [(3, 1), (4, 2)]


def test_crawl_dedup_stream(spark, tmp_path):
    """Streaming latest-capture dedup: across micro-batches, a
    re-crawl of the same logical page (permuted params, default port,
    uppercase host) supersedes in state; the final table holds one
    winner per canonical URL."""
    from pyspark.sql import types as T2

    from kspp_spark.functions.web import crawl_dedup_stream

    schema = T2.StructType(
        [
            T2.StructField("url", T2.StringType()),
            T2.StructField("warc_date", T2.TimestampType()),
            T2.StructField("body", T2.StringType()),
        ]
    )
    in_dir = str(tmp_path / "crawl")

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    def run(name):
        src = spark.readStream.schema(schema).parquet(in_dir)
        q = (
            crawl_dedup_stream(src)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write(
        [
            ("http://ex.com/a?x=1&y=2", ts(10), "old-a"),
            ("http://ex.com/b", ts(10), "only-b"),
        ]
    )
    import time as _t

    _t.sleep(1.1)
    write([("http://EX.com:80/a?y=2&x=1", ts(20), "new-a")])
    run("crawl_t")
    got = {
        r.canon_url: (r.body, r.warc_date)
        for r in spark.sql("select * from crawl_t").collect()
    }
    assert got == {
        "http://ex.com/a?x=1&y=2": ("new-a", ts(20)),
        "http://ex.com/b": ("only-b", ts(10)),
    }


def test_incremental_dedup_srp_seq_mode(spark, tmp_path):
    """seq mode x embedding family: a stale vector update in a newer
    epoch is ignored, a fresh tombstone deletes, and the verify stage
    scores against the WINNING vector's signature."""
    from kspp_spark.streaming.dedup_incremental import (
        probe_and_update,
        srp_banded_signatures,
        srp_score_fn,
        srp_sig_fn,
    )

    state = str(tmp_path / "state")
    pairs_dir = str(tmp_path / "pairs")
    schema = "vec_id long, embedding array<float>, seq long"
    base = [1.0 if d % 3 == 0 else -0.5 for d in range(16)]
    other = [-1.0 if d % 2 == 0 else 0.75 for d in range(16)]

    def step(rows, epoch):
        probe_and_update(
            spark.createDataFrame(rows, schema), epoch, state, pairs_dir,
            id_col="vec_id", seq_col="seq",
            banded_fn=lambda df: srp_banded_signatures(df, planes=32, dims=16, bands=4),
            verify=True, sig_fn=srp_sig_fn(planes=32, dims=16),
            score_fn=srp_score_fn(32), min_score=0.9,
        )

    def pairs():
        return sorted(
            (r.new_id, r.dup_of, r.score, r.verified)
            for r in spark.read.parquet(pairs_dir).collect()
        )

    step([(1, base, 10)], 0)
    # STALE update: vector 1 -> other at seq 5: ignored
    step([(1, other, 5)], 1)
    step([(2, base, 20)], 2)  # pairs with 1's LIVE base vector
    assert pairs() == [(2, 1, 1.0, True)]
    # fresh tombstone deletes; a new base vector pairs only with 2
    step([(1, None, 30)], 3)
    step([(3, base, 40)], 4)
    assert pairs() == [(2, 1, 1.0, True), (3, 2, 1.0, True)]


def test_cms_stream_equals_batch_build(spark, tmp_path):
    """Sketch linearity under streaming: the complete-mode streaming
    aggregation over micro-batched input equals cms_build over the
    concatenated batches, cell for cell — the bounded-state streaming
    counter story (state = width x depth cells, never per-key)."""
    from kspp_spark.functions.sketch import cms_build, cms_stream

    in_dir = str(tmp_path / "cms_in")
    schema = "item string"
    b1 = [("x",), ("y",), ("x",), ("z",)]
    b2 = [("y",), ("x",), ("w",)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)   # force >1 micro-batch
        .parquet(in_dir)
    )
    q = (
        cms_stream(src, width=16, depth=3)
        .writeStream.format("memory")
        .queryName("cms_sk")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in spark.sql("select * from cms_sk").collect()
    }
    want = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_build(
            spark.createDataFrame(b1 + b2, schema), width=16, depth=3
        ).collect()
    }
    assert got == want and len(got) > 0


def test_event_transitions_stream_matches_batch(spark, tmp_path):
    """Per-user transition stream across micro-batches equals the
    batch lag-window form when arrival order respects event time —
    including the BATCH-BOUNDARY transitions a per-batch window would
    drop (user 1's c->d and user 2's b->a below cross the trigger)."""
    import time as _time

    from pyspark.sql import functions as F

    from kspp_spark.functions.sessions import (
        event_transitions,
        event_transitions_stream,
    )

    schema = "event_id long, user_id long, ts long, event_type string"
    b1 = [
        (1, 1, 100, "a"), (2, 1, 200, "b"), (3, 1, 300, "c"),
        (4, 2, 100, "a"), (5, 2, 100, "b"),   # ts tie -> event_id order
    ]
    b2 = [
        (6, 1, 400, "d"),                      # boundary: c -> d
        (7, 2, 500, "a"), (8, 2, 600, "b"),    # boundary: b -> a
    ]
    in_dir = str(tmp_path / "tr_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    _time.sleep(1.1)  # distinct mtimes -> deterministic file order
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        event_transitions_stream(src, tiebreak="event_id")
        .writeStream.format("memory")
        .queryName("tr_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("select * from tr_stream").collect()
    got = {}
    for r in streamed:
        k = (r["prev_type"], r["next_type"])
        got[k] = got.get(k, 0) + 1

    batch = spark.createDataFrame(b1 + b2, schema)
    want = {
        (r["prev_type"], r["next_type"]): r["n_transitions"]
        for r in event_transitions(batch, tiebreak="event_id").collect()
    }
    assert got == want
    # the two boundary transitions are present
    assert got[("c", "d")] == 1
    assert ("b", "a") in got


def test_hll_stream_equals_batch_registers(spark, tmp_path):
    """Register-max idempotence under streaming: the complete-mode
    streaming aggregation over micro-batched input equals
    hll_registers over the concatenated batches, register for
    register — including a key REPLAYED across batches, which max
    absorbs (the bounded-state distinct-counting story: state =
    2^p registers, never per-key)."""
    from kspp_spark.functions.sketch import hll_registers, hll_stream

    in_dir = str(tmp_path / "hll_in")
    schema = "key string"
    b1 = [("u1",), ("u2",), ("u3",)]
    b2 = [("u2",), ("u4",), ("u1",)]  # u1/u2 replayed
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        hll_stream(src, col="key", p=4)
        .writeStream.format("memory")
        .queryName("hll_reg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["bucket"]: r["r"]
        for r in spark.sql("select * from hll_reg").collect()
    }
    want = {
        r["bucket"]: r["r"]
        for r in hll_registers(
            spark.createDataFrame(b1 + b2, schema), col="key", p=4
        ).collect()
    }
    assert got == want and len(got) > 0


def test_histogram_stream_equals_batch_sketch(spark, tmp_path):
    """Bin-count linearity under streaming: the complete-mode
    streaming aggregation over micro-batched input equals
    histogram_sketch over the concatenated batches, bin for bin
    (bounded-state quantile story: state = <= ~63*k bins, never
    per-value)."""
    from kspp_spark.functions.sketch import (
        histogram_sketch,
        histogram_stream,
    )

    in_dir = str(tmp_path / "hist_in")
    schema = "value long"
    b1 = [(1,), (7,), (300,), (5000,)]
    b2 = [(7,), (250000,), (2,)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        histogram_stream(src, k=8)
        .writeStream.format("memory")
        .queryName("hist_sk")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["bin"]: r["cnt"]
        for r in spark.sql("select * from hist_sk").collect()
    }
    want = {
        r["bin"]: r["cnt"]
        for r in histogram_sketch(
            spark.createDataFrame(b1 + b2, schema), k=8
        ).collect()
    }
    assert got == want and len(got) > 0


def test_sessionize_stream_matches_batch_closed_sessions(spark, tmp_path):
    """Streaming gap sessions equal the batch session_stats rows for
    every session the watermark has CLOSED — including a session
    spanning the micro-batch boundary (user 1 extends in batch 2) and
    a session closed purely by EventTimeTimeout (user 2 never appears
    again; the watermark advances on other users' traffic). Sessions
    still open at availableNow termination (user 1's second, user 3's
    only) are NOT emitted — closure is the emission contract."""
    import datetime
    import time as _time

    from kspp_spark.functions.sessions import (
        session_stats,
        sessionize_stream,
    )

    d = datetime.datetime
    schema = "event_id long, user_id long, ts timestamp"
    b1 = [
        (1, 1, d(2024, 1, 1, 10, 0, 0)),
        (2, 1, d(2024, 1, 1, 10, 10, 0)),
        (3, 2, d(2024, 1, 1, 10, 0, 0)),
    ]
    b2 = [
        (4, 1, d(2024, 1, 1, 10, 25, 0)),   # extends session 1 across the trigger
        (5, 1, d(2024, 1, 1, 12, 0, 0)),    # > gap -> opens session 2
        (6, 3, d(2024, 1, 1, 12, 0, 0)),    # advances the watermark for user 2
    ]
    in_dir = str(tmp_path / "sess_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(in_dir)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        sessionize_stream(src, gap="30 minutes", tiebreak="event_id")
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"], r["start_us"], r["end_us"], r["duration_us"]
        )
        for r in spark.sql("select * from sess_stream").collect()
    }

    batch = session_stats(
        spark.createDataFrame(b1 + b2, schema),
        gap="30 minutes",
        tiebreak="event_id",
    )
    want_all = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"], r["start_us"], r["end_us"], r["duration_us"]
        )
        for r in batch.collect()
    }
    # the watermark (12:00 - 30m = 11:30) closed user 1's first
    # session (armed 10:55) and user 2's (armed 10:30); user 1's
    # 12:00 session and user 3's are still open -> unemitted
    closed = {(1, 1), (2, 1)}
    assert got == {k: v for k, v in want_all.items() if k in closed}
    assert set(want_all) == closed | {(1, 2), (3, 1)}


def test_checksum_stream_equals_batch_fingerprint(spark, tmp_path):
    """The streaming fingerprint fold over two micro-batches equals
    table_checksum over the concatenated input — the accumulators are
    commutative, so arrival order and batch boundaries are
    invisible."""
    import time as _time

    from kspp_spark.functions.pipeline import (
        checksum_stream,
        table_checksum,
    )

    schema = "g string, s string, v long"
    b1 = [("a", "x", 1), ("a", "y", 2), ("b", None, 3)]
    b2 = [("a", "z", None), ("b", "w", 4)]
    in_dir = str(tmp_path / "ck_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(in_dir)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        checksum_stream(src, cols=["s", "v"], group_cols=("g",))
        .writeStream.format("memory")
        .queryName("ck_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["g"]: (r["n_rows"], r["sum_hash_lo"], r["sum_hash_hi"], r["xor_hash"])
        for r in spark.sql("select * from ck_stream").collect()
    }
    want = {
        r["g"]: (r["n_rows"], r["sum_hash_lo"], r["sum_hash_hi"], r["xor_hash"])
        for r in table_checksum(
            spark.createDataFrame(b1 + b2, schema),
            cols=["s", "v"],
            group_cols=("g",),
        ).collect()
    }
    assert got == want


def test_sessionize_stream_late_event_pulls_start_back(spark, tmp_path):
    """A watermark-admissible late event that lands INSIDE the open
    session's gap but BEFORE its first-seen event must pull start_us
    back (r10 advice): the emitted span equals the batch replay of
    the merged session, not the arrival-order first-seen time."""
    import datetime
    import time as _time

    from kspp_spark.functions.sessions import (
        session_stats,
        sessionize_stream,
    )

    d = datetime.datetime
    schema = "event_id long, user_id long, ts timestamp"
    b1 = [(1, 1, d(2024, 1, 1, 10, 10, 0))]
    # 10:00 is admissible (watermark after b1 = 10:10 - 2h) and
    # in-gap (10 min before the open start); 13:00 closes session 1
    # by gap and advances the watermark
    b2 = [(2, 1, d(2024, 1, 1, 10, 0, 0)), (3, 1, d(2024, 1, 1, 13, 0, 0))]
    in_dir = str(tmp_path / "sess_late_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(in_dir)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        sessionize_stream(
            src,
            gap="30 minutes",
            watermark_delay="2 hours",
            tiebreak="event_id",
        )
        .writeStream.format("memory")
        .queryName("sess_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"], r["start_us"], r["end_us"], r["duration_us"]
        )
        for r in spark.sql("select * from sess_late").collect()
    }
    want = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"], r["start_us"], r["end_us"], r["duration_us"]
        )
        for r in session_stats(
            spark.createDataFrame(b1 + b2, schema),
            gap="30 minutes",
            tiebreak="event_id",
        ).collect()
    }
    # session 1 (merged 10:00-10:10, 2 events) closed and emitted;
    # session 2 (13:00) still open at availableNow termination
    assert got == {k: v for k, v in want.items() if k == (1, 1)}
    assert want[(1, 1)][0] == 2 and want[(1, 1)][3] == 10 * 60 * 1_000_000


def test_checksum_stream_random_micro_batch_splits(spark, tmp_path):
    """Property form of the fingerprint fold: a seeded-random split
    of the input into micro-batches produces the same per-group
    fingerprint as one batch table_checksum over everything —
    the accumulators are commutative/associative, so batch
    boundaries are invisible."""
    import random
    import time as _time

    from kspp_spark.functions.pipeline import (
        checksum_stream,
        table_checksum,
    )

    rng = random.Random(1106)
    schema = "g string, s string, v long"
    rows = [
        (rng.choice("ab"), rng.choice(["x", "y", "a\x1fb", None]),
         rng.choice([None, 1, 2, 3]))
        for _ in range(24)
    ]
    cuts = sorted(rng.sample(range(1, len(rows)), 3))
    batches = [
        rows[i:j] for i, j in zip([0] + cuts, cuts + [len(rows)])
    ]
    in_dir = str(tmp_path / "ck_rand_in")
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        _time.sleep(1.05)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        checksum_stream(src, group_cols=("g",))
        .writeStream.format("memory")
        .queryName("ck_rand")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["g"]: (r["n_rows"], r["sum_hash_lo"], r["sum_hash_hi"], r["xor_hash"])
        for r in spark.sql("select * from ck_rand").collect()
    }
    want = {
        r["g"]: (r["n_rows"], r["sum_hash_lo"], r["sum_hash_hi"], r["xor_hash"])
        for r in table_checksum(
            spark.createDataFrame(rows, schema), group_cols=("g",)
        ).collect()
    }
    assert got == want and len(got) == 2


def test_funnel_stream_matches_batch_final_stages(spark, tmp_path):
    """Streaming funnel advancement feed: per-user state carries the
    batch fold's accumulator across micro-batches, so an advancement
    spanning the trigger boundary (u1's click arrives in batch 2) is
    emitted — and the FINAL stage per user equals batch
    funnel_stages on in-order arrival. Emitted rows are one per
    advancement with the running (t_first_us, t_stage_us)."""
    import datetime
    import time as _time

    from kspp_spark.functions.sessions import (
        funnel_stages,
        funnel_stages_stream,
    )

    d = datetime.datetime
    schema = "user_id long, ts timestamp, event_type string"
    b1 = [
        (1, d(2024, 1, 1, 10, 0), "view"),
        (2, d(2024, 1, 1, 10, 0), "click"),   # no view -> never advances
        (3, d(2024, 1, 1, 10, 0), "view"),
    ]
    b2 = [
        (1, d(2024, 1, 1, 10, 5), "click"),   # cross-batch advancement
        (1, d(2024, 1, 1, 10, 9), "purchase"),
        (3, d(2024, 1, 2, 12, 0), "click"),   # outside 2h horizon
    ]
    in_dir = str(tmp_path / "funnel_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(in_dir)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        funnel_stages_stream(
            src, ["view", "click", "purchase"], horizon="2 hours"
        )
        .writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from funnel_stream").collect()
    # advancement feed: u1 reaches 1, 2, 3; u3 reaches 1 only
    feed = sorted((r["user_id"], r["stages"]) for r in rows)
    assert feed == [(1, 1), (1, 2), (1, 3), (3, 1)]
    final_stream = {}
    for r in rows:
        u = r["user_id"]
        if u not in final_stream or r["stages"] > final_stream[u][0]:
            final_stream[u] = (r["stages"], r["t_first_us"], r["t_stage_us"])
    batch = {
        r["user_id"]: (r["stages"], r["t_first_us"], r["t_last_us"])
        for r in funnel_stages(
            spark.createDataFrame(b1 + b2, schema),
            ["view", "click", "purchase"],
            horizon="2 hours",
        ).collect()
        if r["stages"] > 0
    }
    assert final_stream == batch


def test_k_anonymity_stream_equals_batch(spark, tmp_path):
    """The streaming k-anonymity fold over two micro-batches equals
    the batch audit over the concatenated input — count is
    commutative, so batch boundaries are invisible and a class's
    at_risk flag flips exactly when its population reaches k."""
    import time as _time

    from kspp_spark.functions.pipeline import (
        k_anonymity_audit,
        k_anonymity_stream,
    )

    schema = "seg string, zone long"
    b1 = [("a", 1), ("a", 1), ("b", 2)]
    b2 = [("a", 1), ("b", 2), (None, 3)]
    in_dir = str(tmp_path / "kanon_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(in_dir)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        k_anonymity_stream(src, ["seg", "zone"], k=3)
        .writeStream.format("memory")
        .queryName("kanon_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["seg"], r["zone"]): (r["n"], r["at_risk"])
        for r in spark.sql("select * from kanon_stream").collect()
    }
    want = {
        (r["seg"], r["zone"]): (r["n"], r["at_risk"])
        for r in k_anonymity_audit(
            spark.createDataFrame(b1 + b2, schema), ["seg", "zone"], k=3
        ).collect()
    }
    assert got == want
    assert got[("a", 1)] == (3, False) and got[(None, 3)] == (1, True)


def test_categorical_drift_stream_equals_batch(spark, tmp_path):
    """The per-trigger foreachBatch finalize over the streaming live
    counts equals batch categorical_drift(reference, concatenated
    batches) — count is commutative, emit shares _drift_from_counts
    with the batch form, so trigger boundaries are invisible. Also
    pins the two-sided shape: an intermediate trigger emits drift
    for the prefix (the live monitor really emits per trigger)."""
    import time as _time

    from kspp_spark.functions.pipeline import (
        categorical_drift,
        categorical_drift_emit,
        categorical_drift_ref,
        categorical_drift_stream,
    )

    schema = "lang string"
    ref_rows = [("en",)] * 6 + [("de",)] * 3 + [(None,)]
    b1 = [("en",), ("en",), ("fr",)]
    b2 = [("en",), ("de",), (None,), (None,)]
    ref = spark.createDataFrame(ref_rows, schema)
    in_dir = str(tmp_path / "drift_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    ref_counts = categorical_drift_ref(ref, "lang")
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    emissions = []

    def finalize(counts, _batch_id):
        emissions.append(
            {
                r["category"]: (
                    r["n_old"], r["n_new"], r["tvd_num_ppm"], r["chi2_term"]
                )
                for r in categorical_drift_emit(ref_counts, counts).collect()
            }
        )

    q = (
        categorical_drift_stream(src, "lang")
        .writeStream.outputMode("complete")
        .foreachBatch(finalize)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(emissions) >= 2  # one drift table per trigger
    want_final = {
        r["category"]: (
            r["n_old"], r["n_new"], r["tvd_num_ppm"], r["chi2_term"]
        )
        for r in categorical_drift(
            ref, spark.createDataFrame(b1 + b2, schema), "lang"
        ).collect()
    }
    assert emissions[-1] == want_final
    want_prefix = {
        r["category"]: (
            r["n_old"], r["n_new"], r["tvd_num_ppm"], r["chi2_term"]
        )
        for r in categorical_drift(
            ref, spark.createDataFrame(b1, schema), "lang"
        ).collect()
    }
    assert emissions[0] == want_prefix
    # the missingness class drifted and is visible as its own row
    assert want_final[None][1] == 2


def test_numeric_drift_stream_equals_batch(spark, tmp_path):
    """Streaming numeric drift: the stateless shared bucketing +
    streaming count state + per-trigger emit equals batch
    numeric_drift over the concatenated input, bin -1 (missing /
    underflow) included."""
    import time as _time

    from kspp_spark.functions.pipeline import (
        categorical_drift_emit,
        numeric_drift,
        numeric_drift_ref,
        numeric_drift_stream,
    )

    schema = "v long"
    ref_rows = [(1,), (2,), (100,), (10_000,), (None,)]
    b1 = [(1,), (3,), (150,)]
    b2 = [(90_000,), (0,), (None,)]
    ref = spark.createDataFrame(ref_rows, schema)
    in_dir = str(tmp_path / "ndrift_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    ref_counts = numeric_drift_ref(ref, "v", k=8)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    emissions = []

    def finalize(counts, _batch_id):
        emissions.append(
            {
                r["category"]: (
                    r["n_old"], r["n_new"], r["tvd_num_ppm"], r["chi2_term"]
                )
                for r in categorical_drift_emit(ref_counts, counts).collect()
            }
        )

    q = (
        numeric_drift_stream(src, "v", k=8)
        .writeStream.outputMode("complete")
        .foreachBatch(finalize)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want = {
        r["category"]: (
            r["n_old"], r["n_new"], r["tvd_num_ppm"], r["chi2_term"]
        )
        for r in numeric_drift(
            ref, spark.createDataFrame(b1 + b2, schema), "v", k=8
        ).collect()
    }
    assert emissions[-1] == want
    # underflow/missing class present on the live side (0 and NULL)
    assert want[-1][1] == 2


def test_rfm_stream_equals_batch(spark, tmp_path):
    """Streaming RFM: per-user max/count/sum state + the shared
    rfm_emit finalize per trigger equals batch rfm_segments over the
    concatenated input — including the population-dependent quartile
    thresholds, which is why the finalize runs in foreachBatch over
    the complete-mode state."""
    import time as _time

    from kspp_spark.functions.sessions import (
        rfm_emit,
        rfm_segments,
        rfm_stream,
    )

    schema = "user_id string, ts string, amount double"
    b1 = [
        ("u1", "1998-01-01", 10.0),
        ("u2", "1998-06-01", 50.0),
        ("u3", "1998-12-01", 200.0),
    ]
    b2 = [
        ("u2", "1998-06-02", 50.0),
        ("u3", "1998-12-02", 200.0),
        ("u3", "1998-12-03", 200.0),
        ("u4", "1998-12-30", 1000.0),
    ]
    in_dir = str(tmp_path / "rfm_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    emissions = []

    def finalize(counts, _bid):
        emissions.append(
            {
                r["user_id"]: (
                    r["recency_days"], r["frequency"],
                    r["monetary_cents"], r["segment"],
                )
                for r in rfm_emit(counts, asof="1998-12-31").collect()
            }
        )

    q = (
        rfm_stream(src)
        .writeStream.outputMode("complete")
        .foreachBatch(finalize)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(emissions) >= 2
    want = {
        r["user_id"]: (
            r["recency_days"], r["frequency"],
            r["monetary_cents"], r["segment"],
        )
        for r in rfm_segments(
            spark.createDataFrame(b1 + b2, schema), asof="1998-12-31"
        ).collect()
    }
    assert emissions[-1] == want
    # prefix emission equals batch over b1 alone (thresholds shift
    # with the population — the live grid really is per-trigger)
    want1 = {
        r["user_id"]: (
            r["recency_days"], r["frequency"],
            r["monetary_cents"], r["segment"],
        )
        for r in rfm_segments(
            spark.createDataFrame(b1, schema), asof="1998-12-31"
        ).collect()
    }
    assert emissions[0] == want1


def test_ewma_stream_equals_batch(spark, tmp_path):
    """Streaming EWMA monitor: the per-(key, day) sum state +
    per-trigger ewma_emit equals batch ewma() over the concatenated
    input — SUM is commutative and the finalize IS the batch
    function, so trigger boundaries are invisible. The prefix
    emission equals batch over batch-1 alone (the monitor really
    emits per trigger)."""
    import time as _time

    from kspp_spark.functions.timeseries import (
        daily_sums_stream,
        ewma,
        ewma_emit,
        ewma_stream,
    )

    schema = "event_type string, ts string, cents long"
    b1 = [
        ("view", "2024-01-01 10:00:00", 100),
        ("view", "2024-01-01 11:00:00", 40),
        ("view", "2024-01-02 09:00:00", 300),
        ("click", "2024-01-01 12:00:00", 7),
    ]
    b2 = [
        ("view", "2024-01-02 23:00:00", 60),   # same day, new trigger
        ("view", "2024-01-04 08:00:00", 500),  # gap day
        ("click", "2024-01-03 10:00:00", 21),
    ]
    in_dir = str(tmp_path / "ewma_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def snap(df):
        return {
            (r["event_type"], str(r["d"])): (r["cents"], r["ewma"])
            for r in df.collect()
        }

    emissions = []
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        ewma_stream(src, ("event_type",), "ts", "cents")
        .writeStream.outputMode("complete")
        .foreachBatch(
            lambda daily, _id: emissions.append(
                snap(ewma_emit(daily, ("event_type",), "cents",
                               alpha=0.3, window=4))
            )
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(emissions) >= 2
    batch = lambda rows: ewma(
        daily_sums_stream(
            spark.createDataFrame(rows, schema), ("event_type",),
            "ts", "cents",
        ),
        ("event_type",), "d", "cents", alpha=0.3, window=4,
    )
    assert emissions[-1] == snap(batch(b1 + b2))
    assert emissions[0] == snap(batch(b1))
    # the cross-trigger day merged: 2024-01-02 view = 300 + 60
    assert emissions[-1][("view", "2024-01-02")][0] == 360


def test_cusum_stream_equals_batch(spark, tmp_path):
    """Streaming CUSUM: same per-(key, day) sum state, per-trigger
    cusum_emit — the self-calibrating target re-derives from the
    full live series each trigger (the rfm_stream population
    argument), so the alarm statistic equals the batch
    cusum_changepoints over the concatenated input exactly."""
    import time as _time

    from kspp_spark.functions.timeseries import (
        cusum_changepoints,
        cusum_emit,
        cusum_stream,
        daily_sums_stream,
    )

    schema = "event_type string, ts string, cents long"
    b1 = [
        ("view", f"2024-01-0{d} 10:00:00", 100) for d in range(1, 5)
    ]
    b2 = [
        ("view", "2024-01-05 10:00:00", 5000),  # level shift -> alarm
        ("view", "2024-01-06 10:00:00", 5000),
        ("view", "2024-01-04 22:00:00", 50),    # merges into day 4
    ]
    in_dir = str(tmp_path / "cusum_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def snap(df):
        return {
            (r["event_type"], str(r["d"])): (
                r["cents"], r["s_pos"], r["s_neg"], r["alarm"]
            )
            for r in df.collect()
        }

    emissions = []
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        cusum_stream(src, ("event_type",), "ts", "cents")
        .writeStream.outputMode("complete")
        .foreachBatch(
            lambda daily, _id: emissions.append(
                snap(cusum_emit(daily, ("event_type",), "cents",
                                slack=10, threshold=1000))
            )
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(emissions) >= 2
    batch = lambda rows: cusum_changepoints(
        daily_sums_stream(
            spark.createDataFrame(rows, schema), ("event_type",),
            "ts", "cents",
        ),
        ("event_type",), "d", "cents", slack=10, threshold=1000,
    )
    assert emissions[-1] == snap(batch(b1 + b2))
    assert emissions[0] == snap(batch(b1))
    # the level shift alarms in the final state but not the prefix
    assert any(v[3] for v in emissions[-1].values())
    assert not any(v[3] for v in emissions[0].values())


def test_funnel_latency_stream_equals_batch(spark, tmp_path):
    """The streaming latency feed (per-user stage-times state,
    batch advance rule, emit-at-append) + the shared
    funnel_latency_emit equals batch funnel_latency over the
    concatenated input — including an advancement whose stage-1
    entry landed in an earlier trigger."""
    import time as _time

    from kspp_spark.functions.sessions import (
        funnel_latency,
        funnel_latency_emit,
        funnel_latency_stream,
    )

    schema = "user_id string, ts timestamp, event_type string"
    mk = lambda rows: [
        (u, __import__("datetime").datetime(2024, 1, 1, 0, 0, s), y)
        for u, s, y in rows
    ]
    b1 = mk([
        ("u1", 0, "view"), ("u1", 5, "click"),
        ("u2", 1, "view"),
        ("u3", 2, "click"),          # skipped: not at stage 1
    ])
    b2 = mk([
        ("u1", 30, "purchase"),      # closes in trigger 2
        ("u2", 11, "click"),         # stage-2 across the boundary
        ("u3", 3, "view"), ("u3", 4, "click"), ("u3", 6, "purchase"),
    ])
    in_dir = str(tmp_path / "flat_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    steps = ["view", "click", "purchase"]
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    feed = []
    q = (
        funnel_latency_stream(src, steps, bucket="2 seconds")
        .writeStream.outputMode("append")
        .foreachBatch(
            lambda b, _id: feed.extend(
                (r["user_id"], r["stage"], r["_lat"]) for r in b.collect()
            )
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    lat_df = spark.createDataFrame(
        [(s, l) for _, s, l in feed], "stage long, _lat long"
    )
    got = {
        (r["stage"], r["step"], r["q_permille"]): (
            r["latency_us"], r["n_users"]
        )
        for r in funnel_latency_emit(lat_df, steps, (500, 900)).collect()
    }
    want = {
        (r["stage"], r["step"], r["q_permille"]): (
            r["latency_us"], r["n_users"]
        )
        for r in funnel_latency(
            spark.createDataFrame(b1 + b2, schema),
            steps,
            qs_permille=(500, 900),
            bucket="2 seconds",
        ).collect()
    }
    assert got == want
    # the cross-trigger advancements really happened
    assert ("u1", 3, 30_000_000) in feed    # 30s, 2s buckets
    assert ("u2", 2, 10_000_000) in feed


def test_attribution_stream_equals_batch(spark, tmp_path):
    """The streaming credit feed (open-window per-channel state,
    emit on conversion) + the shared _attribution_finalize equals
    batch attribution over the concatenated input — a conversion in
    trigger 2 credits touches from trigger 1, and trailing touches
    earn nothing in both forms."""
    import time as _time

    from kspp_spark.functions.sessions import (
        attribution,
        attribution_emit,
        attribution_stream,
    )

    schema = "user_id string, ts timestamp, event_type string"
    mk = lambda rows: [
        (u, __import__("datetime").datetime(2024, 1, 1, 0, 0, s), y)
        for u, s, y in rows
    ]
    b1 = mk([
        ("u1", 0, "email"), ("u1", 2, "ad"), ("u1", 4, "ad"),
        ("u2", 1, "ad"), ("u2", 3, "buy"),   # closes inside trigger 1
        ("u3", 5, "email"),                  # trailing forever
    ])
    b2 = mk([
        ("u1", 10, "buy"),                   # credits trigger-1 touches
        ("u2", 6, "email"), ("u2", 8, "buy"),  # second window
        ("u4", 7, "buy"),                    # zero-touch conversion
    ])
    in_dir = str(tmp_path / "attr_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    feed = []
    q = (
        attribution_stream(src, ["email", "ad"], "buy")
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _id: feed.extend(b.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    feed_df = spark.createDataFrame(
        feed,
        "user_id string, _ch string, _nc long, _isf boolean, "
        "_isl boolean, _n long",
    )
    key = lambda df: {
        (r["model"], r["channel"]): (r["credit_ppm"], r["n_touches"])
        for r in df.collect()
    }
    got = key(attribution_emit(feed_df))
    want = key(
        attribution(
            spark.createDataFrame(b1 + b2, schema), ["email", "ad"], "buy"
        )
    )
    assert got == want
    # linear email: u1's window 333333 (1 of 3) + u2's window2 1e6
    assert want[("linear", "email")][0] == 1_333_333
    # exactly three attributed conversions (u4's has no touches)
    assert sum(v[0] for k, v in got.items() if k[0] == "linear") == 3_000_000


def test_stickiness_stream_equals_batch(spark, tmp_path):
    """Streaming DAU/MAU: the distinct-(user, day) count state +
    per-trigger stickiness_emit equals batch dau_mau_stickiness over
    the concatenated input — count is commutative, emit is the batch
    second half verbatim; a user re-appearing across triggers on the
    same day counts once."""
    import time as _time

    from kspp_spark.functions.sessions import (
        dau_mau_stickiness,
        stickiness_emit,
        stickiness_stream,
    )

    schema = "user_id string, ts string"
    b1 = [
        ("u1", "2024-01-01 10:00:00"),
        ("u2", "2024-01-01 12:00:00"),
        ("u1", "2024-01-02 09:00:00"),
    ]
    b2 = [
        ("u1", "2024-01-02 23:00:00"),  # same user-day, new trigger
        ("u3", "2024-01-03 08:00:00"),
    ]
    in_dir = str(tmp_path / "stick_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def snap(df):
        return {
            str(r["d"]): (r["dau"], r["mau"], r["stickiness_ppm"])
            for r in df.collect()
        }

    emissions = []
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        stickiness_stream(src)
        .writeStream.outputMode("complete")
        .foreachBatch(
            lambda ud, _id: emissions.append(
                snap(stickiness_emit(ud, window_days=2))
            )
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(emissions) >= 2
    batch = lambda rows: dau_mau_stickiness(
        spark.createDataFrame(rows, schema), window_days=2
    )
    assert emissions[-1] == snap(batch(b1 + b2))
    assert emissions[0] == snap(batch(b1))
    # the cross-trigger duplicate user-day stayed one row:
    # d2 dau = 1 (u1 only), mau(2d) = {u1,u2} = 2
    assert emissions[-1]["2024-01-02"] == (1, 2, 500_000)


def test_mad_outliers_stream_equals_batch(spark, tmp_path):
    """Streaming median/MAD monitor: the shared daily-sum state +
    per-trigger mad_outliers_emit equals batch mad_outliers over the
    concatenated input — the medians re-derive from the full live
    series each trigger (the cusum population argument)."""
    import time as _time

    from kspp_spark.functions.timeseries import (
        daily_sums_stream,
        mad_outliers,
        mad_outliers_emit,
        mad_outliers_stream,
    )

    schema = "event_type string, ts string, cents long"
    b1 = [("view", f"2024-01-0{d} 10:00:00", 100) for d in range(1, 6)]
    b2 = [
        ("view", "2024-01-06 10:00:00", 9000),   # spike day
        ("view", "2024-01-05 22:00:00", 2),      # merges into day 5
    ]
    in_dir = str(tmp_path / "mad_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def snap(df):
        return {
            (r["event_type"], str(r["d"])): (
                r["cents"], r["med"], r["mad"], r["outlier"]
            )
            for r in df.collect()
        }

    emissions = []
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        mad_outliers_stream(src, ("event_type",), "ts", "cents")
        .writeStream.outputMode("complete")
        .foreachBatch(
            lambda daily, _id: emissions.append(
                snap(mad_outliers_emit(daily, ("event_type",), "cents"))
            )
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(emissions) >= 2
    batch = lambda rows: mad_outliers(
        daily_sums_stream(
            spark.createDataFrame(rows, schema), ("event_type",),
            "ts", "cents",
        ),
        ("event_type",), "cents",
    )
    assert emissions[-1] == snap(batch(b1 + b2))
    assert emissions[0] == snap(batch(b1))
    # the spike flags in the final state, nothing in the prefix
    assert any(v[3] for v in emissions[-1].values())
    assert not any(v[3] for v in emissions[0].values())


def test_theil_sen_stream_equals_batch(spark, tmp_path):
    """Streaming Theil-Sen trend: the shared daily-sum state +
    per-trigger theil_sen_emit equals batch theil_sen_trend over the
    concatenated input."""
    import time as _time

    from kspp_spark.functions.timeseries import (
        daily_sums_stream,
        theil_sen_emit,
        theil_sen_stream,
        theil_sen_trend,
    )

    schema = "event_type string, ts string, cents long"
    b1 = [
        ("view", f"2024-01-0{d} 10:00:00", 100 * d) for d in range(1, 5)
    ]
    b2 = [
        ("view", "2024-01-05 10:00:00", 500),
        ("view", "2024-01-04 22:00:00", 50),  # merges into day 4
    ]
    in_dir = str(tmp_path / "ts_in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def snap(df):
        return {
            r["event_type"]: (
                r["slope_micro_per_day"], r["intercept_micro"],
                r["n_pairs"],
            )
            for r in df.collect()
        }

    emissions = []
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        theil_sen_stream(src, ("event_type",), "ts", "cents")
        .writeStream.outputMode("complete")
        .foreachBatch(
            lambda daily, _id: emissions.append(
                snap(theil_sen_emit(daily, ("event_type",), "cents"))
            )
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(emissions) >= 2
    batch = lambda rows: theil_sen_trend(
        daily_sums_stream(
            spark.createDataFrame(rows, schema), ("event_type",),
            "ts", "cents",
        ),
        ("event_type",), "d", "cents",
    )
    assert emissions[-1] == snap(batch(b1 + b2))
    assert emissions[0] == snap(batch(b1))
    # prefix slope = exactly 100 cents/day in micro units
    assert emissions[0]["view"][0] == 100_000_000
