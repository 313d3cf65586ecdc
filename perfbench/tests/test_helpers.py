"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import sparklog  # noqa: E402
from spans import Tracer, covered, percentile, self_times  # noqa: E402


# ------------------------------------------------------- percentile rule

def test_percentile_needs_ten_samples_beyond():
    xs = list(range(200))
    v, n = percentile(xs, 0.95)
    assert n == 200 and v == pytest.approx(189.05)
    assert percentile(xs[:199], 0.95) == (None, 199)


def test_median_needs_twenty_samples():
    assert percentile(list(range(20)), 0.5) == (9.5, 20)
    assert percentile(list(range(19)), 0.5) == (None, 19)
    assert percentile([], 0.5) == (None, 0)


def test_percentile_ignores_input_order():
    rng = np.random.default_rng(0)
    xs = rng.normal(size=300).tolist()
    assert percentile(xs, 0.9) == percentile(sorted(xs), 0.9)


# ------------------------------------------------------------- self time

def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 5.0},   # overlaps 2
        {"id": 4, "parent": 1, "start": 8.0, "end": 12.0},  # runs past parent
        {"id": 5, "parent": 2, "start": 1.5, "end": 2.5},   # grandchild
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 4 - 2)
    assert st[2] == pytest.approx(2 - 1)
    assert st[3] == pytest.approx(3)
    assert st[5] == pytest.approx(1)


def test_covered_handles_gaps_and_empty():
    assert covered([], 0, 5) == 0
    assert covered([(1, 2), (3, 4)], 0, 5) == pytest.approx(2)
    assert covered([(-5, -1), (6, 9)], 0, 5) == 0


def test_tracer_nests_and_dumps(tmp_path):
    t = Tracer(True)
    with t.span("outer") as outer:
        with t.span("inner"):
            pass
    t.add("derived", 0.0, 1.0, outer)
    path = tmp_path / "trace.json"
    t.dump(str(path))
    spans = {s["name"]: s for s in json.loads(path.read_text())}
    assert spans["inner"]["parent"] == spans["outer"]["id"]
    assert spans["outer"]["self_s"] <= spans["outer"]["duration_s"]
    off = Tracer(False)
    with off.span("x") as sid:
        assert sid is None
    assert off.spans == []


# ---------------------------------------------- file -> batch -> latency

def _write_log(path, entries, header="v1"):
    with open(path, "w") as f:
        f.write(header + "\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def test_file_batch_latency_from_source_log(tmp_path):
    log = tmp_path / "ck" / "sources" / "0"
    log.mkdir(parents=True)
    names = [gen.file_name(i, 1_000 + 40 * i) for i in range(5)]
    entry = lambda n, b: {"path": f"file:///in/{n}", "timestamp": 0, "batchId": b}  # noqa: E731
    # batches 0..1 were compacted into 1.compact, batch 2 has its own file
    _write_log(log / "1.compact", [entry(names[0], 0), entry(names[1], 1), entry(names[2], 1)])
    _write_log(log / "2", [entry(names[3], 2)])
    (log / ".2.crc").write_text("x")
    fb = sparklog.source_log(str(tmp_path / "ck"))
    assert fb == {names[0]: 0, names[1]: 1, names[2]: 1, names[3]: 2}

    progress = [
        {"batchId": 0, "numInputRows": 1, "timestamp": "1970-01-01T00:00:01.000Z",
         "durationMs": {"triggerExecution": 100}},
        {"batchId": 1, "numInputRows": 2, "timestamp": "1970-01-01T00:00:01.100Z",
         "durationMs": {"triggerExecution": 250}},
        {"batchId": 2, "numInputRows": 1, "timestamp": "1970-01-01T00:00:01.350Z",
         "durationMs": {"triggerExecution": 50}},
        {"batchId": 3, "numInputRows": 0, "timestamp": "1970-01-01T00:00:09.000Z",
         "durationMs": {"triggerExecution": 5}},
    ]
    ends = sparklog.batch_end_ms(progress)
    assert ends == {0: 1_100, 1: 1_350, 2: 1_400}
    due = {n: gen.due_ms_of(n) for n in names}
    lat, missing = sparklog.file_latencies(fb, ends, due)
    assert sorted(lat) == sorted([1_100 - 1_000, 1_350 - 1_040, 1_350 - 1_080, 1_400 - 1_120])
    assert missing == [names[4]]


def test_backlog_counts_files_waiting_at_trigger_start():
    written = {"a": 900, "b": 1_050, "c": 1_120, "d": 1_300}
    fb = {"a": 0, "b": 1, "c": 1, "d": 2}
    progress = [
        {"batchId": 0, "timestamp": "1970-01-01T00:00:01.000Z"},
        {"batchId": 1, "timestamp": "1970-01-01T00:00:01.200Z"},
        {"batchId": 2, "timestamp": "1970-01-01T00:00:01.400Z"},
    ]
    assert sparklog.backlog_max(written, fb, progress) == 2


def test_file_names_carry_index_and_due_time():
    n = gen.file_name(12, 1_792_000_000_123)
    assert gen.index_of(n) == 12 and gen.due_ms_of("/x/" + n) == 1_792_000_000_123


# ------------------------------------------------------------ references

def test_batch_compare_is_order_and_width_free():
    a = pd.DataFrame({"k": np.array([1, 2, 3], dtype=np.int32), "v": [0.1, None, 2.5],
                      "s": ["x", None, "z"]})
    b = pd.DataFrame({"s": ["z", "x", None], "v": [2.5, 0.1, float("nan")],
                      "k": np.array([3, 1, 2], dtype=np.int64)})
    assert checks.compare(a, b) is None
    c = b.copy()
    c.loc[0, "v"] = np.nextafter(2.5, 3.0)
    assert "differ" in checks.compare(a, c)
    assert "row count" in checks.compare(a, b.iloc[:2])
    assert "columns" in checks.compare(a, b.rename(columns={"s": "t"}))


def test_ktable_reference_is_last_write_by_event_time():
    t = pd.to_datetime
    ev = pd.DataFrame({
        "user_id": [1, 1, 2, 1],
        "seq": [0, 1, 2, 3],
        "value": [10, 11, 20, 12],
        "event_time": t(["2024-01-01 00:00:05", "2024-01-01 00:00:09",
                         "2024-01-01 00:00:01", "2024-01-01 00:00:07"]),  # seq 3 is late
    })
    assert checks.ktable_reference(ev) == {1: (1, 11), 2: (2, 20)}


def test_bucket_reference_matches_library_replay():
    from kspp_spark.streaming.stateful import _run_bucket

    events = gen.stream_events(5, 3_000, n_keys=30, zipf_s=1.1, late_share=0.05,
                               event_step_ms=10, max_late_ms=30_000).to_pandas()
    events["event_time"] = events["event_time"].dt.tz_convert("UTC").dt.tz_localize(None)
    batches = [events.iloc[i:i + 700] for i in range(0, len(events), 700)]
    got = checks.bucket_reference(batches, capacity=5, filltime_ms=10_000)

    want, state = set(), {}
    for b in batches:
        for key, g in b.groupby("user_id"):
            g = g.sort_values(["event_time", "seq"], kind="mergesort")
            ts = (g["event_time"].astype("datetime64[ns]").astype("int64") // 1_000_000).tolist()
            tokens, tstamp = state.get(key, (5.0, 0))
            flags, tokens, tstamp = _run_bucket(ts, 5, 5 / 10_000, tokens, tstamp)
            state[key] = (tokens, tstamp)
            want |= {s for s, f in zip(g["seq"].tolist(), flags) if f}
    assert got == want
    assert 0 < len(got) < len(events)  # some events were rate-limited


def test_lsh_check_accepts_exact_pairs_and_rejects_wrong_ones():
    docs = pd.DataFrame({"doc_id": [0, 1, 2],
                         "text": ["a b c d e f g h i j", "a b c d e f g h i j dup",
                                  "q r s t u v w x y z"]})
    dups = checks.planted_near_dups(docs)
    assert dups.values.tolist() == [[0, 1]]
    good = pd.DataFrame({"a": [0], "b": [1], "jaccard": [8 / 9]})
    assert checks.check_lsh_pairs(good, docs, 0.5, 3, dups) is None
    wrong = pd.DataFrame({"a": [0], "b": [2], "jaccard": [0.9]})
    assert "exact Jaccard" in checks.check_lsh_pairs(wrong, docs, 0.5, 3, dups)


def test_stream_events_are_seeded_and_partly_late():
    a = gen.stream_events(3, 5_000, 100, 1.1, 0.05, 10, 30_000)
    b = gen.stream_events(3, 5_000, 100, 1.1, 0.05, 10, 30_000)
    assert a.equals(b)
    t = a.column("event_time").cast("int64").to_numpy()
    late = np.mean(t < np.maximum.accumulate(t))
    assert 0.02 < late < 0.08
    assert a.schema.field("event_time").type.tz == "UTC"


def test_executor_metrics_groups_tasks_by_job_group():
    def task(stage, run_ms, cpu_ns=1e9, gc=0, spill=0, read=0, write=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc,
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write}}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb.q.action"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],  # stage 1 reused
         "Properties": {"spark.jobGroup.id": "run-1"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [3], "Properties": {}},
        *[task(0, ms, write=10) for ms in (100, 100, 100, 400)],
        task(1, 50, read=10, spill=5),
        task(2, 10, gc=20),
        task(3, 999),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Accumulables": [
            {"Name": "time to run Python workers", "Value": "1500"}]}},
    ]
    groups = {"pb.q.action": "pb.q.action", "run-1": "stream"}
    ex = sparklog.executor_metrics(
        events, lambda props: groups.get(props.get("spark.jobGroup.id")))
    assert set(ex) == {"pb.q.action", "stream"}
    a, s = ex["pb.q.action"], ex["stream"]
    assert a["task_cpu_s"] == pytest.approx(5.0)
    assert (a["shuffle_write_bytes"], a["shuffle_read_bytes"], a["spill_bytes"]) == (40, 10, 5)
    assert a["task_skew"] == pytest.approx(4.0)
    assert s["gc_s"] == pytest.approx(0.02) and s["python.run_s"] == pytest.approx(1.5)


# ------------------------------------------------------------ RSS sampler

def test_rss_sampler_reports_a_dead_sampling_thread(monkeypatch):
    sampler = sparklog.RssSampler(period=0.01)
    calls = []

    def sample():
        calls.append(1)
        if len(calls) > 1:  # the first sample is taken on entry
            raise RuntimeError("Set changed size during iteration")

    monkeypatch.setattr(sampler, "_sample", sample)
    with sampler:
        sampler.exclude_tree(12345)
        time.sleep(0.1)
    assert "Set changed size" in sampler.error
    assert sampler.exclude == {12345}
