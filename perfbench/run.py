"""Layered benchmark for kspp_spark: one batch pass and one paced stream
per workload, measured from outside the library.

Run from the repository root:

    python3 perfbench/run.py --workload kernels_ktable --seed 1 --seconds 8 --trace 0

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Lines before it
start with ``#`` and carry the measurement context and per-query and
per-phase detail. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import sparklog  # noqa: E402
from spans import Tracer, percentile  # noqa: E402

ITERATIVE = ["dup_clusters_fixed", "domain_rank", "hits_rank", "kcore",
             "bfs_hops", "triangle_counts", "minhash_lsh_pairs"]
KERNELS = ["pricing_summary", "revenue_per_nation", "windowed_count",
           "ktable_latest", "kstream_left_join", "session_windows",
           "spearman", "typo_pairs"]

# Each workload: one batch pass over generated tables, then one stream.
WORKLOADS = {
    "iterative_bucket": {
        "queries": ITERATIVE, "tables": ["documents", "lineitem"], "stream": "bucket",
    },
    "kernels_ktable": {
        "queries": KERNELS,
        "tables": ["lineitem", "orders", "customer", "nation", "events"],
        "stream": "ktable",
    },
}
SCALE = 0.03  # of the sf1 row counts; sf0.1 would not fit the run budget

# Open-loop file source: one file every INTERVAL_MS during the paced
# phase; a fixed backlog drained with availableNow afterwards. A
# trigger's work grows with the files and rows it reads, so files and
# rows come slowly enough that a slow trigger hardly slows the next;
# nearer capacity, a few percent of stolen CPU doubled latency. At least
# 100 paced files, so that p90 has 10 samples beyond it; ktable's short
# triggers get a longer phase, so that its latency averages over more
# of them.
INTERVAL_MS = 80
STREAMS = {
    "ktable": {"rows_per_file": 400, "paced_files": 150, "warmup_files": 16,
               "drain_files": 96, "drain_rows_per_file": 2000},
    "bucket": {"rows_per_file": 8, "paced_files": 100, "warmup_files": 4,
               "drain_files": 48, "drain_rows_per_file": 100},
}
MAX_FILES_PER_TRIGGER = 8
EVENTS = {"n_keys": 20_000, "zipf_s": 1.1, "late_share": 0.05,
          "event_step_ms": 10, "max_late_ms": 30_000}
BUCKET = {"capacity": 5, "filltime_ms": 10_000}
LSH = {"threshold": 0.5, "ngram": 3}

END_TO_END = {
    "setup_s": "s", "batch_wall_s": "s", "event_latency_p50_ms": "ms",
    "event_latency_p90_ms": "ms", "drain_rows_per_s": "1/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    "entry.build_s": "s", "entry.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "executor.action_s": "s", "executor.action_jobs": "count",
    "executor.task_cpu_s": "s", "executor.gc_s": "s",
    "executor.shuffle_write_bytes": "bytes", "executor.shuffle_read_bytes": "bytes",
    "executor.spill_bytes": "bytes", "executor.task_skew": "ratio",
    "python.run_s": "s", "python.init_s": "s", "python.start_s": "s",
    "streaming.triggers": "count", "streaming.trigger_mean_ms": "ms",
    "streaming.trigger_max_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.busy_share": "share",
    "state.commit_ms": "ms", "state.update_ms": "ms", "state.rows_total_end": "count",
    "state.memory_bytes_end": "bytes", "state.rows_updated": "count",
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms",
    "sources.backlog_files_max": "count", "sources.generator_late_ms": "ms",
    "trace.batch_wall_s": "s", "trace.event_latency_p50_ms": "ms",
    "trace.drain_rows_per_s": "1/s",
}


def say(*parts) -> None:
    print("#", *parts, flush=True)


# ------------------------------------------------------------------ setup

def prepare_env(root: str, work: str, trace_on: bool) -> dict:
    """Launch environment for the JVM and its Python workers. Set before
    the first pyspark import; the library itself is not edited."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [root, os.environ.get("PYTHONPATH", "")] if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # A fixed-size heap (-Xms equal to the -Xmx that get_spark sets): G1
    # otherwise grows the heap on GC-time heuristics, and peak RSS moved
    # by a fifth between runs of the same code.
    mem = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    submit = [f"--driver-java-options='-Djava.io.tmpdir={tmp} -Xms{mem}'"]
    if trace_on:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{log_dir}",
                   "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return {"nproc": int(cpus), "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"]}


def cpu_ticks() -> dict[str, int]:
    """Host-wide CPU time counters (clock ticks) from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "idle": v[3] + v[4], "steal": v[7]}


def code_version(root: str) -> str:
    """The git commit, or 'unknown' outside a git checkout."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ----------------------------------------------------------------- stream

def stream_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("event_time", T.TimestampType()),
    ])


def start_query(spark, kind: str, in_dir: str, ck: str, name: str, drain: bool):
    from kspp_spark.streaming.core import ktable_stream
    from kspp_spark.streaming.stateful import rate_limit_stream

    reader = spark.readStream.schema(stream_schema())
    if drain:
        reader = reader.option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
    src = reader.parquet(in_dir)
    if kind == "ktable":
        out, mode = ktable_stream(src, "user_id", ["seq", "value"], "event_time"), "update"
    else:
        out, mode = rate_limit_stream(src, "user_id", "event_time", seq="seq", **BUCKET), "append"
    w = (out.writeStream.format("memory").queryName(name).outputMode(mode)
         .option("checkpointLocation", ck))
    w = w.trigger(availableNow=True) if drain else w
    return w.start()


def progress_of(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def wait_rows(q, rows: int, timeout: float) -> bool:
    """Poll until the query has read ``rows`` input rows in total."""
    deadline = time.time() + timeout
    seen: dict[int, int] = {}
    while time.time() < deadline:
        if q.exception() is not None:
            return False
        p = q.lastProgress
        if p is not None:
            seen[p["batchId"]] = p["numInputRows"]
            if sum(seen.values()) >= rows:
                return True
            if len(seen) < p["batchId"] + 1:  # a report was missed
                seen = {x["batchId"]: x["numInputRows"] for x in progress_of(q)}
        time.sleep(0.02)
    return False


def micro_batches(events, file_rows: dict, file_batch: dict) -> list:
    """The events of each micro-batch, in batch order. ``file_rows`` maps
    a file to its (offset, rows) slice of ``events``; ``file_batch`` maps
    it to the batch that read it (from the checkpoint's source log)."""
    import pandas as pd

    parts: dict[int, list] = {}
    for f, (o, n) in sorted(file_rows.items()):
        parts.setdefault(file_batch[f], []).append(events.iloc[o:o + n])
    return [pd.concat(parts[b]) for b in sorted(parts)]


def check_stream(spark, kind: str, table: str, ev_pdf, file_rows: dict,
                 file_batch: dict) -> str | None:
    """The query's output (memory sink ``table``) against the reference
    over the same micro-batches."""
    import pandas as pd

    out = spark.table(table).toPandas()
    batches = micro_batches(ev_pdf, file_rows, file_batch)
    if kind == "ktable":
        want = checks.ktable_reference(pd.concat(batches))
        last = out.sort_values(["event_time", "seq"], kind="mergesort")
        last = last.groupby("user_id", sort=False).tail(1)
        got = {int(k): (int(s), int(v)) for k, s, v in
               zip(last["user_id"], last["seq"], last["value"])}
        bad = sum(got.get(k) != want.get(k) for k in set(got) | set(want))
    else:
        want = checks.bucket_reference(batches, **BUCKET)
        got = set(out["seq"].astype("int64").tolist())
        if len(got) != len(out):
            return "an event was accepted twice"
        bad = len(got ^ want)
    return f"{bad} keys or events differ from the reference" if bad else None


def paced_phase(spark, kind: str, events, ev_pdf, n_paced: int, work: str,
                tracer: Tracer, sampler, result: dict) -> list[dict]:
    """Warm-up files, one per trigger, then one file per interval from a
    separate process. Returns the progress reports of the paced triggers."""
    import pyarrow.parquet as pq

    cfg = STREAMS[kind]
    rpf, warm = cfg["rows_per_file"], cfg["warmup_files"]
    d = os.path.join(work, "paced")
    in_dir, staging, ck = (os.path.join(d, x) for x in ("in", "staging", "ck"))
    for p in (in_dir, staging):
        os.makedirs(p)
    warm_names = [gen.file_name(i, 0) for i in range(warm)]
    pq.write_table(events.slice(rpf * warm, rpf * n_paced), os.path.join(d, "paced.parquet"))
    plan = {"events_path": os.path.join(d, "paced.parquet"),
            "rows_per_file": [rpf] * n_paced, "interval_ms": INTERVAL_MS,
            "first_index": warm, "staging_dir": staging, "target_dir": in_dir,
            "start_path": os.path.join(d, "start"),
            "log_path": os.path.join(d, "written.json")}
    with open(os.path.join(d, "plan.json"), "w") as f:
        json.dump(plan, f)
    attempted = warm + n_paced
    result["attempted"] += attempted
    # started now, so that its start-up is over before the schedule begins
    gen_proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), "pace", os.path.join(d, "plan.json")])
    sampler.exclude_tree(gen_proc.pid)
    failure = None
    try:
        with tracer.span("phase", phase="paced") as phase_id:
            q = start_query(spark, kind, in_dir, ck, "paced_out", drain=False)
            result["runs"].append(q.runId)
            # Untimed warm-up: the first triggers of a stream run several
            # times slower while the JVM compiles its code paths.
            for i, name in enumerate(warm_names):
                gen.write_file(events.slice(i * rpf, rpf), staging, in_dir, name)
                if not wait_rows(q, rpf * (i + 1), 180):
                    failure = "warm-up file not consumed"
                    break
            if failure is None:
                with open(os.path.join(d, "start.tmp"), "w") as f:
                    f.write(str(int(time.time() * 1000) + 100))
                os.rename(os.path.join(d, "start.tmp"), plan["start_path"])
                gen_proc.wait(timeout=n_paced * INTERVAL_MS / 1000 + 60)
                if gen_proc.returncode != 0:
                    failure = f"generator exited with {gen_proc.returncode}"
                elif not wait_rows(q, rpf * attempted, 120):
                    failure = "paced files not consumed in time"
            q.stop()
            phase_end = time.time()
    finally:
        if gen_proc.poll() is None:
            gen_proc.kill()
        gen_proc.wait()
    file_batch = sparklog.source_log(ck)
    last_warm = max((file_batch.get(n, -1) for n in warm_names), default=-1)
    progress = [p for p in progress_of(q) if p["numInputRows"] > 0 and p["batchId"] > last_warm]
    add_trigger_spans(tracer, progress, phase_id)
    if failure is None:
        with open(plan["log_path"]) as f:
            log = json.load(f)
        written = {gen.file_name(e["index"], e["due_ms"]): e["written_ms"] for e in log}
        due = {n: gen.due_ms_of(n) for n in written}
        lat, missing = sparklog.file_latencies(file_batch, sparklog.batch_end_ms(progress), due)
        if missing:
            failure = f"{len(missing)} paced files never consumed"
        else:
            file_rows = {n: (rpf * gen.index_of(n), rpf) for n in [*warm_names, *written]}
            result["stream_checks"].append(
                ("paced", attempted, (kind, "paced_out", ev_pdf, file_rows, file_batch)))
            result["latency_ms"] = lat
            trig = sorted(p["durationMs"]["triggerExecution"] for p in progress)
            say(f"paced phase: {len(trig)} triggers, median {trig[len(trig) // 2]} ms")
            first_due = min(due.values())
            busy = sum(p["durationMs"]["triggerExecution"] for p in progress
                       if sparklog.iso_ms(p["timestamp"]) >= first_due)
            end_ops = progress[-1].get("stateOperators", [])
            result["layers"].update({
                "sources.generator_late_ms": float(max(written[n] - due[n] for n in written)),
                "sources.backlog_files_max": float(
                    sparklog.backlog_max(written, file_batch, progress)),
                "streaming.busy_share": busy / max(1.0, phase_end * 1000 - first_due),
                "state.rows_total_end": float(sum(o.get("numRowsTotal", 0) for o in end_ops)),
                "state.memory_bytes_end": float(
                    sum(o.get("memoryUsedBytes", 0) for o in end_ops)),
            })
    if failure is not None:
        say(f"stream {kind} paced phase FAILED: {failure}")
        result["failed"] += attempted
    return progress


def drain_phase(spark, kind: str, events, ev_pdf, base: int, work: str,
                tracer: Tracer, result: dict) -> list[dict]:
    """A fresh query drains a pre-written backlog with availableNow.
    Returns the phase's progress reports."""
    cfg = STREAMS[kind]
    n_files, rpf = cfg["drain_files"], cfg["drain_rows_per_file"]
    d = os.path.join(work, "drain")
    in_dir, staging, ck = (os.path.join(d, x) for x in ("in", "staging", "ck"))
    for p in (in_dir, staging):
        os.makedirs(p)
    file_rows = {}
    for i in range(n_files):
        name = gen.file_name(i, 0)
        gen.write_file(events.slice(base + i * rpf, rpf), staging, in_dir, name)
        file_rows[name] = (base + i * rpf, rpf)
    result["attempted"] += n_files
    failure = None
    with tracer.span("phase", phase="drain") as phase_id:
        t0 = time.time()
        q = start_query(spark, kind, in_dir, ck, "drain_out", drain=True)
        result["runs"].append(q.runId)
        done = q.awaitTermination(120)
        wall = time.time() - t0
    if not done:
        q.stop()
        failure = "drain did not finish in 120 s"
    elif q.exception() is not None:
        failure = str(q.exception())
    progress = [p for p in progress_of(q) if p["numInputRows"] > 0]
    add_trigger_spans(tracer, progress, phase_id)
    if failure is None:
        file_batch = sparklog.source_log(ck)
        rows = sum(p["numInputRows"] for p in progress)
        if rows != n_files * rpf or set(file_batch) != set(file_rows):
            failure = f"drained {rows} of {n_files * rpf} rows"
        else:
            result["stream_checks"].append(
                ("drain", n_files, (kind, "drain_out", ev_pdf, file_rows, file_batch)))
            result["drain_rows_per_s"] = rows / wall
    if failure is not None:
        say(f"stream {kind} drain phase FAILED: {failure}")
        result["failed"] += n_files
    return progress


def run_stream(spark, kind: str, seed: int, seconds: int, work: str,
               tracer: Tracer, sampler, result: dict) -> None:
    cfg = STREAMS[kind]
    rpf = cfg["rows_per_file"]
    n_paced = max(cfg["paced_files"], seconds * 1000 // INTERVAL_MS)
    base = rpf * (cfg["warmup_files"] + n_paced)
    events = gen.stream_events(
        seed, base + cfg["drain_files"] * cfg["drain_rows_per_file"], **EVENTS)
    ev_pdf = events.to_pandas()
    ev_pdf["event_time"] = ev_pdf["event_time"].dt.tz_convert("UTC").dt.tz_localize(None)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    progress = paced_phase(spark, kind, events, ev_pdf, n_paced, work, tracer, sampler, result)
    progress += drain_phase(spark, kind, events, ev_pdf, base, work, tracer, result)
    result["layers"].update(sparklog.progress_metrics(progress))


PROGRESS_PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch",
                   "walCommit", "commitOffsets"]


def add_trigger_spans(tracer: Tracer, progress: list[dict], parent) -> None:
    """Trigger spans from progress reports. Spark reports phase durations,
    not their start times, so the phases are laid end to end in the
    order a trigger runs them."""
    if not tracer.enabled:
        return
    for p in progress:
        t = sparklog.iso_ms(p["timestamp"]) / 1000.0
        dur = p["durationMs"]
        sid = tracer.add("trigger", t, t + dur["triggerExecution"] / 1000.0, parent,
                         batch=p["batchId"], rows=p["numInputRows"])
        for ph in PROGRESS_PHASES:
            if ph in dur:
                tracer.add(ph, t, t + dur[ph] / 1000.0, sid)
                t += dur[ph] / 1000.0


# ------------------------------------------------------------------ batch

def catalyst_ms(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def run_batch(spark, names: list[str], tables: str, tracer: Tracer,
              result: dict) -> dict:
    """One pass: for each query, build the DataFrame, then collect it to
    pandas. Returns the results for the output checks."""
    import __spark_entry__ as entry

    sc = spark.sparkContext
    fns = entry.queries()
    outputs = {}
    per_query = result["per_query"]
    with tracer.span("pass"):
        for name in names:
            result["attempted"] += 1
            rec = per_query[name] = {}
            with tracer.span("query", query=name):
                try:
                    sc.setJobGroup(f"pb.{name}.build", name)
                    t0 = time.time()
                    with tracer.span("build", query=name):
                        df = fns[name](spark, tables)
                    t1 = time.time()
                    sc.setJobGroup(f"pb.{name}.action", name)
                    with tracer.span("action", query=name):
                        outputs[name] = df.toPandas()
                    t2 = time.time()
                except Exception:  # one failing query must not end the run
                    traceback.print_exc(file=sys.stderr)
                    rec["error"] = True
                    continue
                finally:
                    sc.setJobGroup("pb.idle", "idle")
            rec.update(build_s=t1 - t0, action_s=t2 - t1, rows=len(outputs[name]))
            tracker = sc.statusTracker()
            rec["build_jobs"] = len(tracker.getJobIdsForGroup(f"pb.{name}.build"))
            rec["action_jobs"] = len(tracker.getJobIdsForGroup(f"pb.{name}.action"))
            if tracer.enabled:
                rec["catalyst_ms"] = catalyst_ms(df)
    return outputs


def check_batch(names: list[str], outputs: dict, tables: str, result: dict) -> None:
    """Each result against its DuckDB oracle; minhash_lsh_pairs against
    the exact properties in checks.check_lsh_pairs."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for f in os.listdir(tables):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(tables, f)}'")
    for name in names:
        rec = result["per_query"][name]
        if rec.get("error"):
            result["failed"] += 1
            continue
        try:
            if name in oracles:
                problem = checks.compare(outputs[name], con.sql(oracles[name]).df())
            elif name == "minhash_lsh_pairs":
                docs = pd.read_parquet(os.path.join(tables, "documents.parquet"))
                problem = checks.check_lsh_pairs(
                    outputs[name][["a", "b", "jaccard"]], docs,
                    near_dups=checks.planted_near_dups(docs), **LSH)
            else:
                problem = "no check for this query"
        except Exception as e:  # a broken check fails its query, not the run
            problem = f"check raised {e!r}"
        if problem:
            say(f"query {name} FAILED its check: {problem}")
            rec["check"] = problem
            result["failed"] += 1
    con.close()


# ------------------------------------------------------------------- main

def end_to_end(result: dict) -> dict[str, float]:
    q = result["per_query"].values()
    p50, n = percentile(result.get("latency_ms", []), 0.50)
    p90, _ = percentile(result.get("latency_ms", []), 0.90)
    result["latency_samples"] = n
    return {
        "setup_s": result["setup_s"],
        "batch_wall_s": sum(r.get("build_s", 0) + r.get("action_s", 0) for r in q),
        "event_latency_p50_ms": p50,
        "event_latency_p90_ms": p90,
        "drain_rows_per_s": result.get("drain_rows_per_s"),
        "peak_rss_mb": rss / 2**20 if (rss := result["peak_rss_bytes"]) is not None else None,
    }


def layer_metrics(result: dict, events: list[dict], e2e: dict) -> dict[str, float]:
    q = result["per_query"].values()
    lay = dict(result["layers"])
    lay["entry.build_s"] = sum(r.get("build_s", 0) for r in q)
    lay["entry.build_jobs"] = float(sum(r.get("build_jobs", 0) for r in q))
    for ph in ("analysis", "optimization", "planning"):
        lay[f"catalyst.{ph}_ms"] = sum(r.get("catalyst_ms", {}).get(ph, 0) for r in q)
    lay["executor.action_s"] = sum(r.get("action_s", 0) for r in q)
    lay["executor.action_jobs"] = float(sum(r.get("action_jobs", 0) for r in q))
    runs = set(result["runs"])

    def group(props):
        g = props.get("spark.jobGroup.id", "")
        if g.endswith(".action"):
            return g
        if g in runs:
            return "stream"
        return None

    ex = sparklog.executor_metrics(events, group)
    acts = [v for k, v in ex.items() if k.endswith(".action")]
    for key in ("task_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes"):
        lay[f"executor.{key}"] = float(sum(a[key] for a in acts))
    lay["executor.task_skew"] = max((a["task_skew"] for a in acts), default=0.0)
    for key in sparklog.PY_METRICS.values():
        lay[key] = float(sum(v[key] for v in ex.values()))
    lay["trace.batch_wall_s"] = e2e["batch_wall_s"]
    lay["trace.event_latency_p50_ms"] = e2e["event_latency_p50_ms"]
    lay["trace.drain_rows_per_s"] = e2e["drain_rows_per_s"]
    return lay


def measure(args, root: str, work: str, context: dict, result: dict,
            tracer: Tracer) -> dict:
    """Set-up, batch pass, stream, then the output checks, which run after
    memory sampling ends. Fills ``result`` and returns the per-query
    outputs. The session is left running."""
    wl = WORKLOADS[args.workload]
    with sparklog.RssSampler() as sampler, tracer.span("workload", workload=args.workload):
        with tracer.span("setup"):
            from kspp_spark.session import get_spark

            t0 = time.time()
            result["spark"] = get_spark("perfbench")
            t1 = time.time()
            result["spark"].range(1_000_000).selectExpr("sum(id)").collect()
            t2 = time.time()
        spark = result["spark"]
        result["setup_s"] = t2 - T_PROCESS
        result["layers"].update({"session.get_spark_s": t1 - t0, "session.warmup_s": t2 - t1})
        import pyspark

        context.update(
            workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
            pyspark=pyspark.__version__, commit=code_version(root),
            late_share=EVENTS["late_share"], max_late_ms=EVENTS["max_late_ms"],
            scale=SCALE, stream=wl["stream"])
        say("context", json.dumps(context, sort_keys=True))
        stage = [time.time()]

        def lap(what):
            stage.append(time.time())
            say(f"stage {what} {stage[-1] - stage[-2]:.2f} s, "
                f"peak rss so far {sampler.peak / 2**20:.0f} MB")

        tables = os.path.join(work, "tables")
        gen.write_tables(tables, wl["tables"], SCALE, args.seed)
        lap("generate tables")
        # The batch pass first: it warms the JVM's shared code paths for
        # the stream, whose short triggers are the most sensitive to that.
        outputs = run_batch(spark, wl["queries"], tables, tracer, result)
        lap("batch pass")
        with tracer.span("stream", kind=wl["stream"]):
            run_stream(spark, wl["stream"], args.seed, args.seconds, work,
                       tracer, sampler, result)
        lap("stream")
    result["peak_rss_bytes"] = sampler.peak
    if sampler.error is not None:  # the peak misses the rest of the run
        say("RSS sampler died:", sampler.error)
        result["peak_rss_bytes"] = None
    say("peak rss by process (MB)", json.dumps(
        {k: round(v / 2**20) for k, v in sampler.peak_parts.items()}, sort_keys=True))
    check_batch(wl["queries"], outputs, tables, result)
    for phase, n, check_args in result.pop("stream_checks"):
        problem = check_stream(spark, *check_args)
        if problem:
            say(f"stream {wl['stream']} {phase} phase FAILED its check: {problem}")
            result["failed"] += n
    lap("output checks")
    return outputs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "kspp_spark"))):
        print("run from the repository root: __spark_entry__.py and kspp_spark/ "
              "are not in the current directory", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    trace_on = bool(args.trace)
    out_dir = os.path.join(root, ".perfbench_out")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work)
    load1 = os.getloadavg()[0]
    ticks0 = cpu_ticks()
    context = prepare_env(root, work, trace_on)
    context.update(load1_start=round(load1, 2), degraded=load1 > 1.0)
    tracer = Tracer(trace_on)
    result = {"attempted": 0, "failed": 0, "per_query": {}, "layers": {}, "runs": [],
              "stream_checks": [], "spark": None}
    try:
        measure(args, root, work, context, result, tracer)
        stop_spark(result.pop("spark"))
        events = sparklog.read_event_log(os.path.join(work, "eventlog")) if trace_on else []
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        if result.get("spark") is not None:
            stop_spark(result["spark"])
        shutil.rmtree(work, ignore_errors=True)

    ticks1 = cpu_ticks()
    total = sum(ticks1[k] - ticks0[k] for k in ticks0)
    say("cpu steal share during run",
        round((ticks1["steal"] - ticks0["steal"]) / max(1, total), 4))
    e2e = end_to_end(result)
    for name, rec in result["per_query"].items():
        say("query", name, json.dumps(rec, sort_keys=True))
    say("latency samples", result["latency_samples"])
    say("failed_share", result["failed"] / max(1, result["attempted"]))
    missing = [k for k, v in e2e.items() if v is None]
    if missing:
        say("not measured:", ", ".join(missing))
        result["failed"] = max(result["failed"], 1)
    untraced_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
    # The overhead is only read against an untraced run of the same code
    # and settings; the directory outlives checkouts.
    same = {k: context.get(k) for k in ("commit", "workload", "seed", "seconds", "nproc",
                                        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}
    if trace_on:
        metrics, units = layer_metrics(result, events, e2e), PER_LAYER
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
        for name, rec in result["per_query"].items():
            say(f"entry.{name}.build_s", rec.get("build_s"))
            say(f"entry.{name}.build_jobs", rec.get("build_jobs"))
            say(f"executor.{name}.action_s", rec.get("action_s"))
        untraced = {}
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                saved = json.load(f)
            if saved.get("context") == same:
                untraced = saved["metrics"]
        if not untraced:
            say("tracing overhead: no untraced run of this commit, workload, seed, "
                "--seconds and machine in .perfbench_out/")
        for k in ("batch_wall_s", "event_latency_p50_ms", "drain_rows_per_s"):
            if untraced.get(k) and e2e.get(k):
                say(f"tracing overhead {k}: traced {e2e[k]:.4f} - untraced "
                    f"{untraced[k]:.4f} = {e2e[k] - untraced[k]:+.4f}")
    else:
        metrics, units = e2e, END_TO_END
        with open(untraced_path, "w") as f:
            json.dump({"context": same, "metrics": e2e}, f)
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": metrics[k] if metrics.get(k) is not None else 0.0,
                        "unit": u} for k, u in units.items()},
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
