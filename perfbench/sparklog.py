"""Readers for Spark's own telemetry: the streaming checkpoint's source
log, streaming progress reports, the event log, and process RSS.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import statistics
import threading


# ------------------------------------------------------ file -> batch map

def source_log(checkpoint: str, source: int = 0) -> dict[str, int]:
    """File base name -> batch id, from ``<checkpoint>/sources/<n>/``.

    Each log file (``<batchId>`` or a compacted ``<batchId>.compact``)
    holds a version line followed by one JSON entry per file, and every
    entry names its own ``batchId``."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", str(source), "*")):
        name = os.path.basename(path)
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def iso_ms(ts: str) -> int:
    """Progress timestamps ('2026-01-01T00:00:00.123Z') to epoch ms."""
    d = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return int(d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)


def batch_end_ms(progress: list[dict]) -> dict[int, int]:
    """Batch id -> epoch ms at which its trigger finished."""
    return {
        p["batchId"]: iso_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
        for p in progress if p["numInputRows"] > 0
    }


def file_latencies(file_batch: dict[str, int], ends: dict[int, int],
                   due_ms: dict[str, int]) -> tuple[list[float], list[str]]:
    """Latency (ms) of each file from its due time to the end of the
    batch that consumed it, and the files no finished batch consumed."""
    lat, missing = [], []
    for name, due in due_ms.items():
        b = file_batch.get(name)
        if b is None or b not in ends:
            missing.append(name)
        else:
            lat.append(float(ends[b] - due))
    return lat, missing


def backlog_max(written_ms: dict[str, int], file_batch: dict[str, int],
                progress: list[dict]) -> int:
    """Largest number of files waiting at any trigger start: written
    before the trigger started but not consumed by an earlier batch."""
    worst = 0
    for p in progress:
        t = iso_ms(p["timestamp"])
        b = p["batchId"]
        waiting = sum(
            1 for n, w in written_ms.items()
            if w <= t and file_batch.get(n, b) >= b
        )
        worst = max(worst, waiting)
    return worst


# ------------------------------------------------------- progress metrics

def progress_metrics(progress: list[dict]) -> dict[str, float]:
    dur = [p["durationMs"] for p in progress]
    trig = [d.get("triggerExecution", 0) for d in dur]

    def total(key):
        return float(sum(d.get(key, 0) for d in dur))

    ops = [o for p in progress for o in p.get("stateOperators", [])]
    return {
        "streaming.triggers": float(len(progress)),
        "streaming.trigger_mean_ms": statistics.fmean(trig) if trig else 0.0,
        "streaming.trigger_max_ms": float(max(trig, default=0)),
        "streaming.add_batch_ms": total("addBatch"),
        "streaming.query_planning_ms": total("queryPlanning"),
        "streaming.wal_commit_ms": total("walCommit"),
        "streaming.commit_offsets_ms": total("commitOffsets"),
        "sources.latest_offset_ms": total("latestOffset"),
        "sources.get_batch_ms": total("getBatch"),
        "state.commit_ms": float(sum(o.get("commitTimeMs", 0) for o in ops)),
        "state.update_ms": float(sum(o.get("allUpdatesTimeMs", 0) for o in ops)),
        "state.rows_updated": float(sum(o.get("numRowsUpdated", 0) for o in ops)),
    }


# -------------------------------------------------------------- event log

PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to initialize Python workers": "python.init_s",
    "time to start Python workers": "python.start_s",
}


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith((".", "appstatus")):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def executor_metrics(events: list[dict], group_of_job) -> dict[str, dict]:
    """Per job-group layer totals. ``group_of_job(properties)`` names the
    group a job belongs to (or None to skip it). Task CPU, GC, shuffle
    and spill come from task-end metrics; Python-worker time
    from stage SQL accumulables; skew is max over median task time of
    each stage with at least four tasks."""
    stage_group: dict[int, str] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            g = group_of_job(e.get("Properties") or {})
            if g is not None:
                for s in e["Stage IDs"]:
                    stage_group.setdefault(s, g)
    out: dict[str, dict] = {
        g: {"task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0.0,
            "shuffle_read_bytes": 0.0, "spill_bytes": 0.0, "task_skew": 0.0,
            **{v: 0.0 for v in PY_METRICS.values()}}
        for g in set(stage_group.values())
    }
    task_times: dict[int, list[float]] = {}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if g is None or not m:
                continue
            o = out[g]
            o["task_cpu_s"] += m["Executor CPU Time"] / 1e9
            o["gc_s"] += m["JVM GC Time"] / 1e3
            o["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            r = m["Shuffle Read Metrics"]
            o["shuffle_read_bytes"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
            o["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            task_times.setdefault(e["Stage ID"], []).append(float(m["Executor Run Time"]))
        elif e["Event"] == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g is None:
                continue
            for acc in info.get("Accumulables", []):
                key = PY_METRICS.get(acc.get("Name"))
                if key:
                    out[g][key] += float(acc.get("Value") or 0) / 1e3
    for s, times in task_times.items():
        if len(times) >= 4:
            med = statistics.median(times)
            if med > 0:
                g = stage_group[s]
                out[g]["task_skew"] = max(out[g]["task_skew"], max(times) / med)
    return out


# -------------------------------------------------------------------- RSS

def _children(pid: int, table: dict[int, list[int]]) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(table.get(p, []))
    return out


def _ppid_table() -> dict[int, list[int]]:
    table: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            table.setdefault(ppid, []).append(int(d))
    return table


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the
    JVM and its Python workers), excluding the subtrees of pids in
    ``exclude`` (the load generator), every ``period`` seconds, and keeps
    the largest sum and its make-up by process name. ``error`` is set if
    the sampling thread died, so that its peak cannot be trusted."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.exclude: frozenset[int] = frozenset()
        self.error: str | None = None
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def exclude_tree(self, pid: int) -> None:
        """Leave out ``pid`` and its descendants from now on. The set is
        replaced, not changed, because the sampling thread iterates it."""
        self.exclude = self.exclude | {pid}

    def _sample(self) -> None:
        table = _ppid_table()
        exclude = self.exclude
        for ex in exclude:
            for p in _children(ex, table):
                table.pop(p, None)
        table = {k: [c for c in v if c not in exclude] for k, v in table.items()}
        # Only java and python processes: a helper the JVM forks (to run
        # readlink, say) briefly shares the JVM's pages and would count twice.
        rss = {p: _rss_bytes(p) for p in _children(os.getpid(), table)
               if p == os.getpid() or _comm(p).startswith(("java", "python"))}
        total = sum(rss.values())
        if total > self.peak:
            self.peak = total
            parts: dict[str, int] = {}
            for p, b in rss.items():
                name = "driver" if p == os.getpid() else _comm(p)[:4]
                parts[name] = parts.get(name, 0) + b
            self.peak_parts = parts

    def _loop(self) -> None:
        try:
            while not self._stop.wait(self.period):
                self._sample()
        except Exception as e:  # noqa: BLE001 - reported through ``error``
            self.error = repr(e)

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        if self.error is None:
            self._sample()
