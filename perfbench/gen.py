"""Seeded input generators for the benchmark.

Two kinds of input, both made only from the seed:

* batch tables: the columns and value ranges of the repo's TPC-H-ish
  test tables (documents, lineitem, orders, customer, nation, events),
  written as parquet with the same physical types, so every query in
  ``__spark_entry__.queries()`` and its DuckDB ``oracle_sql()`` read
  them unchanged;
* the event stream: Zipf-distributed ``user_id`` keys, a ``seq`` that
  totally orders the events, and a UTC ``event_time`` of which a fixed
  share is late or out of order.

``python3 perfbench/gen.py pace <plan.json>`` is the open-loop file
writer of the paced phase; it runs as its own process so that a slow
query never slows the schedule.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

# Row counts at scale 1.0 (the test tables are sf0.1 at scale 0.1).
ROWS_AT_SF1 = {
    "lineitem": 6_000_000,
    "orders": 1_500_000,
    "customer": 150_000,
    "events": 1_000_000,
    "documents": 50_000,
}
N_PARTS_SF1 = 200_000
N_SUPPLIERS_SF1 = 10_000
N_USERS_SF1 = 15_000

DAY_US = 86_400 * 1_000_000
EPOCH_1995_DAYS = 9131  # 1995-01-01 in days since 1970-01-01
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def _days_ts(rng: np.random.Generator, lo_day: int, hi_day: int, n: int) -> pa.Array:
    days = rng.integers(lo_day, hi_day + 1, n).astype(np.int64)
    return pa.array(days * DAY_US, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(values)
    ).cast(pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # 5% planted near-duplicates: an earlier document plus one token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = _pick(rng, ["en", "zh", "es", "fr", "de"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts),
        "lang": langs,
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _lineitem(rng: np.random.Generator, n: int, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days_ts(rng, EPOCH_1995_DAYS + 1, EPOCH_1995_DAYS + 2499, n),
    })


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), type=pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": _days_ts(rng, EPOCH_1995_DAYS, EPOCH_1995_DAYS + 2404, n),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
        ),
    })


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
        ),
    })


def _nation() -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + EPOCH_2024_US
    return pa.table({
        "event_id": pa.array(np.arange(n), type=pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), type=pa.int64()),
        "event_type": _pick(rng, ["view", "click", "purchase", "signup", "error"], n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_tables(out_dir: str, tables: list[str], scale: float, seed: int) -> dict[str, int]:
    """Write each named table as ``<out_dir>/<name>.parquet``; returns
    row counts. Each table draws from its own stream of the seed, so a
    table does not change when another is added to the list."""
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(1, int(r * scale)) for t, r in ROWS_AT_SF1.items()}
    makers = {
        "documents": lambda r: _documents(r, n["documents"]),
        "lineitem": lambda r: _lineitem(
            r, n["lineitem"], n["orders"],
            max(1, int(N_PARTS_SF1 * scale)), max(1, int(N_SUPPLIERS_SF1 * scale)),
        ),
        "orders": lambda r: _orders(r, n["orders"], n["customer"]),
        "customer": lambda r: _customer(r, n["customer"]),
        "nation": lambda r: _nation(),
        "events": lambda r: _events(r, n["events"], max(1, int(N_USERS_SF1 * scale))),
    }
    rows = {}
    for name in sorted(tables):
        rng = np.random.default_rng([seed, 1000 + sorted(makers).index(name)])
        table = makers[name](rng)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------- stream

STREAM_SCHEMA = pa.schema([
    ("user_id", pa.int64()),
    ("value", pa.int64()),
    ("seq", pa.int64()),
    ("event_time", pa.timestamp("us", tz="UTC")),
])


def stream_events(seed: int, n: int, n_keys: int, zipf_s: float, late_share: float,
                  event_step_ms: int, max_late_ms: int) -> pa.Table:
    """``n`` events in arrival order. Event time advances ``event_step_ms``
    per event; a ``late_share`` of events carry a time up to
    ``max_late_ms`` in the past, so they arrive out of order."""
    rng = np.random.default_rng([seed, 7])
    p = 1.0 / np.arange(1, n_keys + 1) ** zipf_s
    keys = rng.permutation(n_keys)[rng.choice(n_keys, size=n, p=p / p.sum())]
    t_ms = np.arange(n, dtype=np.int64) * event_step_ms
    late = rng.random(n) < late_share
    t_ms[late] -= rng.integers(1, max_late_ms + 1, int(late.sum()))
    return pa.table({
        "user_id": pa.array(keys.astype(np.int64)),
        "value": pa.array(rng.integers(0, 1_000_000, n)),
        "seq": pa.array(np.arange(n, dtype=np.int64)),
        "event_time": pa.array(EPOCH_2024_US + t_ms * 1000, type=pa.timestamp("us", tz="UTC")),
    }, schema=STREAM_SCHEMA)


def file_name(index: int, due_ms: int) -> str:
    """Files carry their index and due time (epoch ms) in the name."""
    return f"part-{index:06d}-due{due_ms}.parquet"


def due_ms_of(path: str) -> int:
    return int(os.path.basename(path).rsplit("due", 1)[1].split(".")[0])


def index_of(path: str) -> int:
    return int(os.path.basename(path).split("-")[1])


def write_file(table: pa.Table, staging: str, target_dir: str, name: str) -> None:
    """Write under a staging directory, then rename into place, so the
    file source never lists a half-written file."""
    tmp = os.path.join(staging, name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(target_dir, name))


def pace(plan_path: str) -> None:
    """Open loop: file ``i`` is due at ``start_ms + i * interval_ms``.

    The writer loads its events, then waits for the plan's start file,
    which holds ``start_ms``; starting the process early keeps its start-up
    off the schedule. It sleeps until each due time and never waits on
    the consumer, and writes one JSON entry per file (index, due,
    renamed-at) to the plan's log path when done."""
    with open(plan_path) as f:
        plan = json.load(f)
    events = pq.read_table(plan["events_path"])
    sizes = plan["rows_per_file"]
    offsets = np.concatenate([[0], np.cumsum(sizes)])
    chunks = [events.slice(int(offsets[i]), int(sizes[i])) for i in range(len(sizes))]
    deadline = time.time() + 600
    while not os.path.exists(plan["start_path"]):
        if time.time() > deadline:
            sys.exit("no start signal")
        time.sleep(0.005)
    with open(plan["start_path"]) as f:
        start_ms = int(f.read())
    interval = plan["interval_ms"]
    log = []
    for i, chunk in enumerate(chunks):
        due = start_ms + i * interval
        wait = due / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        name = file_name(plan["first_index"] + i, due)
        write_file(chunk, plan["staging_dir"], plan["target_dir"], name)
        log.append({"index": plan["first_index"] + i, "due_ms": due,
                    "written_ms": int(time.time() * 1000)})
    with open(plan["log_path"], "w") as f:
        json.dump(log, f)


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "pace":
        sys.exit("usage: gen.py pace <plan.json>")
    pace(sys.argv[2])
