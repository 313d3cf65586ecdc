"""Output checks: batch results against their DuckDB oracles, stream
results against references computed here from the generated events.

The batch comparison follows ``tests/test_oracle_parity.py`` (columns
sorted by name, doubles compared by their bits, rows compared as an
order-free multiset), but compares sorted 64-bit row hashes so that a
few hundred thousand rows check in well under a second.
"""

from __future__ import annotations

import datetime
import decimal
import math
import re
import struct

import numpy as np
import pandas as pd

NULL = "\x00NULL"


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return NULL
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else struct.pack("<d", v).hex()
    if isinstance(v, (datetime.datetime, pd.Timestamp)):
        t = pd.Timestamp(v)
        return (t.tz_convert("UTC").tz_localize(None) if t.tzinfo else t).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, np.generic):
        return _cell(v.item())
    if isinstance(v, decimal.Decimal):
        return repr(v)
    return repr(v)


def _normalized(s: pd.Series) -> pd.Series:
    """One column in a dtype-stable form whose hash tells values apart
    exactly as ``_cell`` does: doubles by their bits (every NaN alike),
    integers as int64, timestamps as UTC nanoseconds, anything else as
    its canonical string."""
    if pd.api.types.is_bool_dtype(s.dtype) or pd.api.types.is_integer_dtype(s.dtype):
        return s.astype("int64")
    if pd.api.types.is_float_dtype(s.dtype):
        a = s.to_numpy(dtype=np.float64, copy=True)
        a[np.isnan(a)] = np.nan
        return pd.Series(a.view(np.uint64))
    if pd.api.types.is_datetime64_any_dtype(s.dtype):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return pd.Series(s.astype("datetime64[ns]").to_numpy().view(np.int64))
    return s.map(lambda v: "s:" + v if isinstance(v, str) else _cell(v)).astype(object)


def row_hashes(pdf: pd.DataFrame) -> tuple[list[str], np.ndarray]:
    """Sorted column names and the sorted 64-bit hashes of the rows: an
    order-free fingerprint of the multiset of rows."""
    cols = sorted(pdf.columns)
    norm = pd.DataFrame({c: _normalized(pdf[c]).reset_index(drop=True) for c in cols})
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy() if cols else np.array([])
    return cols, np.sort(h)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    g_cols, g = row_hashes(got)
    w_cols, w = row_hashes(want)
    if g_cols != w_cols:
        return f"columns {g_cols} != {w_cols}"
    if len(g) != len(w):
        return f"row count {len(g)} != {len(w)}"
    if len(w) == 0:
        return "oracle returned no rows"
    bad = int(np.count_nonzero(g != w))
    return f"{bad} of {len(g)} row hashes differ" if bad else None


# ----------------------------------------------------- minhash_lsh_pairs

def _shingles(text: str, n: int) -> set:
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def check_lsh_pairs(pairs: pd.DataFrame, docs: pd.DataFrame, threshold: float,
                    ngram: int, near_dups: pd.DataFrame) -> str | None:
    """``minhash_lsh_pairs`` has no oracle: LSH recall is probabilistic.
    Check what is exact about it instead: every reported pair has the
    reported Jaccard similarity of word ``ngram``-shingle sets and it is
    at least ``threshold``, no pair repeats, and every planted
    near-duplicate pair whose similarity is at least 0.9 is found."""
    text = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
    sh = {}

    def jac(a, b):
        for d in (a, b):
            if d not in sh:
                sh[d] = _shingles(text[d], ngram)
        x, y = sh[a], sh[b]
        return len(x & y) / len(x | y) if (x or y) else 0.0

    a_col, b_col, s_col = pairs.columns[:3]
    seen = set()
    for a, b, s in zip(pairs[a_col].tolist(), pairs[b_col].tolist(), pairs[s_col].tolist()):
        key = (min(a, b), max(a, b))
        if key in seen:
            return f"pair {key} reported twice"
        seen.add(key)
        j = jac(a, b)
        if j < threshold or abs(j - float(s)) > 1e-9:
            return f"pair {key} similarity {s} but exact Jaccard {j:.6f}"
    for a, b in zip(near_dups["a"].tolist(), near_dups["b"].tolist()):
        key = (min(a, b), max(a, b))
        if jac(*key) >= 0.9 and key not in seen:
            return f"planted near-duplicate {key} missing"
    return None


def planted_near_dups(docs: pd.DataFrame) -> pd.DataFrame:
    """Pairs (copy, original) of documents whose text is another
    document's text plus a trailing ' dup' token."""
    by_text = {}
    for d, t in zip(docs["doc_id"].tolist(), docs["text"].tolist()):
        by_text.setdefault(t, d)
    rows = []
    for d, t in zip(docs["doc_id"].tolist(), docs["text"].tolist()):
        base = re.sub(r" dup$", "", t)
        if base != t and base in by_text:
            rows.append((by_text[base], d))
    return pd.DataFrame(rows, columns=["a", "b"])


# ------------------------------------------------------------- streams

def ktable_reference(events: pd.DataFrame) -> dict[int, tuple[int, int]]:
    """Last-write-wins by (event_time, seq) per user_id: the latest
    event's (seq, value) per key, whatever order the events arrived in."""
    e = events.sort_values(["event_time", "seq"], kind="mergesort")
    last = e.groupby("user_id", sort=False).tail(1)
    return {int(k): (int(s), int(v)) for k, s, v in
            zip(last["user_id"], last["seq"], last["value"])}


def bucket_reference(batches: list[pd.DataFrame], capacity: int,
                     filltime_ms: int) -> set[int]:
    """Replay the kspp token bucket (mem_token_bucket_store.h) per key.

    Each key's bucket starts full with ``tstamp = 0``. Within a
    micro-batch a key's events replay in (event_time, seq) order; state
    carries across micro-batches in arrival order. On an event at
    ``ts`` (epoch ms): ``delta = floor((ts - tstamp) * capacity /
    filltime_ms)``; when ``delta > 0`` the bucket refills to
    ``min(capacity, tokens + delta)`` and ``tstamp = ts``. The event is
    accepted when a token is left, and consumes it. Returns the
    accepted ``seq`` values."""
    rate = capacity / filltime_ms
    state: dict[int, tuple[float, int]] = {}
    accepted: set[int] = set()
    for batch in batches:
        b = batch.sort_values(["user_id", "event_time", "seq"], kind="mergesort")
        ts_ms = b["event_time"].astype("datetime64[ns]").to_numpy().view(np.int64) // 1_000_000
        for key, ts, seq in zip(b["user_id"].tolist(), ts_ms.tolist(), b["seq"].tolist()):
            tokens, tstamp = state.get(key, (float(capacity), 0))
            delta = int((ts - tstamp) * rate)
            if delta > 0:
                tstamp = ts
                tokens = min(float(capacity), tokens + delta)
            if tokens > 0:
                tokens -= 1
                accepted.add(seq)
            state[key] = (tokens, tstamp)
    return accepted
