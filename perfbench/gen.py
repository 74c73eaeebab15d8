"""Seeded clickstream generator (numpy + pyarrow, no Spark).

Writes, for one seed:

- ``dashboard/events.parquet``: the `events` table the nine dashboard
  queries read (several row groups, so the scan splits).
- ``<name>/chunks/chunk_NNNN.parquet``: replay logs for the stream
  workloads, equal-size and time-ordered, with strictly increasing
  modification times that all lie in the past (the file source replays in
  mtime order). A log may redeliver a share of each chunk's events at the
  head of the next chunk, as an at-least-once transport does.
- ``<name>/events.parquet``: the log's distinct events as one table, the
  input of the batch reference plan.
- ``manifest.json``: per-log event counts and per-chunk expected hashes.

The schema is the testdata `events` shape that `sources.streaming`'s
``WIRE_SCHEMA`` declares: ``event_id, ts (UTC), user_id, event_type,
value, props``. Users and documents are Zipf-skewed, drawn from pools of
N/20 users and N/10 documents for N events (FIXTURES.md); views outnumber
clicks 22.5:1.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: event_type mix; views : clicks = 0.90 : 0.04
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_PROBS = (0.90, 0.04, 0.02, 0.02, 0.02)

#: 2024-01-01T00:00:00Z in microseconds
START_US = 1_704_067_200_000_000
MINUTE_US = 60_000_000
DAY_US = 24 * 60 * MINUTE_US

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def pools(n: int) -> tuple[int, int]:
    """User and document pool sizes for `n` events: N/20 and N/10."""
    return max(1, n // 20), max(1, n // 10)


def _zipf_ids(rng: np.random.Generator, pool: int, n: int, s: float) -> np.ndarray:
    """`n` draws from ids 1..pool with P(rank r) ∝ r^-s; ranks are mapped
    to ids through a seeded permutation so heavy ids are scattered."""
    p = 1.0 / np.arange(1, pool + 1, dtype=np.float64) ** s
    p /= p.sum()
    ranks = rng.choice(pool, size=n, p=p)
    return rng.permutation(pool)[ranks].astype(np.int64) + 1


def events(
    rng: np.random.Generator,
    n: int,
    first_id: int,
    start_us: int,
    span_us: int,
    users: int,
    docs: int,
) -> pa.Table:
    """`n` time-ordered events with ids first_id.. over [start, start+span)."""
    ts = start_us + np.sort(rng.integers(0, span_us, size=n))
    kinds = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_PROBS)
    doc = pa.array(_zipf_ids(rng, docs, n, 1.05)).cast(pa.string())
    return pa.table(
        [
            pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            pa.array(_zipf_ids(rng, users, n, 1.1)),
            pa.DictionaryArray.from_arrays(
                pa.array(kinds.astype(np.int32)), pa.array(EVENT_TYPES)
            ).cast(pa.string()),
            pa.array(np.round(rng.gamma(2.0, 10.0, size=n), 2)),
            pc.binary_join_element_wise('{"k": ', doc, "}", ""),
        ],
        schema=SCHEMA,
    )


def table_digest(t: pa.Table) -> str:
    """md5 over the table's Arrow IPC bytes — pins the generated input."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return hashlib.md5(sink.getvalue().to_pybytes()).hexdigest()


def write_log(
    rng: np.random.Generator,
    out_dir: str,
    n_chunks: int,
    chunk_events: int,
    start_us: int,
    chunk_span_us: int,
    redeliver: float = 0.0,
) -> dict:
    """A replay log of `n_chunks` time-ordered chunk files of
    `chunk_events` new events each, every chunk spanning `chunk_span_us`
    of event time from `start_us`, plus the log's distinct events as one
    `events.parquet`. Each chunk after the first starts with a
    `redeliver` share of the previous chunk's events, re-sent unchanged."""
    chunk_dir = os.path.join(out_dir, "chunks")
    os.makedirs(chunk_dir)
    users, docs = pools(n_chunks * chunk_events)
    k = round(redeliver * chunk_events)
    parts, chunks = [], []
    # strictly increasing mtimes, newest still 1 s in the past
    base = time.time() - (n_chunks + 1)
    for i in range(n_chunks):
        t = events(
            rng,
            chunk_events,
            i * chunk_events,
            start_us + i * chunk_span_us,
            chunk_span_us,
            users,
            docs,
        )
        sent = t
        if k and parts:
            again = np.sort(rng.choice(parts[-1].num_rows, size=k, replace=False))
            sent = pa.concat_tables([parts[-1].take(again), t])
        path = os.path.join(chunk_dir, f"chunk_{i + 1:04d}.parquet")
        pq.write_table(sent, path)
        os.utime(path, (base + i, base + i))
        parts.append(t)
        chunks.append(
            {
                "file": os.path.basename(path),
                "events": sent.num_rows,
                "bytes": os.path.getsize(path),
                "md5": table_digest(sent),
            }
        )
    pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, "events.parquet"))
    return {
        "dir": out_dir,
        "chunk_dir": chunk_dir,
        "events": sum(c["events"] for c in chunks),
        "distinct_events": n_chunks * chunk_events,
        "bytes": sum(c["bytes"] for c in chunks),
        "chunks": chunks,
    }


def write_dashboard(
    rng: np.random.Generator, out_dir: str, n: int, days: int, row_group: int
) -> dict:
    os.makedirs(out_dir)
    t = events(rng, n, 0, START_US, days * DAY_US, *pools(n))
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(t, path, row_group_size=row_group)
    return {"dir": out_dir, "events": n, "bytes": os.path.getsize(path), "md5": table_digest(t)}


def write_manifest(root: str, manifest: dict) -> None:
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
