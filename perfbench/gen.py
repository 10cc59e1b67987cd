"""Seeded inputs for the benchmark, resampled from the engine's fixture.

``fixture/`` holds the engine's sf0.01 fixture tables (ten parquet
tables: a TPC-H-like star, an ``events`` table standing in for the
collected tweets, ``documents`` and ``embeddings``), the data the
registry's queries and DuckDB oracles were written against.  Every input
of a run is drawn from them with ``--seed``:

- the query tables are the fixture tables with their rows in a seeded
  order (keys, values and distributions are the fixture's own);
- stream files and lakehouse commit batches are seeded, disjoint samples
  of the fixture's events.

Two runs with one seed see byte-identical inputs (``fingerprint`` proves
it).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")


def fixture_tables() -> list[str]:
    return sorted(f[: -len(".parquet")] for f in os.listdir(FIXTURE) if f.endswith(".parquet"))


def read_fixture(name: str) -> pa.Table:
    return pq.read_table(os.path.join(FIXTURE, f"{name}.parquet"))


def make_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every fixture table under ``out_dir`` with its rows in a
    seeded order; returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {}
    for name in fixture_tables():
        t = read_fixture(name)
        pq.write_table(t.take(rng.permutation(t.num_rows)), os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


def fingerprint(paths: list[str]) -> str:
    """sha256 over the bytes of ``paths`` (files, or directories walked
    in sorted order) — equal fingerprints mean identical inputs."""
    h = hashlib.sha256()
    for root in sorted(paths):
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
        )
        for f in files:
            h.update(os.path.relpath(f, os.path.dirname(root)).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def event_samples(seed: int, *sizes: int) -> list[pa.Table]:
    """Disjoint seeded samples of the fixture events, one per size, each
    in event-time order (as a collector receives them)."""
    events = read_fixture("events").replace_schema_metadata(None)
    perm = np.random.default_rng([seed, 0x5EED]).permutation(events.num_rows)
    out, start = [], 0
    for n in sizes:
        out.append(events.take(np.sort(perm[start:start + n])))
        start += n
    return out


def stream_file(events: pa.Table, i: int, rows: int, due_us: int) -> pa.Table:
    """Event file ``i`` of a stream: rows ``i*rows ..`` of ``events``,
    every event stamped with the file's creation time ``created_us``."""
    t = events.slice(i * rows, rows)
    return t.append_column("created_us", pa.array(np.full(t.num_rows, due_us, dtype=np.int64)))


def lakehouse_batches(seed: int, n_keys: int, n_merge: int, n_delete: int) -> list[dict]:
    """The lakehouse commit sequence over fixture events (``id`` is the
    event id, ``val`` its value in cents, ``tag`` its type, ``ts_us`` its
    time as epoch micros, a long every format's writer accepts): an
    insert of ``n_keys`` events, an append of ``n_merge`` more, a merge
    that gives ``n_merge`` existing keys another event's values and
    inserts ``n_merge`` new events, then a delete of ``n_delete`` keys."""
    ev, upd, new = event_samples(seed ^ 0x1A4E, n_keys + n_merge, n_merge, n_merge)
    rng = np.random.default_rng([seed, 0x1A4E])

    def cols(t: pa.Table, ids=None) -> dict:
        return {
            "id": t.column("event_id").to_pylist() if ids is None else [int(k) for k in ids],
            "val": [round(v * 100) for v in t.column("value").to_pylist()],
            "tag": t.column("event_type").to_pylist(),
            "ts_us": t.column("ts").cast(pa.int64()).to_pylist(),
        }

    ev = ev.take(rng.permutation(ev.num_rows))
    keys = np.array(ev.column("event_id").to_pylist())
    updated = rng.choice(keys, n_merge, replace=False)
    merged = cols(upd, updated)
    for k, v in cols(new).items():
        merged[k] += v
    # deletes never touch a merged key, so one commit may carry both
    deleted = rng.choice(np.setdiff1d(keys, updated), n_delete, replace=False)
    return [
        {"op": "insert", "rows": cols(ev.slice(0, n_keys))},
        {"op": "append", "rows": cols(ev.slice(n_keys))},
        {"op": "merge", "rows": merged},
        {"op": "delete", "keys": sorted(int(k) for k in deleted)},
    ]


def expected_state(batches: list[dict], upto: int) -> dict[int, tuple]:
    """Key -> (val, tag, ts_us) after applying ``batches[:upto]``."""
    state: dict[int, tuple] = {}
    for b in batches[:upto]:
        if b["op"] == "delete":
            for k in b["keys"]:
                state.pop(k, None)
            continue
        r = b["rows"]
        for k, v, t, ts in zip(r["id"], r["val"], r["tag"], r["ts_us"]):
            state[k] = (v, t, ts)
    return state


def write_event_file(path: str, table: pa.Table) -> None:
    """Write one stream event file atomically: temp name, then rename
    into place, so the file source never lists a partial file."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
