"""The two workloads.

``tweet_analytics`` is a closed loop (one client) over named registry
queries.  ``collect_store`` is a closed loop of lakehouse commits and
read-backs plus a fixed-volume drain of a seeded event backlog through
the collector, and, once per run, an open loop fed by a separate
generator process.  Every op's result is checked; a wrong result counts
as a failure, never as a timing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import NamedTuple

import duckdb
import pandas as pd
import pyarrow.parquet as pq

import gen
import procfs
from check import canon, digest

# The paper's Phase 2 over the collected table: its Hive-style queries
# and a TPC-H join (driver, io and JVM bound), then text cleaning, n-gram
# dedup and its char-bigram K-Means (operators/functions/ml bound, Arrow
# and pandas Python workers busy).
TWEET_ANALYTICS = [
    "a2_global_count", "p2_projection", "f2_not_null_filter",
    "f1_lang_prefix_filter", "l1_limit", "a4_groupby_count",
    "s5_collector_rows", "flagship_event_type_counts",
    "tpch_q3_shipping_priority",
    "s2_clean_text", "dedup_ngram_jaccard_pairs", "ml_kmeans_cluster_sizes",
]
# layers that do Spark work on each workload (selfcheck.py asserts the
# traced run charges jobs and CPU time to each)
BUSY_LAYERS = {
    "tweet_analytics": ("queries", "operators", "functions", "ml"),
    "collect_store": ("sources", "streaming"),
}
LAKE_COLS = ["id", "val", "tag", "ts_us"]
LAKE_SCHEMA = "id long, val long, tag string, ts_us long"


@dataclass
class Op:
    name: str
    kind: str  # query | commit | read | drain
    layer: str
    fn: object  # () -> (columns, rows)
    check: object  # (columns, rows) -> bool


class Sample(NamedTuple):
    name: str
    kind: str
    ms: float
    idx: int  # pass index; 0 is the cold pass
    traced: bool


class Pass(NamedTuple):
    idx: int
    wall: float
    traced: bool
    cpu: float  # CPU seconds of the whole process tree


@dataclass
class Ctx:
    spark: object
    tracer: object
    reg: dict
    work: str
    sf_dir: str
    seed: int
    seconds: float
    tiny: bool
    trace: bool
    inject: bool
    attempted: int = 0
    failed: int = 0
    samples: list[Sample] = field(default_factory=list)
    passes: list[Pass] = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def run_op(ctx: Ctx, op: Op, idx: int, traced: bool) -> float:
    ctx.attempted += 1
    ok, ms = False, 0.0
    try:
        with ctx.tracer.span(op.layer, "op"):
            t0 = time.perf_counter()
            cols, rows = op.fn()
            ms = (time.perf_counter() - t0) * 1000.0
        if traced:
            ctx.tracer.collect_jobs()
        ctx.tracer.enabled = False  # checking is not the program's work
        if ctx.inject and ctx.attempted == 1:
            rows = list(rows)[1:] if len(rows) else [("injected",)]
        ok = bool(op.check(cols, rows))
        if not ok:
            log(f"WRONG RESULT: {op.name} (pass {idx})")
    except Exception:
        log(f"FAILED: {op.name} (pass {idx})\n{traceback.format_exc()}")
    if traced:
        ctx.tracer.collect_jobs(count=False)
        ctx.tracer.enabled = True
    if not ok:
        ctx.failed += 1
    log(f"  op {op.name}: {ms:.1f} ms{'' if ok else ' FAILED'}")
    ctx.samples.append(Sample(op.name, op.kind, ms, idx, traced))
    return ms


def run_pass(ctx: Ctx, ops: list[Op], idx: int, traced: bool) -> float:
    ctx.tracer.enabled = traced
    if traced:
        ctx.tracer.collect_jobs(count=False)
    start = time.time()
    pids = procfs.tree_pids()
    cpu0 = procfs.tree_cpu_s(pids)
    wall = sum(run_op(ctx, op, idx, traced) for op in ops) / 1000.0
    pids |= procfs.tree_pids()
    cpu = procfs.tree_cpu_s(pids) - cpu0
    ctx.tracer.enabled = False
    ctx.passes.append(Pass(idx, wall, traced, cpu))
    if traced:
        ctx.extra.setdefault("traced_spans", []).append((start, time.time() - start))
    log(f"pass {idx} {'traced' if traced else 'untraced'}: {wall:.3f} s, cpu {cpu:.3f} s")
    return wall


def closed_loop(ctx: Ctx, make_ops, after_cold=None) -> None:
    """A cold pass, then warm passes until ``seconds`` have elapsed (at
    least two; with tracing, untraced and traced passes alternate and at
    least one of each runs)."""
    run_pass(ctx, make_ops(0), 0, False)
    if after_cold is not None:
        after_cold()
    deadline = time.perf_counter() + ctx.seconds
    i = 1
    while True:
        run_pass(ctx, make_ops(i), i, ctx.trace and i % 2 == 0)
        i += 1
        if time.perf_counter() >= deadline and i >= 3:
            break


# -- registry workloads -------------------------------------------------

def oracle_expectations(sf_dir: str, reg: dict, names: list[str]) -> dict:
    from sparkstreamingtwitter_presidential_spark.io import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    out = {}
    for n in names:
        sql = reg[n].oracle
        if sql is not None:
            cur = con.execute(sql)
            out[n] = canon([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out


def registry_ops(ctx: Ctx, names: list[str]):
    expected = oracle_expectations(ctx.sf_dir, ctx.reg, names)
    # ops without an oracle must be non-empty and repeat the digest of
    # their first run
    first: dict[str, str] = {}

    def op(name: str) -> Op:
        q = ctx.reg[name]

        def fn():
            ctx.tracer.take_owner()
            with ctx.tracer.span("queries", "queries.build"):
                df = q.fn(ctx.spark, ctx.sf_dir)
            # the frame executes here: charge its jobs to the layer whose
            # function planned it (queries.action_ms still sums them all)
            owner = ctx.tracer.take_owner()
            with (ctx.tracer.span(*owner, also="queries.action") if owner
                  else ctx.tracer.span("queries", "queries.action")):
                rows = df.collect()
            return df.columns, rows

        def check(cols, rows):
            c = canon(cols, rows)
            if name in expected:
                return c == expected[name]
            return len(rows) > 0 and first.setdefault(name, digest(c)) == digest(c)

        return Op(name, "query", "queries", fn, check)

    ops = [op(n) for n in names]
    log(f"{len(expected)} of {len(ops)} ops checked against the DuckDB oracle")
    return lambda i: ops


def tweet_analytics(ctx: Ctx) -> None:
    closed_loop(ctx, registry_ops(ctx, TWEET_ANALYTICS))


# -- lakehouse commits and reads ----------------------------------------

def lake_sizes(tiny: bool) -> tuple[int, int, int]:
    return (200, 50, 30) if tiny else (1000, 250, 150)


def _rows_of(state: dict) -> tuple:
    return canon(LAKE_COLS, [(k, *v) for k, v in state.items()])


def lakehouse_ops(ctx: Ctx):
    from sparkstreamingtwitter_presidential_spark.sources import delta, delta_dml, hudi, hudi_mor

    spark = ctx.spark
    batches = gen.lakehouse_batches(ctx.seed, *lake_sizes(ctx.tiny))
    frames = [spark.createDataFrame(pd.DataFrame(b["rows"]), LAKE_SCHEMA) for b in batches[:3]]
    del_keys = batches[3]["keys"]
    del_frame = spark.createDataFrame(pd.DataFrame({"id": del_keys}), "id long")
    after = {k: _rows_of(gen.expected_state(batches, k)) for k in (1, 3, 4)}  # state after k batches
    appended = canon(LAKE_COLS, list(zip(*(batches[1]["rows"][c] for c in LAKE_COLS))))

    def commits(fmt: str, path: str, clock: list):
        if fmt == "delta":
            steps = [
                lambda: delta.write_delta(frames[0], path),
                lambda: delta.write_delta(frames[1], path, mode="append"),
                lambda: delta_dml.merge_delta(spark, path, frames[2], ["id"]),
            ]
        else:
            steps = [
                lambda: hudi.write_hudi(frames[0], path, "id", n_file_groups=2, table_type="MERGE_ON_READ"),
                lambda: hudi.write_hudi(frames[1], path, "id"),
                # one MOR deltacommit carries the merge and the deletes
                lambda: hudi_mor.upsert_hudi_mor(spark, path, source=frames[2], deletes=del_frame),
            ]

        def commit_op(k, step):
            def fn():
                clock.append(step())
                return ["clock"], [(clock[-1],)]
            return Op(f"{fmt}.{batches[k]['op']}", "commit", "sources", fn,
                      lambda c, r: len(r) == 1 and r[0][0] is not None)

        return [commit_op(k, s) for k, s in enumerate(steps)]

    def reads(fmt: str, path: str, clock: list):
        """Latest snapshot, time travel to the first commit, and the
        incremental pull of the append; scan time is charged to the
        format whose reader planned the frame."""
        if fmt == "delta":
            snap = lambda k=None: delta.read_delta(spark, path, version=None if k is None else clock[k])  # noqa: E731
            incr = lambda: delta.delta_changes(spark, path, clock[0], clock[1])  # noqa: E731
            snap_fmt = incr_fmt = "delta"
        else:
            snap = lambda k=None: hudi_mor.read_hudi_mor(spark, path, as_of=None if k is None else clock[k])  # noqa: E731
            incr = lambda: hudi.read_hudi_incremental(spark, path, clock[0], clock[1])  # noqa: E731
            snap_fmt, incr_fmt = "hudi_mor", "hudi"

        def read_op(name, make_df, want, scan_fmt):
            def fn():
                df = make_df()
                with ctx.tracer.span("sources", f"sources.{scan_fmt}.scan"):
                    rows = df.select(*LAKE_COLS).collect()
                return LAKE_COLS, rows
            return Op(f"{fmt}.{name}", "read", "sources", fn,
                      lambda c, r: canon(c, r) == want)

        # only hudi's merge commit carries the deletes
        latest = after[4] if fmt == "hudi" else after[3]
        return [
            read_op("read_latest", snap, latest, snap_fmt),
            read_op("read_as_of_insert", lambda: snap(0), after[1], snap_fmt),
            read_op("read_incremental", incr, appended, incr_fmt),
        ]

    def make_ops(i: int) -> list[Op]:
        root = os.path.join(ctx.work, "lake", f"p{i}")
        shutil.rmtree(os.path.join(ctx.work, "lake", f"p{i - 2}"), ignore_errors=True)
        ops: list[Op] = []
        for fmt in ("delta", "hudi"):
            clock: list = []
            path = os.path.join(root, fmt)
            ops += commits(fmt, path, clock) + reads(fmt, path, clock)
        return ops

    return make_ops


def table_layout(root: str) -> tuple[int, int, int]:
    """(data files, metadata files, bytes) under ``root``: metadata is
    anything under a _delta_log, metadata or .hoodie directory."""
    data = meta = size = 0
    for d, _, files in os.walk(root):
        is_meta = any(p in ("_delta_log", "metadata", ".hoodie") for p in d.split(os.sep))
        for f in files:
            if f.endswith(".crc"):
                continue
            size += os.path.getsize(os.path.join(d, f))
            if is_meta:
                meta += 1
            elif f.endswith(".parquet") or ".log." in f:
                data += 1
    return data, meta, size


def collect_store(ctx: Ctx) -> None:
    """Each pass: the lakehouse commits and reads, then one backlog
    drain.  The open loop runs once, after the cold pass."""
    backlog = ctx.extra["backlog"]
    s = stream_sizes(ctx.tiny)
    ctx.extra["drain_events"] = s["backlog_files"] * s["backlog_rows"]
    make_lake_ops = lakehouse_ops(ctx)
    closed_loop(ctx, lambda i: make_lake_ops(i) + [drain_op(ctx, backlog, i)],
                after_cold=lambda: open_loop(ctx, backlog))
    last = max(p.idx for p in ctx.passes)
    files, meta, size = table_layout(os.path.join(ctx.work, "lake", f"p{last}"))
    ctx.layer.update({"sources.table_files": files, "sources.metadata_files": meta,
                      "sources.table_bytes": size})


# -- event stream -------------------------------------------------------

def stream_sizes(tiny: bool) -> dict:
    """Backlog drains: ``backlog_files`` x ``backlog_rows``, two files a
    trigger.  Open loop: a file of ``live_rows`` every ``period_ms``
    (500 events/s, under half the measured drain rate), a dozen files per
    trigger interval, so a trigger never finds the source idle.  Each
    file is one latency sample; the p90 needs 100 files, which the run
    budget does not allow, so only the median is reported."""
    s = {"per_trigger": 2, "period_ms": 40.0, "trigger": "500 milliseconds", "live_rows": 20}
    if tiny:
        return s | {"backlog_files": 4, "backlog_rows": 50, "live_files": 20}
    return s | {"backlog_files": 4, "backlog_rows": 600, "live_files": 50}


def stream_samples(tiny: bool) -> tuple[int, int]:
    """Events in the backlog and in the live stream (disjoint samples)."""
    s = stream_sizes(tiny)
    return s["backlog_files"] * s["backlog_rows"], s["live_files"] * s["live_rows"]


def stage_backlog(work: str, seed: int, tiny: bool) -> str:
    s = stream_sizes(tiny)
    d = os.path.join(work, "stream", "backlog")
    os.makedirs(d, exist_ok=True)
    backlog, _ = gen.event_samples(seed, *stream_samples(tiny))
    for i in range(s["backlog_files"]):
        gen.write_event_file(os.path.join(d, f"part-{i:05d}.parquet"),
                             gen.stream_file(backlog, i, s["backlog_rows"], 0))
    return d


def _window_expected(src_glob: str) -> tuple:
    con = duckdb.connect()
    cur = con.execute(
        "SELECT strftime(time_bucket(INTERVAL 1 hour, ts), '%Y-%m-%d %H:%M:%S') AS window_start,"
        " event_type, count(*) AS n FROM read_parquet(?) GROUP BY ALL", [src_glob])
    out = canon([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out


def _ids(path_glob_dir: str) -> list[int]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path_glob_dir) for f in fs
             if f.endswith(".parquet") and not f.startswith((".", "_"))]
    ids: list[int] = []
    for f in files:
        ids += pq.read_table(f, columns=["event_id"]).column(0).to_pylist()
    return sorted(ids)


class StreamJobs:
    """The consumers of one stream besides the collector (which runs on
    the caller's thread): a tumbling-window aggregation into a memory
    table and an exactly-once Delta sink."""

    def __init__(self, ctx: Ctx, stream, root: str, tag: str):
        from sparkstreamingtwitter_presidential_spark.streaming import delta_sink, windows

        self.ctx, self.tag = ctx, tag
        self.table = os.path.join(root, "delta")
        ck = lambda n: os.path.join(root, "ckpt", n)  # noqa: E731
        self.queries = [
            windows.tumbling_aggregate(stream).writeStream.outputMode("complete")
            .format("memory").queryName(f"win_{tag}").option("checkpointLocation", ck("win")).start(),
            delta_sink.write_stream_to_delta(stream, self.table, ck("delta"), "bench"),
        ]

    def finish(self) -> None:
        for q in self.queries:
            q.processAllAvailable()
        for q in self.queries:
            q.stop()

    def results(self) -> tuple[tuple, dict[str, list[int]]]:
        from sparkstreamingtwitter_presidential_spark.sources import delta

        spark = self.ctx.spark
        win = spark.table(f"win_{self.tag}").select("window_start", "event_type", "n")
        win_c = canon(win.columns, win.collect())
        ids = sorted(r[0] for r in delta.read_delta(spark, self.table).select("event_id").collect())
        return win_c, {"delta": ids}


def _check_stream(ctx: Ctx, name: str, src_dir: str, out_dir: str, jobs: StreamJobs) -> bool:
    """Collected rows equal generated rows exactly once; window counts
    equal a batch recompute; every lakehouse sink holds each row once."""
    want_ids = _ids(src_dir)
    got_ids = _ids(out_dir)
    win, sinks = jobs.results()
    ok = got_ids == want_ids
    ok &= win == _window_expected(os.path.join(src_dir, "*.parquet"))
    for f, ids in sinks.items():
        if ids != want_ids:
            log(f"{name}: {f} sink holds {len(ids)} rows, expected {len(want_ids)}")
            ok = False
    if got_ids != want_ids:
        log(f"{name}: collector wrote {len(got_ids)} rows, expected {len(want_ids)}")
    return ok


def drain_op(ctx: Ctx, backlog: str, i: int) -> Op:
    """Fixed-volume drain of the seeded backlog through the collector
    and every consumer, from a fresh checkpoint."""
    from sparkstreamingtwitter_presidential_spark.sources import replay
    from sparkstreamingtwitter_presidential_spark.streaming import collector

    s = stream_sizes(ctx.tiny)
    total = s["backlog_files"] * s["backlog_rows"]
    root = os.path.join(ctx.work, "stream", f"drain{i}")
    state = {}

    def fn():
        stream = replay.read_events_stream(ctx.spark, backlog, files_per_trigger=s["per_trigger"])
        jobs = StreamJobs(ctx, stream, root, f"d{i}")
        collector.run_bounded_collector(stream, os.path.join(root, "out"),
                                        os.path.join(root, "ckpt", "collector"), stop_after=total)
        jobs.finish()
        state["jobs"] = jobs
        return ["event_id"], _ids(os.path.join(root, "out"))

    def check(cols, rows):
        ok = _check_stream(ctx, f"drain{i}", backlog, os.path.join(root, "out"), state["jobs"])
        ok &= list(rows) == _ids(backlog)
        shutil.rmtree(root, ignore_errors=True)
        return ok

    return Op("drain", "drain", "streaming", fn, check)


def _batch_of_files(ckpt: str) -> dict[str, int]:
    out: dict[str, int] = {}
    d = os.path.join(ckpt, "sources", "0")
    for f in os.listdir(d):
        if f.startswith("."):
            continue
        with open(os.path.join(d, f)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def open_loop(ctx: Ctx, backlog: str) -> None:
    """Generator process -> source dir -> collector (processing-time
    trigger) plus the window and lakehouse consumers.  Event latency is
    the commit time of the collector batch that emitted the event minus
    the event's creation stamp."""
    from sparkstreamingtwitter_presidential_spark.streaming import collector

    s = stream_sizes(ctx.tiny)
    root = os.path.join(ctx.work, "stream", "live")
    src = os.path.join(root, "src")
    os.makedirs(src, exist_ok=True)
    schema = ctx.spark.read.parquet(backlog).schema
    stream = (ctx.spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 64).parquet(src))
    start_us = int((time.time() + 1.0) * 1e6)
    genp = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "streamgen.py"),
         "--dir", src, "--seed", str(ctx.seed), "--skip", str(stream_samples(ctx.tiny)[0]),
         "--files", str(s["live_files"]),
         "--rows", str(s["live_rows"]), "--period-ms", str(s["period_ms"]), "--start-us", str(start_us)],
        stdout=subprocess.PIPE, text=True)
    ctx.attempted += 1
    ok = False
    try:
        jobs = StreamJobs(ctx, stream, root, "live")
        total = s["live_files"] * s["live_rows"]
        ckpt = os.path.join(root, "ckpt", "collector")
        collected, restarts = 0, 0
        deadline = time.monotonic() + 120
        # the collector stops once its source looks drained; if that
        # happens before the generator is done, resume on the same
        # checkpoint (exactly-once across restarts)
        while not os.listdir(src) and time.monotonic() < deadline:
            time.sleep(0.01)  # a collector started on an empty source stops at once
        while collected < total and time.monotonic() < deadline:
            res = collector.run_bounded_collector(stream, os.path.join(root, "out"), ckpt,
                                                  stop_after=total - collected,
                                                  trigger_interval=s["trigger"])
            collected += res.rows_collected
            restarts += 1
            log(f"collector run {restarts}: {res.rows_collected} rows in {res.batches} batches, "
                f"{len(os.listdir(src))} files present")
        stopped = time.time()
        out, _ = genp.communicate(timeout=60)
        written = json.loads(out)["written_s"]
        jobs.finish()
        correct = _check_stream(ctx, "open_loop", src, os.path.join(root, "out"), jobs)
        batch_of = _batch_of_files(ckpt)
        # the collector stops right after its last batch's sink returns,
        # which can be before that batch's commit file is written: its
        # rows count as committed when the collector returned
        commit_s = {}
        for b in set(batch_of.values()):
            p = os.path.join(ckpt, "commits", str(b))
            commit_s[b] = os.stat(p).st_mtime if os.path.exists(p) else stopped
        lat, lag, done = [], [], []
        for i in range(s["live_files"]):
            due = (start_us + i * s["period_ms"] * 1000) / 1e6
            c = commit_s[batch_of[f"part-{i:05d}.parquet"]]
            lat.append((c - due) * 1000.0)  # one sample per file: its events share a stamp
            lag.append((written[i] - due) * 1000.0)
            done.append(c)
        # backlog seen at each file's arrival: files written, not yet committed
        backlog_max = max(sum(1 for j in range(i + 1) if done[j] > written[i])
                          for i in range(len(written)))
        ctx.extra.update({"event_latency_ms": lat, "collector_runs": restarts})
        ctx.layer.update({"gen.lag_ms": max(lag), "gen.backlog_files": backlog_max})
        ok = correct
    except Exception:
        log(f"FAILED: open_loop\n{traceback.format_exc()}")
    finally:
        if genp.poll() is None:
            genp.kill()
        genp.wait()
    if not ok:
        ctx.failed += 1
        ctx.extra.setdefault("event_latency_ms", [])


def streaming_progress_metrics(progress: list[dict], drain_walls: list[float]) -> dict:
    """Per-trigger phases summed over the traced drains' queries; time
    outside triggers is each query's share of the drain wall time minus
    its trigger time."""
    out = {"streaming.batches": 0, "streaming.input_rows": 0, "streaming.state_rows": 0,
           "streaming.state_bytes": 0, "streaming.state_commit_ms": 0}
    phases = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
              "commitOffsets", "triggerExecution")
    for p in phases:
        out[f"streaming.{p}_ms"] = 0
    runs = set()
    for p in progress:
        runs.add(p["runId"])
        if p.get("numInputRows", 0) > 0:
            out["streaming.batches"] += 1
        out["streaming.input_rows"] += p.get("numInputRows", 0)
        for ph in phases:
            out[f"streaming.{ph}_ms"] += p.get("durationMs", {}).get(ph, 0)
        for st in p.get("stateOperators", []):
            out["streaming.state_rows"] = max(out["streaming.state_rows"], st.get("numRowsTotal", 0))
            out["streaming.state_bytes"] = max(out["streaming.state_bytes"], st.get("memoryUsedBytes", 0))
            out["streaming.state_commit_ms"] += st.get("commitTimeMs", 0)
    lifetime_ms = sum(drain_walls) * 1000.0 * (len(runs) / max(1, len(drain_walls)))
    out["streaming.outside_trigger_ms"] = max(0.0, lifetime_ms - out["streaming.triggerExecution_ms"])
    return out


WORKLOADS = {
    "tweet_analytics": tweet_analytics,
    "collect_store": collect_store,
}


def stage_inputs(work: str, seed: int, workload: str, tiny: bool) -> dict:
    """Generate every input of ``workload`` from ``seed`` under ``work``;
    returns row counts and a content hash of what was written."""
    info: dict = {"sf_dir": os.path.join(work, "tables")}
    if workload == "tweet_analytics":
        info["rows"] = gen.make_tables(info["sf_dir"], seed)
        info["input_hash"] = gen.fingerprint([info["sf_dir"]])
    else:
        info["backlog"] = stage_backlog(work, seed, tiny)
        s = stream_sizes(tiny)
        b = gen.lakehouse_batches(seed, *lake_sizes(tiny))
        info["rows"] = {x["op"]: len(x.get("rows", {}).get("id", x.get("keys", []))) for x in b}
        info["rows"] |= {"backlog": s["backlog_files"] * s["backlog_rows"],
                         "live": s["live_files"] * s["live_rows"]}
        info["input_hash"] = digest((gen.fingerprint([info["backlog"]]),
                                     *(json.dumps(x, sort_keys=True) for x in b)))
    return info
