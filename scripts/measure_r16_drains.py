#!/usr/bin/env python
"""r16 drain profiling (VERDICT r15 item 2): where does per-trigger time
go in the five benched streaming drains? Reproduces each drain with the
exact graded machinery and dumps recentProgress durationMs per batch:

  triggerExecution = whole trigger wall
  addBatch         = the actual micro-batch job (source read + sink)
  latestOffset/getBatch = source planning (Python DataSource round trips)
  walCommit + commitOffsets = offset/commit log writes (fsync class)
  queryPlanning    = incremental planner

Usage: python scripts/measure_r16_drains.py [drain ...]
Drains: tumbling state_v2 update_mode delta_source delta_cdf
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import uuid

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from sparkstreamingtwitter_presidential_spark.vendor import ensure_protobuf  # noqa: E402

ensure_protobuf()

from pyspark.sql import functions as F  # noqa: E402

from sparkstreamingtwitter_presidential_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DUR_KEYS = [
    "triggerExecution",
    "addBatch",
    "latestOffset",
    "getBatch",
    "walCommit",
    "commitOffsets",
    "queryPlanning",
]


def report(tag: str, q, wall: float) -> None:
    progs = [json.loads(p.json) for p in q.recentProgress]
    print(f"\n== {tag}: wall {wall:.2f}s, {len(progs)} progress entries ==")
    totals: dict[str, int] = {}
    for p in progs:
        dm = p.get("durationMs", {})
        row = " ".join(f"{k}={dm.get(k, 0)}" for k in DUR_KEYS if k in dm)
        extra = {k: v for k, v in dm.items() if k not in DUR_KEYS}
        print(f"  batch {p.get('batchId')}: rows={p.get('numInputRows')} {row} {extra if extra else ''}")
        for k, v in dm.items():
            totals[k] = totals.get(k, 0) + int(v)
    print("  TOTALS:", " ".join(f"{k}={v}" for k, v in sorted(totals.items(), key=lambda x: -x[1])))
    sys.stdout.flush()


def drain_tumbling(spark) -> None:
    from sparkstreamingtwitter_presidential_spark.queries.streaming import (
        STREAM_STATE_PARTITIONS,
        _staged,
    )
    from sparkstreamingtwitter_presidential_spark.sources.replay import (
        read_events_stream,
    )
    from sparkstreamingtwitter_presidential_spark.streaming import tumbling_aggregate

    stream = read_events_stream(spark, _staged(spark, SF_DIR), files_per_trigger=2)
    agg = tumbling_aggregate(stream)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    t0 = time.perf_counter()
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    report("tumbling (memory sink, 2 files/trigger)", q, time.perf_counter() - t0)


def drain_state_v2(spark) -> None:
    from sparkstreamingtwitter_presidential_spark.queries.streaming import (
        STREAM_STATE_PARTITIONS,
        _staged,
    )
    from sparkstreamingtwitter_presidential_spark.sources.replay import (
        read_events_stream,
    )
    from sparkstreamingtwitter_presidential_spark.streaming.stateful2 import (
        running_totals_v2,
    )

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    track_key = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    spark.conf.set(track_key, "false")
    stream = read_events_stream(spark, _staged(spark, SF_DIR), files_per_trigger=2)
    agg = running_totals_v2(stream.select("user_id", "ts", "value"), emit_every=10)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    t0 = time.perf_counter()
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.unset(provider_key)
        spark.conf.unset(track_key)
    report("state_v2 (memory sink, RocksDB)", q, time.perf_counter() - t0)


def drain_update_mode(spark) -> None:
    from sparkstreamingtwitter_presidential_spark.queries.streaming import _staged
    from sparkstreamingtwitter_presidential_spark.sources.replay import (
        read_events_stream,
    )
    from sparkstreamingtwitter_presidential_spark.streaming.update_mode import (
        running_counts,
    )

    stream = read_events_stream(spark, _staged(spark, SF_DIR), files_per_trigger=2)
    agg = running_counts(stream)
    state = {}

    def apply_updates(batch_df, batch_id):
        for r in batch_df.collect():
            d = r.asDict()
            state[d["event_type"]] = tuple(d.values())

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    t0 = time.perf_counter()
    q = agg.writeStream.outputMode("update").foreachBatch(apply_updates).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    report("update_mode (foreachBatch collect)", q, time.perf_counter() - t0)


def _delta_stream(spark, cdf: bool) -> None:
    from sparkstreamingtwitter_presidential_spark.queries.lakehouse import (
        _cdf_staged_delta,
        _staged_delta,
    )
    from sparkstreamingtwitter_presidential_spark.io import load_table
    from sparkstreamingtwitter_presidential_spark.sources.delta import write_delta
    from sparkstreamingtwitter_presidential_spark.sources.delta_stream_ds import (
        register_delta_stream,
    )

    if cdf:
        table = _cdf_staged_delta(spark, SF_DIR)
    else:
        cols = ["event_id", "user_id", "event_type", "value"]

        def build(spark, table):
            ev = load_table(spark, SF_DIR, "events").select(*cols)
            for m in range(3):
                write_delta(ev.filter(f"event_id % 3 = {m}"), table, mode="append")

        table = _staged_delta(spark, SF_DIR, "stream_src", build)
    register_delta_stream(spark)
    scratch = tempfile.mkdtemp(prefix="ssp_r16_prof_")
    out = os.path.join(scratch, "out")

    def sink(df, bid):
        df.write.mode("append").parquet(out)

    reader = spark.readStream.format("delta_native").option(
        "maxCommitsPerTrigger", "1"
    )
    if cdf:
        reader = reader.option("readChangeFeed", "true")
    t0 = time.perf_counter()
    q = (
        reader.option("progress_dir", os.path.join(scratch, "progress"))
        .load(table)
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    report(f"delta_{'cdf' if cdf else 'source'} (foreachBatch parquet)", q, time.perf_counter() - t0)


DRAINS = {
    "tumbling": drain_tumbling,
    "state_v2": drain_state_v2,
    "update_mode": drain_update_mode,
    "delta_source": lambda s: _delta_stream(s, cdf=False),
    "delta_cdf": lambda s: _delta_stream(s, cdf=True),
}


def main() -> None:
    names = sys.argv[1:] or list(DRAINS)
    spark = get_spark("measure-r16-drains")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the staging + JIT once
    from sparkstreamingtwitter_presidential_spark.io import load_table

    load_table(spark, SF_DIR, "events").count()
    for n in names:
        DRAINS[n](spark)
    spark.stop()


if __name__ == "__main__":
    main()
