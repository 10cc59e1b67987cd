"""Native Iceberg streaming source (format('iceberg_native')):
sequence-number offsets, exactly-once restarts, identity partition
injection, and the append-only/schema-drift refusals."""

from __future__ import annotations

import pytest

from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
    write_iceberg,
)
from sparkstreamingtwitter_presidential_spark.sources.iceberg_stream_ds import (
    register_iceberg_stream,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, s string, v double")


def _run(spark, table, ckpt, sink, batches=None, **opts):
    reader = spark.readStream.format("iceberg_native")
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load(table)
        .writeStream.outputMode("append")
        .foreachBatch(
            lambda df, bid: (
                sink.extend(tuple(r) for r in df.collect()),
                batches is not None and batches.append(df.count()),
            )
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)


def test_iceberg_stream_appends_exactly_once_across_restart(
    spark, tmp_path
):
    """Identity-partitioned appends deliver exactly once, partition
    values injected from the manifests; a fresh reader on the same
    checkpoint delivers only post-restart snapshots."""
    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), t, partition_by=["s"]
    )
    write_iceberg(
        _df(spark, [(3, "a", 3.0)]), t, partition_by=["s"], mode="append"
    )
    ckpt = str(tmp_path / "ckpt")
    first: list = []
    _run(spark, t, ckpt, first)
    assert sorted(first) == [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]
    write_iceberg(
        _df(spark, [(4, "b", 4.0)]), t, partition_by=["s"], mode="append"
    )
    second: list = []
    _run(spark, t, ckpt, second)
    assert second == [(4, "b", 4.0)], "restart re-delivered snapshots"


def test_iceberg_stream_caps_backlog(spark, tmp_path):
    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    for i in range(4):
        write_iceberg(
            _df(spark, [(i, "x", float(i))]),
            t,
            mode="append",
        )
    ckpt = str(tmp_path / "ckpt")
    sink: list = []
    counts: list = []
    _run(
        spark, t, ckpt, sink, batches=counts,
        maxSnapshotsPerTrigger="1", progress_dir=ckpt,
    )
    assert sorted(r[0] for r in sink) == [0, 1, 2, 3]
    assert max(counts) <= 1 and len(counts) >= 4
    write_iceberg(_df(spark, [(9, "x", 9.0)]), t, mode="append")
    sink2: list = []
    _run(
        spark, t, ckpt, sink2,
        maxSnapshotsPerTrigger="1", progress_dir=ckpt,
    )
    assert [r[0] for r in sink2] == [9]


def test_iceberg_stream_refuses_non_append_snapshots(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        delete_iceberg,
    )

    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(i, "x", float(i)) for i in range(4)]), t)
    ckpt = str(tmp_path / "ckpt")
    sink: list = []
    _run(spark, t, ckpt, sink)
    assert sorted(r[0] for r in sink) == [0, 1, 2, 3]
    delete_iceberg(spark, t, "id = 1")  # CoW rewrite snapshot
    with pytest.raises(StreamingQueryException, match="append-only"):
        _run(spark, t, ckpt, sink)


def test_iceberg_stream_refuses_midstream_rename(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        rename_column_iceberg,
    )

    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), t)
    ckpt = str(tmp_path / "ckpt")
    sink: list = []
    _run(spark, t, ckpt, sink)  # consume v1 under the old schema
    rename_column_iceberg(t, "v", "val")
    write_iceberg(
        spark.createDataFrame(
            [(2, "b", 2.0)], "id long, s string, val double"
        ),
        t,
        mode="append",
    )
    # the new snapshot wrote under the CURRENT schema — fine
    sink2: list = []
    _run(spark, t, ckpt, sink2)
    assert sink2 == [(2, "b", 2.0)]
    # but a COLD stream whose range spans the pre-rename snapshot
    # refuses (its files store the old name)
    with pytest.raises(
        StreamingQueryException, match="renames|field-id"
    ):
        _run(spark, t, str(tmp_path / "ckpt2"), [])


def test_iceberg_stream_starting_sequence(spark, tmp_path):
    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), t)
    write_iceberg(_df(spark, [(2, "b", 2.0)]), t, mode="append")
    sink: list = []
    _run(
        spark, t, str(tmp_path / "ckpt"), sink, startingSequence="1"
    )
    assert [r[0] for r in sink] == [2]


def test_iceberg_stream_caps_backlog_by_bytes(spark, tmp_path):
    """maxBytesPerTrigger (r10): a 1-byte budget admits one snapshot
    per micro-batch via the summary's added-files-size (soft max);
    the backlog still drains completely."""
    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    for i in range(4):
        write_iceberg(_df(spark, [(i, "x", float(i))]), t, mode="append")
    ckpt = str(tmp_path / "ckpt")
    sink: list = []
    counts: list = []
    _run(
        spark, t, ckpt, sink, batches=counts,
        maxBytesPerTrigger="1", progress_dir=ckpt,
    )
    assert sorted(r[0] for r in sink) == [0, 1, 2, 3]
    assert [c for c in counts if c] == [1, 1, 1, 1]


def test_iceberg_stream_starting_timestamp(spark, tmp_path):
    """startingTimestamp resolves to the first main-ancestry snapshot
    at-or-after it (r10 parity); both-options and after-latest refuse."""
    import datetime as dt
    import time as _time

    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), t)
    _time.sleep(0.05)
    cut = dt.datetime.now(dt.timezone.utc).isoformat()
    _time.sleep(0.05)
    write_iceberg(_df(spark, [(2, "b", 2.0)]), t, mode="append")
    sink: list = []
    _run(spark, t, str(tmp_path / "ckpt"), sink, startingTimestamp=cut)
    assert [r[0] for r in sink] == [2]
    with pytest.raises(Exception, match="not both"):
        _run(
            spark, t, str(tmp_path / "c2"), [],
            startingTimestamp=cut, startingSequence="0",
        )
    future = dt.datetime.now(dt.timezone.utc) + dt.timedelta(days=1)
    with pytest.raises(Exception, match="after the table"):
        _run(
            spark, t, str(tmp_path / "c3"), [],
            startingTimestamp=future.isoformat(),
        )


def test_iceberg_stream_skips_mid_range_compaction(spark, tmp_path):
    """A replace (compaction) snapshot in the stream's range is
    SKIPPED, not fatal (r10 — per-snapshot planning off each append's
    OWN manifest list): rows deliver exactly once under their original
    append sequences even though the range's latest manifest list no
    longer carries the pre-compaction entries."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        compact_iceberg,
    )

    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), t)
    write_iceberg(_df(spark, [(2, "b", 2.0)]), t, mode="append")
    assert compact_iceberg(spark, t) is not None  # replace snapshot
    write_iceberg(_df(spark, [(3, "c", 3.0)]), t, mode="append")
    # cold drain over the WHOLE range (appends + mid-range compaction)
    sink: list = []
    _run(spark, t, str(tmp_path / "ckpt"), sink)
    assert sorted(sink) == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]
    # restart sees nothing new; a post-compaction append still streams
    write_iceberg(_df(spark, [(4, "d", 4.0)]), t, mode="append")
    sink2: list = []
    _run(spark, t, str(tmp_path / "ckpt"), sink2)
    assert sink2 == [(4, "d", 4.0)]


def test_iceberg_stream_skip_change_commits(spark, tmp_path):
    """skipChangeCommits=true (r11, the Delta twin's option): non-
    append snapshots — CoW rewrites AND their delete manifests — skip
    WHOLE; appends before and after deliver exactly once."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        delete_iceberg,
    )

    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(i, "x", float(i)) for i in range(4)]), t)
    delete_iceberg(spark, t, "id = 1")  # CoW rewrite snapshot
    write_iceberg(_df(spark, [(10, "y", 10.0)]), t, mode="append")
    sink: list = []
    _run(spark, t, str(tmp_path / "ckpt"), sink, skipChangeCommits="true")
    # the rewrite's survivor file (ids 0,2,3 re-staged) is NOT
    # delivered — only true appends
    assert sorted(r[0] for r in sink) == [0, 1, 2, 3, 10]
    # restart keeps skipping: another DML + append deliver append-only
    delete_iceberg(spark, t, "id = 2")
    write_iceberg(_df(spark, [(11, "z", 11.0)]), t, mode="append")
    sink2: list = []
    _run(spark, t, str(tmp_path / "ckpt"), sink2, skipChangeCommits="true")
    assert sorted(r[0] for r in sink2) == [11]


@pytest.mark.parametrize("cap", ["maxBytesPerTrigger", "maxSnapshotsPerTrigger"])
def test_iceberg_stream_skip_change_commits_byte_budget(spark, tmp_path, cap):
    """With skipChangeCommits=true, neither the byte nor the count cap
    spends a trigger on commits partitions() will skip — no zero-row
    micro-batch burned on the skipped DML commit."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        delete_iceberg,
    )

    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(i, "x", float(i)) for i in range(4)]), t)
    delete_iceberg(spark, t, "id = 1")  # CoW rewrite (non-append)
    write_iceberg(_df(spark, [(10, "y", 10.0)]), t, mode="append")
    write_iceberg(_df(spark, [(11, "z", 11.0)]), t, mode="append")
    ckpt = str(tmp_path / "ckpt")
    sink: list = []
    counts: list = []
    _run(
        spark, t, ckpt, sink, batches=counts,
        skipChangeCommits="true", progress_dir=ckpt, **{cap: "1"},
    )
    assert sorted(r[0] for r in sink) == [0, 1, 2, 3, 10, 11]
    while counts and counts[-1] == 0:
        counts.pop()  # trailing empty replan ticks are fine
    # one batch per APPEND snapshot; a zero in the middle means a
    # trigger's whole budget went to the skipped delete commit
    assert counts == [4, 1, 1]
