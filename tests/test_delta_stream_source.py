"""Native Delta streaming source (format('delta_native')): version
offsets, exactly-once restarts on a shared checkpoint, Arrow-batched
reads with partition injection, and the append-only refusals."""

from __future__ import annotations

import os

import pytest

from sparkstreamingtwitter_presidential_spark.sources.delta import (
    write_delta,
)
from sparkstreamingtwitter_presidential_spark.sources.delta_stream_ds import (
    register_delta_stream,
)


def _run(spark, table, ckpt, sink, batches=None, **opts):
    reader = spark.readStream.format("delta_native")
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


def test_stream_delivers_appends_exactly_once_across_restart(
    spark, tmp_path
):
    """Cold start drains the backlog; appends delivered; a fresh
    reader on the SAME checkpoint delivers only post-restart commits
    (version offsets are restart-safe by construction)."""
    register_delta_stream(spark)
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, i % 2, float(i)) for i in range(6)],
            "id long, part int, v double",
        ),
        t,
        mode="append",
        partition_by=["part"],
    )
    write_delta(
        spark.createDataFrame([(10, 0, 10.0)], "id long, part int, v double"),
        t,
        mode="append",
    )
    ckpt = str(tmp_path / "ckpt")
    first: list = []
    _run(spark, t, ckpt, first)
    assert sorted(r[0] for r in first) == [0, 1, 2, 3, 4, 5, 10]
    # partition values injected with the declared type
    assert {(r[0], r[1]) for r in first if r[0] < 6} == {
        (i, i % 2) for i in range(6)
    }
    write_delta(
        spark.createDataFrame([(11, 1, 11.0)], "id long, part int, v double"),
        t,
        mode="append",
    )
    second: list = []
    _run(spark, t, ckpt, second)
    assert [r[0] for r in second] == [11], (
        "restart re-delivered committed versions"
    )


def test_stream_starting_version_skips_history(spark, tmp_path):
    register_delta_stream(spark)
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, 0, 1.0)], "id long, part int, v double"),
        t,
        mode="append",
    )
    write_delta(
        spark.createDataFrame([(2, 0, 2.0)], "id long, part int, v double"),
        t,
        mode="append",
    )
    sink: list = []
    _run(
        spark, t, str(tmp_path / "ckpt"), sink, startingVersion="1"
    )
    assert [r[0] for r in sink] == [2]


def test_stream_caps_backlog_with_progress_dir(spark, tmp_path):
    """maxCommitsPerTrigger + progress_dir: the backlog drains in
    bounded batches and the cap survives a restart without offset
    regression."""
    register_delta_stream(spark)
    t = str(tmp_path / "t")
    for i in range(5):
        write_delta(
            spark.createDataFrame(
                [(i, 0, float(i))], "id long, part int, v double"
            ),
            t,
            mode="append",
        )
    ckpt = str(tmp_path / "ckpt")
    sink: list = []
    counts: list = []
    _run(
        spark, t, ckpt, sink, batches=counts,
        maxCommitsPerTrigger="2", progress_dir=ckpt,
    )
    assert sorted(r[0] for r in sink) == [0, 1, 2, 3, 4]
    assert max(counts) <= 2 and len(counts) >= 3
    write_delta(
        spark.createDataFrame([(9, 0, 9.0)], "id long, part int, v double"),
        t,
        mode="append",
    )
    sink2: list = []
    _run(
        spark, t, ckpt, sink2,
        maxCommitsPerTrigger="2", progress_dir=ckpt,
    )
    assert [r[0] for r in sink2] == [9]


def test_stream_refuses_retractions_and_optimize_is_silent(
    spark, tmp_path
):
    """A DELETE commit in range fails the stream by name; an OPTIMIZE
    (dataChange:false) commit contributes nothing."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta,
        optimize_delta,
    )

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, 0, float(i)) for i in range(4)],
            "id long, part int, v double",
        ).repartition(2),
        t,
        mode="append",
    )
    optimize_delta(spark, t)  # v1: dataChange false
    ckpt = str(tmp_path / "ckpt")
    sink: list = []
    _run(spark, t, ckpt, sink)
    assert sorted(r[0] for r in sink) == [0, 1, 2, 3]  # once, not twice
    delete_delta(spark, t, "id = 1")  # v2: retraction
    with pytest.raises(StreamingQueryException, match="append-only"):
        _run(spark, t, ckpt, sink)


def test_stream_schema_resolves_logical_names_on_mapped_tables(
    spark, tmp_path
):
    # mapped tables stream since r10 (the full drain is pinned by
    # test_delta_mapped_dml.test_mapped_table_streams_logical_columns);
    # here: the declared schema is the LOGICAL one
    register_delta_stream(spark)
    t = str(tmp_path / "mapped")
    write_delta(
        spark.createDataFrame([(1, "a", 1.0)], "id long, s string, v double"),
        t,
        mode="append",
        column_mapping="name",
    )
    assert spark.readStream.format("delta_native").load(t).schema.names == [
        "id", "s", "v",
    ]


def test_stream_caps_backlog_by_bytes(spark, tmp_path):
    """maxBytesPerTrigger (r10): a tiny byte budget admits one commit
    per micro-batch (soft max — at least one always admits), the
    whole backlog still drains, and a generous budget drains it in
    one batch."""
    register_delta_stream(spark)
    t = str(tmp_path / "t")
    for i in range(4):
        write_delta(
            spark.createDataFrame(
                [(i, 0, float(i))], "id long, part int, v double"
            ),
            t,
            mode="append",
        )
    ckpt = str(tmp_path / "ckpt")
    sink: list = []
    counts: list = []
    _run(
        spark, t, ckpt, sink, batches=counts,
        maxBytesPerTrigger="1", progress_dir=ckpt,
    )
    assert sorted(r[0] for r in sink) == [0, 1, 2, 3]
    nonzero = [c for c in counts if c]
    assert nonzero == [1, 1, 1, 1], (
        "1-byte budget must admit exactly one commit per batch"
    )
    # generous budget: everything in one batch
    t2 = str(tmp_path / "t2")
    for i in range(3):
        write_delta(
            spark.createDataFrame(
                [(i, 0, float(i))], "id long, part int, v double"
            ),
            t2,
            mode="append",
        )
    sink2: list = []
    counts2: list = []
    _run(
        spark, t2, str(tmp_path / "ckpt2"), sink2, batches=counts2,
        maxBytesPerTrigger=str(1 << 30), progress_dir=str(tmp_path / "ckpt2"),
    )
    assert sorted(r[0] for r in sink2) == [0, 1, 2]
    assert [c for c in counts2 if c] == [3]


def test_stream_skip_change_commits(spark, tmp_path):
    """skipChangeCommits=true (r10, real-source parity): DML commits in
    range are skipped WHOLE (their adds are rewrite survivors, not
    appends); append commits before and after still deliver. The
    default remains fail-by-name."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta,
    )

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, 0, float(i)) for i in range(4)],
            "id long, part int, v double",
        ).repartition(1),
        t,
        mode="append",
    )
    delete_delta(spark, t, "id = 1")  # change commit (remove + add)
    write_delta(
        spark.createDataFrame([(10, 0, 10.0)], "id long, part int, v double"),
        t,
        mode="append",
    )
    # default: the stream fails on the change commit
    sink0: list = []
    with pytest.raises(Exception, match="skipChangeCommits"):
        _run(spark, t, str(tmp_path / "ckpt0"), sink0)
    # with the option: appends only — the DML commit's rewrite
    # survivors (0, 2, 3) never re-deliver
    sink: list = []
    _run(
        spark, t, str(tmp_path / "ckpt"), sink, skipChangeCommits="true"
    )
    assert sorted(r[0] for r in sink) == [0, 1, 2, 3, 10]


@pytest.mark.parametrize("cap", ["maxBytesPerTrigger", "maxCommitsPerTrigger"])
def test_stream_skip_change_commits_caps(spark, tmp_path, cap):
    """Under skipChangeCommits=true, neither cap spends a trigger on the
    skipped DML commit: one batch per APPEND commit, no zero-row batch
    in the middle."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta,
    )

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, 0, float(i)) for i in range(4)],
            "id long, part int, v double",
        ).repartition(1),
        t,
        mode="append",
    )
    delete_delta(spark, t, "id = 1")
    for i in (10, 11):
        write_delta(
            spark.createDataFrame(
                [(i, 0, float(i))], "id long, part int, v double"
            ),
            t,
            mode="append",
        )
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
    assert counts == [4, 1, 1]


def test_stream_starting_timestamp(spark, tmp_path):
    """startingTimestamp resolves to the first commit at-or-after it
    (real-source parity); both-options and after-latest refuse."""
    import time as _time

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, 0, 1.0)], "id long, part int, v double"),
        t,
        mode="append",
    )
    _time.sleep(0.05)
    import datetime as _dt

    cut = _dt.datetime.now(_dt.timezone.utc).isoformat()
    _time.sleep(0.05)
    write_delta(
        spark.createDataFrame([(2, 0, 2.0)], "id long, part int, v double"),
        t,
        mode="append",
    )
    sink: list = []
    _run(spark, t, str(tmp_path / "ckpt"), sink, startingTimestamp=cut)
    assert [r[0] for r in sink] == [2]
    with pytest.raises(Exception, match="not both"):
        _run(
            spark, t, str(tmp_path / "c2"), [],
            startingTimestamp=cut, startingVersion="0",
        )
    future = _dt.datetime.now(_dt.timezone.utc) + _dt.timedelta(days=1)
    with pytest.raises(Exception, match="after the table"):
        _run(
            spark, t, str(tmp_path / "c3"), [],
            startingTimestamp=future.isoformat(),
        )


def test_stream_read_change_feed(spark, tmp_path):
    """readChangeFeed=true (r10): the stream delivers CHANGE ROWS —
    insert rows for appends, the cdc files' exact pre/post/delete rows
    for CDF-enabled DML — stamped with _change_type/_commit_version;
    a rewrite commit WITHOUT cdc fails by name."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta,
        update_delta,
    )

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, 0, float(i)) for i in range(4)],
            "id long, part int, v double",
        ).repartition(1),
        t,
        mode="append",
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    update_delta(spark, t, {"v": "v + 100"}, "id = 2")   # v1
    delete_delta(spark, t, "id = 3")                     # v2
    sink: list = []
    _run(spark, t, str(tmp_path / "ckpt"), sink, readChangeFeed="true")
    got = sorted((r[0], r[2], r[3], r[4]) for r in sink)
    assert got == [
        (0, 0.0, "insert", 0),
        (1, 1.0, "insert", 0),
        (2, 2.0, "insert", 0),
        (2, 2.0, "update_preimage", 1),
        (2, 102.0, "update_postimage", 1),
        (3, 3.0, "delete", 2),
        (3, 3.0, "insert", 0),
    ]
    # restart on the same checkpoint: only newer changes
    update_delta(spark, t, {"v": "v * 0 + 7"}, "id = 0")  # v3
    sink2: list = []
    _run(spark, t, str(tmp_path / "ckpt"), sink2, readChangeFeed="true")
    assert sorted((r[0], r[2], r[3], r[4]) for r in sink2) == [
        (0, 0.0, "update_preimage", 3),
        (0, 7.0, "update_postimage", 3),
    ]


def test_stream_read_change_feed_refuses_uncdc_rewrites(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta,
    )

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, 0, float(i)) for i in range(4)],
            "id long, part int, v double",
        ).repartition(1),
        t,
        mode="append",
    )
    delete_delta(spark, t, "id = 1")  # no CDF enabled -> no cdc files
    with pytest.raises(StreamingQueryException, match="without cdc"):
        _run(spark, t, str(tmp_path / "ckpt"), [], readChangeFeed="true")
    with pytest.raises(Exception, match="contradictory"):
        _run(
            spark, t, str(tmp_path / "c2"), [],
            readChangeFeed="true", skipChangeCommits="true",
        )


def test_stream_change_feed_composes_with_mapping_and_dvs(spark, tmp_path):
    """readChangeFeed composes with column mapping (cdc files store
    physical names; the stream emits logical) and with DV-mode DML
    (delete_delta_dv stages cdc rows on CDF tables — the exclusive
    source, so the DV attach never trips the append-only check)."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta_dv,
    )

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, "g", float(i)) for i in range(4)],
            "id long, grp string, v double",
        ).repartition(1),
        t,
        mode="append",
        column_mapping="name",
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delete_delta_dv(spark, t, "id = 2")  # v1: DV marks + cdc rows
    sink: list = []
    _run(spark, t, str(tmp_path / "ckpt"), sink, readChangeFeed="true")
    got = sorted((r[0], r[3], r[4]) for r in sink)
    assert got == [
        (0, "insert", 0),
        (1, "insert", 0),
        (2, "delete", 1),
        (2, "insert", 0),
        (3, "insert", 0),
    ]


def test_stream_change_feed_refuses_dv_adds_without_cdc(spark, tmp_path):
    """A DV attach WITHOUT cdc actions is a rewrite the CDF stream
    cannot derive — fail by name, never stream deleted rows as
    'insert' (r10 review finding)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta_dv,
    )

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, 0, float(i)) for i in range(4)],
            "id long, part int, v double",
        ).repartition(1),
        t,
        mode="append",
    )
    delete_delta_dv(spark, t, "id = 2")  # no CDF -> no cdc actions
    with pytest.raises(StreamingQueryException, match="without cdc"):
        _run(spark, t, str(tmp_path / "ckpt"), [], readChangeFeed="true")
