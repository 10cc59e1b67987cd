"""Copy-on-write DML on the native Delta connector: DELETE / UPDATE /
MERGE semantics (including SQL null handling, partition-column rules,
ambiguous-source rejection), OPTIMIZE compaction invariants
(dataChange=false, row preservation, time travel), and checkpoint
write→bootstrap round-trips after mutations."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sparkstreamingtwitter_presidential_spark.sources.delta import (
    DeltaCommitConflict,
    delta_history,
    read_delta,
    table_version,
    write_checkpoint,
    write_delta,
)
from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
    delete_delta,
    merge_delta,
    optimize_delta,
    update_delta,
)


def _mk_table(spark, path, partitioned=False, rows=None):
    rows = rows or [
        Row(id=1, cat="a", val=10.0),
        Row(id=2, cat="a", val=20.0),
        Row(id=3, cat="b", val=30.0),
        Row(id=4, cat="b", val=None),
        Row(id=5, cat="c", val=50.0),
    ]
    df = spark.createDataFrame(rows)
    write_delta(df, path, partition_by=["cat"] if partitioned else None)
    return path


def _rows(spark, path, version=None):
    return {
        tuple(r)
        for r in read_delta(spark, path, version)
        .select("id", "cat", "val")
        .collect()
    }


def test_delete_rewrites_only_matching_rows(spark, tmp_path):
    p = _mk_table(spark, str(tmp_path / "t"))
    v = delete_delta(spark, p, "val > 25")
    assert v == 1
    assert _rows(spark, p) == {(1, "a", 10.0), (2, "a", 20.0), (4, "b", None)}
    # time travel still sees the pre-delete snapshot
    assert len(_rows(spark, p, version=0)) == 5


def test_delete_null_predicate_keeps_row(spark, tmp_path):
    """SQL DELETE semantics: a NULL predicate does NOT delete the row."""
    p = _mk_table(spark, str(tmp_path / "t"))
    delete_delta(spark, p, "val < 100")  # NULL for id=4
    assert _rows(spark, p) == {(4, "b", None)}


def test_delete_no_match_commits_nothing(spark, tmp_path):
    p = _mk_table(spark, str(tmp_path / "t"))
    v = delete_delta(spark, p, "val > 1e9")
    assert v == 0 and table_version(p) == 0


def test_delete_partitioned_untouched_partitions_keep_files(spark, tmp_path):
    """Only partitions containing matches rewrite: partition 'a' files
    must survive a delete confined to partition 'b' byte-for-byte."""
    p = _mk_table(spark, str(tmp_path / "t"), partitioned=True)
    before = {
        f
        for f in os.listdir(os.path.join(p, "cat=a"))
        if f.endswith(".parquet")
    }
    delete_delta(spark, p, "cat = 'b'")
    after = {
        f
        for f in os.listdir(os.path.join(p, "cat=a"))
        if f.endswith(".parquet")
    }
    assert before == after
    assert _rows(spark, p) == {(1, "a", 10.0), (2, "a", 20.0), (5, "c", 50.0)}


def test_update_pre_update_row_semantics(spark, tmp_path):
    """SET expressions evaluate against the PRE-update row (standard
    SQL): swapping val = val + id must use the original val."""
    p = _mk_table(spark, str(tmp_path / "t"))
    update_delta(spark, p, {"val": "val + id"}, "id <= 2")
    assert _rows(spark, p) >= {(1, "a", 11.0), (2, "a", 22.0), (3, "b", 30.0)}


def test_update_refuses_partition_column(spark, tmp_path):
    p = _mk_table(spark, str(tmp_path / "t"), partitioned=True)
    with pytest.raises(ValueError, match="partition column"):
        update_delta(spark, p, {"cat": "'z'"})


def test_update_unknown_column_rejected(spark, tmp_path):
    p = _mk_table(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="unknown column"):
        update_delta(spark, p, {"nope": "1"})


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    p = _mk_table(spark, str(tmp_path / "t"))
    src = spark.createDataFrame(
        [
            Row(id=2, cat="a", val=200.0),  # update
            Row(id=9, cat="z", val=90.0),  # insert
        ]
    )
    merge_delta(spark, p, src, keys=["id"])
    got = _rows(spark, p)
    assert (2, "a", 200.0) in got and (9, "z", 90.0) in got
    assert (2, "a", 20.0) not in got and len(got) == 6


def test_merge_matched_delete(spark, tmp_path):
    p = _mk_table(spark, str(tmp_path / "t"))
    src = spark.createDataFrame([Row(id=1, cat="a", val=0.0),
                                 Row(id=8, cat="q", val=80.0)])
    merge_delta(spark, p, src, keys=["id"], when_matched="delete")
    got = _rows(spark, p)
    assert not any(r[0] == 1 for r in got)
    assert (8, "q", 80.0) in got  # unmatched source still inserts


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    p = _mk_table(spark, str(tmp_path / "t"))
    src = spark.createDataFrame(
        [Row(id=2, cat="a", val=1.0), Row(id=2, cat="a", val=2.0)]
    )
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge_delta(spark, p, src, keys=["id"])


def test_merge_can_move_rows_across_partitions(spark, tmp_path):
    """Upserting a row whose partition value changed must land it in the
    new partition directory (the copy-on-write rewrite repartitions)."""
    p = _mk_table(spark, str(tmp_path / "t"), partitioned=True)
    src = spark.createDataFrame([Row(id=1, cat="moved", val=10.0)])
    merge_delta(spark, p, src, keys=["id"])
    got = read_delta(spark, p).filter("id = 1").collect()
    assert len(got) == 1 and got[0]["cat"] == "moved"
    assert os.path.isdir(os.path.join(p, "cat=moved"))


def test_merge_into_empty_key_space_inserts_all(spark, tmp_path):
    p = _mk_table(spark, str(tmp_path / "t"))
    src = spark.createDataFrame([Row(id=100, cat="n", val=1.0)])
    merge_delta(spark, p, src, keys=["id"])
    assert (100, "n", 1.0) in _rows(spark, p)


def test_optimize_compacts_preserves_rows_and_history(spark, tmp_path):
    p = str(tmp_path / "t")
    # 4 separate appends -> >=4 small files
    for i in range(4):
        write_delta(
            spark.createDataFrame([Row(id=i, cat="a", val=float(i))]), p
        )
    before = _rows(spark, p)
    n_before = len(_live_files(p))
    v = optimize_delta(spark, p, target_file_bytes=64 * 1024 * 1024)
    assert _rows(spark, p) == before  # content identical
    assert len(_live_files(p)) < n_before  # fewer, larger files
    assert _rows(spark, p, version=v - 1) == before  # time travel intact
    # the OPTIMIZE commit is invisible to dataChange consumers
    ops = {h["version"]: h.get("operation") for h in delta_history(p)}
    assert ops[v] == "OPTIMIZE"
    log = os.path.join(p, "_delta_log", f"{v:020d}.json")
    with open(log) as f:
        for line in f:
            a = json.loads(line)
            for key in ("add", "remove"):
                if key in a:
                    assert a[key]["dataChange"] is False


def test_optimize_nothing_to_do_is_noop(spark, tmp_path):
    p = _mk_table(spark, str(tmp_path / "t"))
    v0 = table_version(p)
    assert optimize_delta(spark, p, target_file_bytes=1) == v0


def _live_files(path):
    from sparkstreamingtwitter_presidential_spark.sources.delta import _replay_log

    return _replay_log(path, None).files


def test_checkpoint_after_dml_bootstraps_equivalent_snapshot(spark, tmp_path):
    """write_checkpoint must collapse a DML-heavy log such that a reader
    bootstrapping from the checkpoint (JSON commits deleted) sees the
    same rows."""
    p = _mk_table(spark, str(tmp_path / "t"))
    delete_delta(spark, p, "id = 5")
    update_delta(spark, p, {"val": "val * 2"}, "id = 1")
    want = _rows(spark, p)
    cp_v = write_checkpoint(p)
    log = os.path.join(p, "_delta_log")
    for n in os.listdir(log):
        if n.endswith(".json") and n != "_last_checkpoint":
            os.remove(os.path.join(log, n))
    assert _rows(spark, p) == want
    assert table_version(p) == cp_v


def test_partition_filter_prunes_union_branches(spark, tmp_path):
    """read_delta injects partition values as literals per branch, so a
    filter on the partition column must constant-fold away every
    non-matching branch: the executed plan scans ONE partition's file
    group, not the table (the docstring's partition-pruning claim)."""
    p = _mk_table(spark, str(tmp_path / "t"), partitioned=True)
    df = read_delta(spark, p).filter("cat = 'b'")
    assert {r["id"] for r in df.collect()} == {3, 4}
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan parquet")
    assert n_scans == 1, f"expected 1 surviving partition scan, got {n_scans}"


def test_writes_carry_file_stats(spark, tmp_path):
    """Every staged file records protocol `stats` (numRecords/min/max/
    nullCount) derived from the parquet footer."""
    p = _mk_table(spark, str(tmp_path / "t"))
    stats = [json.loads(a["stats"]) for a in _live_files(p).values()]
    assert stats and all("numRecords" in s for s in stats)
    total = sum(s["numRecords"] for s in stats)
    assert total == 5
    # empty part files legitimately carry no per-column ranges
    ranged = [s for s in stats if s["numRecords"] > 0]
    all_min = min(s["minValues"]["id"] for s in ranged)
    all_max = max(s["maxValues"]["id"] for s in ranged)
    assert (all_min, all_max) == (1, 5)
    # val has one NULL row; nullCount must see it even where min/max
    # are absent (all-NULL column in that file)
    assert sum(s["nullCount"].get("val", 0) for s in stats) == 1


def test_skip_ranges_prunes_clustered_files_but_not_rows(spark, tmp_path):
    """After cluster_by compaction, a narrow id range must prune most
    files at the metadata layer — and the pruned read + row filter must
    return exactly the same rows as the full read + row filter."""
    from pyspark.sql import functions as SF

    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(id=i, cat="a", val=float(i % 7)) for i in range(2000)]
    )
    # land shuffled across 4 appends so pre-compaction files all span
    # the full id range (stats useless), then cluster; 4 files per
    # append at any local[N], so the compacted byte total (and with it
    # the output file count) does not follow the core count
    for k in range(4):
        write_delta(df.filter(SF.pmod("id", SF.lit(4)) == k).repartition(4), p)
    unclustered = read_delta(spark, p, skip_ranges={"id": (100, 120)})
    n_unclustered = len(_live_after_skip(p, {"id": (100, 120)}))
    optimize_delta(spark, p, target_file_bytes=6000, cluster_by=["id"])
    n_total = len(_live_files(p))
    n_pruned = len(_live_after_skip(p, {"id": (100, 120)}))
    assert n_total >= 4
    assert n_pruned < n_total, "clustered stats failed to prune files"
    got = sorted(
        r["id"]
        for r in read_delta(spark, p, skip_ranges={"id": (100, 120)})
        .filter("id BETWEEN 100 AND 120")
        .collect()
    )
    assert got == list(range(100, 121))
    assert unclustered.filter("id BETWEEN 100 AND 120").count() == 21


def _live_after_skip(path, ranges):
    from sparkstreamingtwitter_presidential_spark.sources.delta import file_skips

    return {
        p: a for p, a in _live_files(path).items() if not file_skips(a, ranges)
    }


def test_skip_ranges_conservative_without_stats(spark, tmp_path):
    """An add without stats can never be skipped (advisory contract)."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import file_skips

    assert file_skips({"path": "x"}, {"id": (0, 1)}) is False
    assert file_skips({"stats": "not json"}, {"id": (0, 1)}) is False


def test_skip_ranges_timestamp_separator_normalized():
    """A space-separated timestamp bound ('2024-01-01 12:00:00') must
    compare chronologically against the ISO 'T'-form stats strings —
    since 'T' > ' ', the raw comparison would falsely prove files out
    of range and silently drop live rows."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import file_skips

    add = {
        "stats": json.dumps(
            {
                "numRecords": 2,
                "minValues": {"ts": "2024-01-01T06:00:00"},
                "maxValues": {"ts": "2024-01-01T18:00:00"},
            }
        )
    }
    # bound inside the file's range: must KEEP (raw compare would skip,
    # because '2024-01-01T06' > '2024-01-01 12' lexicographically)
    assert file_skips(add, {"ts": ("2024-01-01 12:00:00", None)}) is False
    assert file_skips(add, {"ts": (None, "2024-01-01 12:00:00")}) is False
    # bound genuinely outside: must still skip, in either literal form
    assert file_skips(add, {"ts": ("2024-01-02 00:00:00", None)}) is True
    assert file_skips(add, {"ts": ("2024-01-02T00:00:00", None)}) is True
    assert file_skips(add, {"ts": (None, "2023-12-31 23:00:00")}) is True


def test_skip_ranges_mixed_types_keep_file():
    """A numeric bound against string stats (externally written table)
    proves nothing — the file must be kept, not raise TypeError."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import file_skips

    add = {
        "stats": json.dumps(
            {
                "numRecords": 1,
                "minValues": {"id": "0005"},
                "maxValues": {"id": "0009"},
            }
        )
    }
    assert file_skips(add, {"id": (100, 200)}) is False


def test_zorder_prunes_on_every_listed_column(spark, tmp_path):
    """Z-order clustering must keep min/max stats selective on BOTH
    listed columns — skip_ranges on either prunes files — while linear
    cluster_by only prunes sharply on its FIRST column. Both layouts
    must return identical filtered rows (layout never changes data)."""
    from pyspark.sql import functions as SF

    rows = [
        Row(a=i, b=(i * 7919) % 2000, val=float(i % 5)) for i in range(2000)
    ]

    def build(path, **opt_kwargs):
        df = spark.createDataFrame(rows)
        for k in range(8):
            write_delta(df.filter(SF.pmod("a", SF.lit(8)) == k), path)
        total = sum(
            a.get("size", 0) for a in _live_files(path).values()
        )
        optimize_delta(
            spark, path, target_file_bytes=max(total // 6, 4096), **opt_kwargs
        )

    pz = str(tmp_path / "z")
    build(pz, zorder_by=["a", "b"])
    n_total = len(_live_files(pz))
    assert n_total >= 4
    kept_a = len(_live_after_skip(pz, {"a": (0, 199)}))
    kept_b = len(_live_after_skip(pz, {"b": (0, 199)}))
    assert kept_a < n_total, "zorder failed to prune on first column"
    assert kept_b < n_total, "zorder failed to prune on second column"

    # linear clustering on (a, b): 'a' prunes, 'b' effectively cannot
    pl = str(tmp_path / "l")
    build(pl, cluster_by=["a", "b"])
    nl = len(_live_files(pl))
    assert len(_live_after_skip(pl, {"a": (0, 199)})) < nl
    assert len(_live_after_skip(pl, {"b": (0, 199)})) == nl

    # correctness: both layouts + row filter return the same rows
    want = sorted(
        (r.a, r.b) for r in rows if 0 <= r.b <= 199
    )
    for p in (pz, pl):
        got = sorted(
            (r["a"], r["b"])
            for r in read_delta(spark, p, skip_ranges={"b": (0, 199)})
            .filter("b BETWEEN 0 AND 199")
            .collect()
        )
        assert got == want


def test_zorder_cluster_by_mutually_exclusive(spark, tmp_path):
    p = _mk_table(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="mutually exclusive"):
        optimize_delta(spark, p, cluster_by=["id"], zorder_by=["id"])


def test_stats_survive_checkpoint(spark, tmp_path):
    """Checkpoint bootstrap must preserve per-file stats so skipping
    keeps working after log truncation."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import write_checkpoint

    p = _mk_table(spark, str(tmp_path / "t"))
    v = write_checkpoint(p)
    log = os.path.join(p, "_delta_log")
    for n in os.listdir(log):
        if n.endswith(".json"):
            os.remove(os.path.join(log, n))
    assert v >= 0
    stats = [a.get("stats") for a in _live_files(p).values()]
    assert stats and all(s for s in stats)


# ---------------------------------------------------------------------------
# Model-based property test: a random op sequence applied to BOTH the
# Delta table and an in-memory dict model must yield identical contents.
# Catches interaction bugs no single-op test sees (e.g. merge after
# delete re-inserting a tombstoned key, optimize after update serving
# stale pre-rewrite files).
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_op = st.one_of(
    st.tuples(st.just("append"), st.lists(st.integers(0, 30), min_size=1,
                                          max_size=4, unique=True)),
    st.tuples(st.just("delete_gt"), st.floats(0, 60, allow_nan=False)),
    st.tuples(st.just("update_mod"), st.integers(2, 4)),
    st.tuples(st.just("merge"), st.lists(st.integers(0, 30), min_size=1,
                                         max_size=4, unique=True)),
    st.tuples(st.just("optimize"), st.none()),
)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(_op, min_size=1, max_size=5))
def test_dml_sequence_matches_model(spark, tmp_path_factory, ops):
    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        read_delta,
        write_delta,
    )

    p = str(tmp_path_factory.mktemp("dml") / "t")
    model: dict[int, float] = {}

    def _df(ids, val_of):
        return spark.createDataFrame(
            [Row(id=i, cat="c", val=float(val_of(i))) for i in sorted(ids)]
        )

    write_delta(_df([0, 1, 2], lambda i: i * 10.0), p)
    model.update({i: i * 10.0 for i in [0, 1, 2]})

    for kind, arg in ops:
        if kind == "append":
            new = [i for i in arg if i not in model]
            if not new:
                continue
            write_delta(_df(new, lambda i: i + 0.5), p)
            model.update({i: i + 0.5 for i in new})
        elif kind == "delete_gt":
            delete_delta(spark, p, f"val > {arg!r}")
            model = {i: v for i, v in model.items() if not v > arg}
        elif kind == "update_mod":
            update_delta(spark, p, {"val": "val + 1"}, f"id % {arg} = 0")
            model = {
                i: (v + 1 if i % arg == 0 else v) for i, v in model.items()
            }
        elif kind == "merge":
            merge_delta(spark, p, _df(arg, lambda i: i * 100.0), keys=["id"])
            model.update({i: i * 100.0 for i in arg})
        elif kind == "optimize":
            optimize_delta(spark, p, target_file_bytes=64 * 1024 * 1024)
        # the model IS the table after every op, not just at the end
        got = {r["id"]: r["val"] for r in read_delta(spark, p).collect()}
        assert got == model, f"diverged after {kind}({arg})"


def test_schema_evolution_append_fills_nulls(spark, tmp_path):
    """merge_schema append: new column lands in the declared schema; old
    files scan with NULL for it, no rewrite. Without the flag, raises."""
    p = str(tmp_path / "t")
    write_delta(spark.createDataFrame([Row(id=1, cat="a", val=1.0)]), p)
    newer = spark.createDataFrame([Row(id=2, cat="b", val=2.0, score=0.9)])
    with pytest.raises(ValueError, match="merge_schema"):
        write_delta(newer, p)
    write_delta(newer, p, merge_schema=True)
    got = {
        (r["id"], r["score"])
        for r in read_delta(spark, p).select("id", "score").collect()
    }
    assert got == {(1, None), (2, 0.9)}
    # old snapshot still reads under its own (pre-evolution) schema
    assert "score" not in read_delta(spark, p, version=0).columns


def test_append_with_missing_column_fills_nulls(spark, tmp_path):
    """An append missing a declared column stages it as NULL so every
    file carries the full schema it knows about."""
    p = str(tmp_path / "t")
    write_delta(spark.createDataFrame([Row(id=1, cat="a", val=1.0)]), p)
    write_delta(spark.createDataFrame([Row(id=2, cat="b")]), p)
    got = {(r["id"], r["val"]) for r in read_delta(spark, p).collect()}
    assert got == {(1, 1.0), (2, None)}


def test_vacuum_deletes_expired_tombstones_only(spark, tmp_path):
    """VACUUM removes only files tombstoned beyond retention; live files
    and fresh tombstones survive; the current snapshot is unaffected."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import vacuum_delta

    p = _mk_table(spark, str(tmp_path / "t"))
    before_rows = _rows(spark, p)
    delete_delta(spark, p, "id = 1")  # tombstones every rewritten file
    after_rows = _rows(spark, p)
    # fresh tombstones: default 7-day retention keeps them
    assert vacuum_delta(p) == []
    assert _rows(spark, p, version=0) == before_rows  # time travel OK
    # expire them: retention 0 with a far-future clock
    deleted = vacuum_delta(p, retention_hours=0,
                           now_ms=10**18)
    assert deleted, "expected expired tombstoned files to be deleted"
    assert _rows(spark, p) == after_rows  # current snapshot intact
    with pytest.raises(Exception):  # noqa: B017 - scan of missing file
        _rows(spark, p, version=0)


def test_vacuum_is_idempotent(spark, tmp_path):
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import vacuum_delta

    p = _mk_table(spark, str(tmp_path / "t"))
    delete_delta(spark, p, "id = 2")
    first = vacuum_delta(p, retention_hours=0, now_ms=10**18)
    second = vacuum_delta(p, retention_hours=0, now_ms=10**18)
    assert first == second  # reruns report the same set, files stay gone


def test_delta_changes_incremental_appends(spark, tmp_path):
    """delta_changes returns exactly the rows appended after
    from_version, each stamped with its commit version."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import delta_changes

    p = str(tmp_path / "t")
    for i in range(3):
        write_delta(
            spark.createDataFrame([Row(id=i, cat="a", val=float(i))]), p
        )
    ch = delta_changes(spark, p, from_version=0)
    got = {(r["id"], r["_commit_version"]) for r in ch.collect()}
    assert got == {(1, 1), (2, 2)}


def test_delta_changes_skips_optimize(spark, tmp_path):
    """An OPTIMIZE commit in the range contributes no rows (its adds are
    dataChange=false rewrites of already-delivered data)."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import delta_changes

    p = str(tmp_path / "t")
    for i in range(3):
        write_delta(
            spark.createDataFrame([Row(id=i, cat="a", val=float(i))]), p
        )
    v_opt = optimize_delta(spark, p, target_file_bytes=64 * 1024 * 1024)
    write_delta(spark.createDataFrame([Row(id=9, cat="a", val=9.0)]), p)
    ch = delta_changes(spark, p, from_version=v_opt - 1)
    got = {(r["id"], r["_commit_version"]) for r in ch.collect()}
    assert got == {(9, v_opt + 1)}


def test_delta_changes_raises_on_data_rewrite(spark, tmp_path):
    """A DELETE in the range is a retraction an append-only consumer
    cannot represent — must raise, not silently drop."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import delta_changes

    p = _mk_table(spark, str(tmp_path / "t"))
    delete_delta(spark, p, "id = 1")
    with pytest.raises(ValueError, match="rewrites data"):
        delta_changes(spark, p, from_version=0)


def test_delta_changes_empty_and_partition_injection(spark, tmp_path):
    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        delta_changes,
        table_version,
    )

    p = _mk_table(spark, str(tmp_path / "t"), partitioned=True)
    v = table_version(p)
    empty = delta_changes(spark, p, from_version=v)
    assert empty.count() == 0
    assert "_commit_version" in empty.columns
    write_delta(spark.createDataFrame([Row(id=7, cat="zz", val=7.0)]), p)
    ch = delta_changes(spark, p, from_version=v).collect()
    assert [(r["id"], r["cat"]) for r in ch] == [(7, "zz")]


def test_dml_probe_pushes_predicate_to_scan(spark, tmp_path):
    """The affected-file probe is a normal distributed scan: its
    predicate must reach the parquet reader (PushedFilters), so at scale
    the probe cost tracks matching row groups, not table size."""
    from sparkstreamingtwitter_presidential_spark.plans import plan_audit
    from sparkstreamingtwitter_presidential_spark.sources.delta import _replay_log
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        _FILE_COL,
        _scan_with_file,
    )

    p = _mk_table(spark, str(tmp_path / "t"))
    snap = _replay_log(p, None)
    probe = (
        _scan_with_file(spark, p, snap)
        .filter(F.expr("val > 25"))
        .select(_FILE_COL)
        .distinct()
    )
    a = plan_audit(probe)
    assert any("val" in f for f in a.pushed_filters), a.pushed_filters


def test_commit_conflict_raises(spark, tmp_path):
    """A commit landing between snapshot read and commit (simulated by
    squatting the next version file) must surface as DeltaCommitConflict
    — never a silent retry of a stale DML plan."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import commit_actions

    p = _mk_table(spark, str(tmp_path / "t"))
    nxt = os.path.join(p, "_delta_log", f"{1:020d}.json")
    with open(nxt, "w") as f:  # concurrent writer claims v1 first
        f.write(json.dumps({"commitInfo": {"operation": "WRITE"}}) + "\n")
    with pytest.raises(DeltaCommitConflict):
        commit_actions(p, 0, [], "DELETE", {})


def test_describe_history_frame(spark, tmp_path):
    """describe_history surfaces (version, operation, predicate, txn
    markers, data_change) per retained commit as a queryable frame —
    the DESCRIBE HISTORY shape over commitInfo + txn actions."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        describe_history,
    )

    t = _mk_table(spark, str(tmp_path / "t"), partitioned=True)
    delete_delta(spark, t, "id = 5")
    update_delta(spark, t, {"val": "val * 2"}, "id = 1")
    src = spark.createDataFrame([Row(id=9, cat="a", val=9.0)])
    merge_delta(spark, t, src, keys=["id"], txn=("hist-app", 42))
    optimize_delta(spark, t)

    h = {r.version: r for r in describe_history(spark, t).collect()}
    assert sorted(h) == [0, 1, 2, 3, 4]
    assert [h[v].operation for v in range(5)] == [
        "WRITE", "DELETE", "UPDATE", "MERGE", "OPTIMIZE",
    ]
    assert h[1].predicate == "id = 5"
    assert h[2].predicate == "id = 1"
    assert h[3].txn_app_id == "hist-app" and h[3].txn_version == 42
    assert h[0].txn_app_id is None
    # OPTIMIZE rewrites without changing data; everything else changes it
    assert [h[v].data_change for v in range(5)] == [
        True, True, True, True, False,
    ]
    # v1 deletes cat 'c' entirely: pure remove, no rewritten file
    assert h[1].n_adds == 0 and h[1].n_removes > 0
    assert h[0].n_adds > 0 and h[2].n_adds > 0
    assert h[0].n_removes == 0 and h[4].n_removes > 0
    assert h[0].timestamp is not None
    params = json.loads(h[3].operation_parameters)
    assert params["keys"] == ["id"]
    # history can be queried like any frame
    n_dml = (
        describe_history(spark, t)
        .filter(F.col("operation").isin("DELETE", "UPDATE", "MERGE"))
        .count()
    )
    assert n_dml == 3


def test_vacuum_sweeps_untracked_orphans_with_age_guard(spark, tmp_path):
    """NEW r7: files no log action ever referenced (conflict losers,
    crashed writers) are deleted by VACUUM once older than retention;
    fresh untracked files survive (in-flight commit protection), and
    live/tombstoned handling is unchanged."""
    import time as _time

    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        vacuum_delta,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    write_delta(df, t)
    live_rows = [tuple(r) for r in read_delta(spark, t).collect()]

    orphan = os.path.join(t, "part-orphan-untracked.parquet")
    open(orphan, "wb").write(b"PAR1junkPAR1")
    os.utime(orphan, (1, 1))  # ancient
    fresh = os.path.join(t, "part-fresh-untracked.parquet")
    open(fresh, "wb").write(b"PAR1junkPAR1")

    deleted = vacuum_delta(t, retention_hours=1.0)
    assert "part-orphan-untracked.parquet" in deleted
    assert not os.path.exists(orphan)
    assert os.path.exists(fresh)  # age guard protects in-flight staging
    assert [tuple(r) for r in read_delta(spark, t).collect()] == live_rows

    # zero-retention sweep takes the fresh one too (explicit opt-in)
    _time.sleep(0.01)
    deleted2 = vacuum_delta(t, retention_hours=0.0)
    assert "part-fresh-untracked.parquet" in deleted2
    assert [tuple(r) for r in read_delta(spark, t).collect()] == live_rows


def test_read_delta_many_partitions_single_scan(spark, tmp_path):
    """NEW r7: above 32 distinct partition tuples read_delta takes the
    path-derived single-scan fast path (no Union in the plan), values
    exact and type-cast; at/below the ceiling the literal union (with
    plan-time filter pruning) is kept."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"p{i:02d}", float(i)) for i in range(40)],
        "id long, part string, v double",
    )
    write_delta(df, t, partition_by=["part"])
    back = read_delta(spark, t)
    plan = back._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    assert sorted((r.id, r.part, r.v) for r in back.collect()) == sorted(
        (r.id, r.part, r.v) for r in df.collect()
    )
    # small table keeps the union shape
    t2 = str(tmp_path / "t2")
    write_delta(df.filter("id < 3"), t2, partition_by=["part"])
    plan2 = read_delta(spark, t2)._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" in plan2


def test_read_delta_partitioned_schema_keeps_nullability(spark, tmp_path):
    """The read schema is the written frame's at any tuple count: the
    literal union (3 tuples) starts from an empty branch typed with the
    table schema, so an injected partition literal does not turn a
    nullable column non-nullable; the path-derived scan (40 tuples)
    agrees. A REQUIRED partition column takes the union above 32 tuples
    too (the path-derived column analyzes nullable) and stays
    non-nullable — the Iceberg reader's rule, from the same scan."""
    df = spark.createDataFrame(
        [(i, f"p{i:02d}", float(i)) for i in range(40)],
        "id long, part string, v double",
    )
    want = [(f.name, f.dataType, f.nullable) for f in df.schema.fields]
    for n in (3, 40):
        t = str(tmp_path / f"t{n}")
        write_delta(df.filter(f"id < {n}"), t, partition_by=["part"])
        back = read_delta(spark, t)
        assert [(f.name, f.dataType, f.nullable) for f in back.schema.fields] == want, n
        assert back.count() == n

    req = spark.sql(
        "SELECT id, concat('p', lpad(CAST(id AS STRING), 2, '0')) AS part "
        "FROM range(40)"
    )
    assert not req.schema["part"].nullable
    t = str(tmp_path / "req")
    write_delta(req, t, partition_by=["part"])
    back = read_delta(spark, t)
    assert not back.schema["part"].nullable
    plan = back._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" in plan  # the required column refused the single scan
    assert sorted((r.id, r.part) for r in back.collect()) == sorted(
        (r.id, r.part) for r in req.collect()
    )


def test_read_delta_path_layout_disagreeing_with_log_uses_log_values(
    spark, tmp_path
):
    """The log's partitionValues are authoritative (Delta spec: dir
    names are NOT required to agree). When a foreign table's layout
    disagrees with its log, the >32-tuple path-derived fast path must
    NOT be taken — the read falls back to the literal union and
    returns the LOG's values (was: silently different answers above
    vs below 32 distinct tuples; ADVICE r7)."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"p{i:02d}", float(i)) for i in range(40)],
        "id long, part string, v double",
    )
    write_delta(df, t, partition_by=["part"])
    # forge a foreign table: one add action's partitionValues disagrees
    # with the col=val dir its path lives under
    log = os.path.join(t, "_delta_log", "00000000000000000000.json")
    lines = open(log).read().splitlines()
    out, tampered = [], 0
    for ln in lines:
        act = json.loads(ln)
        add = act.get("add")
        if add and add.get("partitionValues", {}).get("part") == "p07" and not tampered:
            add["partitionValues"]["part"] = "zz"
            tampered += 1
        out.append(json.dumps(act))
    assert tampered == 1
    open(log, "w").write("\n".join(out) + "\n")

    back = read_delta(spark, t)
    plan = back._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" in plan  # fast path refused, literal union kept
    got = {r.id: r.part for r in back.collect()}
    assert got[7] == "zz"  # the log's value, not the dir's
    assert got[8] == "p08"
    assert len(got) == 40


def test_vacuum_retention_survives_checkpoint_plus_log_expiry(
    spark, tmp_path
):
    """write_checkpoint persists unexpired remove tombstones (as the
    real protocol does), so after write_checkpoint + expire_log a
    recently-tombstoned file — whose remove JSON is gone — is still
    protected by vacuum's retention guard instead of being
    misclassified as untracked and deleted by file mtime (ADVICE r7)."""
    import time as _time

    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        expire_log,
        write_checkpoint,
    )
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta,
        vacuum_delta,
    )

    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, v double"
    )
    write_delta(df, p)
    # age the data files far past any retention window
    old = _time.time() - 30 * 24 * 3600
    for n in os.listdir(p):
        if n.endswith(".parquet"):
            os.utime(os.path.join(p, n), (old, old))
    # tombstone them NOW (deletionTimestamp = current time)
    delete_delta(spark, p, "id >= 0")
    tombstoned = [n for n in os.listdir(p) if n.endswith(".parquet")]
    v = write_checkpoint(p)
    # expire EVERY commit at-or-below the checkpoint, including the
    # delete commit holding the remove actions
    expire_log(p, keep_from=v + 1)
    assert not glob.glob(os.path.join(p, "_delta_log", "*0.json"))
    # 24h retention: the tombstones are seconds old -> nothing may go,
    # even though every file's MTIME is a month old
    gone = vacuum_delta(p, retention_hours=24.0)
    assert gone == []
    for n in tombstoned:
        assert os.path.exists(os.path.join(p, n)), n
    # past the window the same files are reclaimed (guard, not leak)
    later = int(_time.time() * 1000) + 48 * 3600 * 1000
    gone2 = vacuum_delta(p, retention_hours=24.0, now_ms=later)
    assert sorted(gone2)  # all tombstoned files reclaimed now
    assert read_delta(spark, p).count() == 0


def test_restore_delta_and_timestamp_travel(spark, tmp_path):
    """RESTORE commits a new version whose live set equals the target
    version's (history preserved: the pre-restore head still time
    travels); timestamp travel resolves the latest version committed
    at-or-before the instant."""
    import time as _time

    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        restore_delta,
        version_at_timestamp,
    )

    p = _mk_table(spark, str(tmp_path / "t"))
    t_v0 = int(_time.time() * 1000)
    _time.sleep(0.05)
    delete_delta(spark, p, "id <= 2")  # v1
    update_delta(spark, p, {"val": "val * 10"}, "id = 5")  # v2
    head = _rows(spark, p)
    assert (5, "c", 500.0) in head and len(head) == 3

    v = restore_delta(spark, p, 0)
    assert v == 3
    assert _rows(spark, p) == _rows(spark, p, version=0)
    assert len(_rows(spark, p)) == 5
    # history preserved: the pre-restore head is still reachable
    assert _rows(spark, p, version=2) == head
    ops = {h["version"]: h.get("operation") for h in delta_history(p)}
    assert ops[3] == "RESTORE"
    # restore to the current state is a no-op (no empty commit)
    assert restore_delta(spark, p, 3) == 3

    # timestamp travel: an instant just after v0 resolves version 0
    assert version_at_timestamp(p, t_v0) == 0
    got = {
        tuple(r)
        for r in read_delta(spark, p, timestamp=t_v0)
        .select("id", "cat", "val")
        .collect()
    }
    assert len(got) == 5
    with pytest.raises(ValueError, match="either version or timestamp"):
        read_delta(spark, p, version=0, timestamp=t_v0)
    with pytest.raises(ValueError, match="at or before"):
        version_at_timestamp(p, 0)


def test_version_at_timestamp_mtime_fallback(spark, tmp_path):
    """Foreign commits without a commitInfo timestamp fall back to the
    json file's mtime (the protocol's documented fallback)."""
    import json as _json
    import time as _time

    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        version_at_timestamp,
    )

    p = _mk_table(spark, str(tmp_path / "t"))
    log = os.path.join(p, "_delta_log", "00000000000000000000.json")
    # strip commitInfo entirely (a minimal foreign writer)
    lines = [
        ln
        for ln in open(log).read().splitlines()
        if "commitInfo" not in _json.loads(ln)
    ]
    open(log, "w").write("\n".join(lines) + "\n")
    old = _time.time() - 3600
    os.utime(log, (old, old))
    assert version_at_timestamp(p, int((old + 60) * 1000)) == 0
    with pytest.raises(ValueError, match="at or before"):
        version_at_timestamp(p, int((old - 60) * 1000))


def test_version_at_timestamp_monotonizes_out_of_order_commits(
    spark, tmp_path
):
    """A foreign log whose commitInfo timestamps go BACKWARD (clock
    skew between writers) resolves like the real client: timestamps
    monotonize to max(prev + 1, own) before comparison, so a later
    version never resolves at an earlier instant than its parent
    (ADVICE r8)."""
    import json as _json

    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        version_at_timestamp,
        write_delta,
    )

    p = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a", 1.0)], "id long, s string, v double")
    write_delta(df, p, mode="append")
    write_delta(df, p, mode="append")
    write_delta(df, p, mode="append")
    stamps = {0: 1_000_000, 1: 500_000, 2: 2_000_000}  # v1 goes BACK
    for v, ms in stamps.items():
        log = os.path.join(p, "_delta_log", f"{v:020d}.json")
        out = []
        for ln in open(log).read().splitlines():
            act = _json.loads(ln)
            if "commitInfo" in act:
                act["commitInfo"]["timestamp"] = ms
            out.append(_json.dumps(act))
        open(log, "w").write("\n".join(out) + "\n")
    # monotonized: v0 @1000000, v1 @1000001, v2 @2000000
    assert version_at_timestamp(p, 1_000_000) == 0
    assert version_at_timestamp(p, 1_000_001) == 1
    assert version_at_timestamp(p, 1_999_999) == 1
    assert version_at_timestamp(p, 2_000_000) == 2
    # WITHOUT monotonization, 600000 would wrongly resolve to v1
    with pytest.raises(ValueError, match="at or before"):
        version_at_timestamp(p, 999_999)


def test_version_at_timestamp_prefers_in_commit_timestamp(spark, tmp_path):
    """Tables with the inCommitTimestamp writer feature carry the
    authoritative clock inside commitInfo.inCommitTimestamp; the
    wall-clock `timestamp` field may disagree (the ICT migration
    case) and must lose."""
    import json as _json

    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        version_at_timestamp,
        write_delta,
    )

    p = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a", 1.0)], "id long, s string, v double")
    write_delta(df, p, mode="append")
    write_delta(df, p, mode="append")
    icts = {0: 1_000_000, 1: 3_000_000}
    for v, ms in icts.items():
        log = os.path.join(p, "_delta_log", f"{v:020d}.json")
        out = []
        for ln in open(log).read().splitlines():
            act = _json.loads(ln)
            if "commitInfo" in act:
                act["commitInfo"]["timestamp"] = 999  # wrong wall clock
                act["commitInfo"]["inCommitTimestamp"] = ms
            out.append(_json.dumps(act))
        open(log, "w").write("\n".join(out) + "\n")
    assert version_at_timestamp(p, 1_000_000) == 0
    assert version_at_timestamp(p, 2_999_999) == 0
    assert version_at_timestamp(p, 3_000_000) == 1


def test_dv_mark_scan_pushes_predicate(spark, tmp_path):
    """The DV writers' matched-pair probe is the same distributed scan
    shape as the CoW probe: the predicate must reach the parquet
    reader (PushedFilters) so a point delete's scan cost tracks
    matching row groups, not table size — the premise of 'DV write
    cost ∝ matched rows' at 100 TB."""
    from sparkstreamingtwitter_presidential_spark.plans import plan_audit
    from sparkstreamingtwitter_presidential_spark.sources.delta import _replay_log
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        _FILE_COL,
        _POS_COL,
        _scan_with_file,
    )

    p = _mk_table(spark, str(tmp_path / "t"))
    snap = _replay_log(p, None)
    probe = (
        _scan_with_file(spark, p, snap, with_pos=True)
        .filter(F.expr("val > 25"))
        .select(_FILE_COL, _POS_COL)
    )
    a = plan_audit(probe)
    assert any("val" in f for f in a.pushed_filters), a.pushed_filters
