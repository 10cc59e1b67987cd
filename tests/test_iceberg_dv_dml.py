"""Iceberg v3 WRITES + Puffin deletion-vector DML (r11, the write
side of the r10 v3 read path — `sources/iceberg_dv.py`).

What the suite pins, against the public table spec (§v3 Deletion
vectors) and the Delta DV-write twin's contract:

* v3 table authoring (`write_iceberg(format_version=3)`) and in-place
  upgrade (`upgrade_iceberg_v3`), with row-lineage bookkeeping
  (next-row-id / snapshot first-row-id) monotone across commits.
* DELETE/UPDATE/MERGE mark rows in per-file Puffin vectors — no
  matched data file is rewritten; a superseded vector leaves in the
  same commit (one DV per data file, new contains old); a 100%-deleted
  file drops from the data manifests instead of carrying a full
  vector.
* Named refusals: DV DML on v2 tables (points at upgrade), position-
  delete parquet on v3 tables (points at DV delete), upgrade with a
  live position-delete backlog, over-budget matches (point at CoW).
"""

import json
import os

import pytest

from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
    _entries_and_deletes_for_snapshot,
    _load_metadata,
    _snapshot,
    delete_iceberg,
    delete_iceberg_positional,
    read_iceberg,
    read_iceberg_incremental,
    upgrade_iceberg_v3,
    upsert_iceberg_mor,
    write_iceberg,
)
from sparkstreamingtwitter_presidential_spark.sources.iceberg_dv import (
    delete_iceberg_dv,
    merge_iceberg_dv,
    update_iceberg_dv,
)


def _table(spark, tmp_path, n=100, fv=3, partition_by=None, files=3):
    t = str(tmp_path / "t")
    df = spark.range(0, n).selectExpr(
        "id",
        "cast(id % 5 as long) as grp",
        "cast(id * 1.5 as double) as val",
    )
    write_iceberg(
        df.repartition(files),
        t,
        format_version=fv,
        partition_by=partition_by,
    )
    return t


def _live_state(path):
    meta = _load_metadata(path)
    return _entries_and_deletes_for_snapshot(path, _snapshot(meta, None))


def test_dv_delete_marks_without_rewrite(spark, tmp_path):
    t = _table(spark, tmp_path)
    before, dels0 = _live_state(t)
    assert dels0 == []
    files_before = {e["data_file"]["file_path"] for e in before}
    delete_iceberg_dv(spark, t, "id % 10 = 3")
    got = sorted(r.id for r in read_iceberg(spark, t).collect())
    assert got == [i for i in range(100) if i % 10 != 3]
    after, dels = _live_state(t)
    # no data file rewritten, vectors carry the deletes
    assert {e["data_file"]["file_path"] for e in after} == files_before
    assert dels and all(
        d["data_file"]["file_format"] == "PUFFIN" for d in dels
    )
    assert sum(d["data_file"]["record_count"] for d in dels) == 10


def test_dv_supersede_one_vector_per_file(spark, tmp_path):
    t = _table(spark, tmp_path)
    delete_iceberg_dv(spark, t, "id % 10 = 3")
    delete_iceberg_dv(spark, t, "id % 10 = 4")
    got = sorted(r.id for r in read_iceberg(spark, t).collect())
    assert got == [i for i in range(100) if i % 10 not in (3, 4)]
    _after, dels = _live_state(t)
    refs = [d["data_file"]["referenced_data_file"] for d in dels]
    assert len(refs) == len(set(refs))  # spec: one DV per data file
    # each live vector CONTAINS the prior one: cardinality = both rounds
    assert sum(d["data_file"]["record_count"] for d in dels) == 20


def test_dv_full_file_deletion_drops_file(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 40).selectExpr("id", "cast(id % 2 as long) as grp")
    write_iceberg(df, t, format_version=3, partition_by=["grp"])
    before, _ = _live_state(t)
    delete_iceberg_dv(spark, t, "grp = 1")
    after, dels = _live_state(t)
    assert len(after) < len(before)
    # the fully-dead file left the data manifests; no vector points at
    # a dropped file
    live = {e["data_file"]["file_path"] for e in after}
    assert all(
        d["data_file"]["referenced_data_file"] in live for d in dels
    )
    assert sorted(r.id for r in read_iceberg(spark, t).collect()) == [
        i for i in range(40) if i % 2 == 0
    ]


def test_dv_update_roundtrip(spark, tmp_path):
    t = _table(spark, tmp_path)
    before, _ = _live_state(t)
    files_before = {e["data_file"]["file_path"] for e in before}
    update_iceberg_dv(spark, t, {"val": "val + 1000"}, "id < 10")
    out = read_iceberg(spark, t)
    assert out.count() == 100
    assert out.filter("val >= 1000").count() == 10
    assert (
        out.filter("id = 3").collect()[0].val == 3 * 1.5 + 1000
    )
    after, dels = _live_state(t)
    # old files carried (not rewritten), updated rows in NEW files
    assert files_before <= {e["data_file"]["file_path"] for e in after}
    assert dels


def test_dv_update_skips_already_deleted_rows(spark, tmp_path):
    t = _table(spark, tmp_path)
    delete_iceberg_dv(spark, t, "id = 7")
    update_iceberg_dv(spark, t, {"val": "0.0"}, "id < 10")
    out = read_iceberg(spark, t)
    assert out.filter("id = 7").count() == 0  # not resurrected
    assert out.filter("val = 0.0").count() == 9


def test_dv_merge_upsert_and_delete_modes(spark, tmp_path):
    t = _table(spark, tmp_path, n=50)
    src = spark.createDataFrame(
        [(7, 0, -7.0), (999, 1, -1.0)], "id long, grp long, val double"
    )
    merge_iceberg_dv(spark, t, src, ["id"])
    out = {r.id: r.val for r in read_iceberg(spark, t).collect()}
    assert out[7] == -7.0 and out[999] == -1.0 and len(out) == 51
    # delete mode
    src2 = spark.createDataFrame(
        [(999, 1, 0.0), (1000, 1, 0.0)], "id long, grp long, val double"
    )
    merge_iceberg_dv(
        spark, t, src2, ["id"], when_matched="delete",
        insert_not_matched=False,
    )
    ids = {r.id for r in read_iceberg(spark, t).collect()}
    assert 999 not in ids and 1000 not in ids and len(ids) == 50


def test_dv_dml_on_partitioned_table(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 60).selectExpr(
        "id", "cast(id % 3 as long) as grp", "cast(id * 2 as double) as val"
    )
    write_iceberg(df, t, format_version=3, partition_by=["grp"])
    delete_iceberg_dv(spark, t, "id % 10 = 1")
    got = sorted(r.id for r in read_iceberg(spark, t).collect())
    assert got == [i for i in range(60) if i % 10 != 1]
    _, dels = _live_state(t)
    # the DV entries carry their referenced file's partition tuple
    assert all((d["data_file"].get("partition") or {}) for d in dels)


def test_dv_coexists_with_equality_deletes(spark, tmp_path):
    """An upsert's GLOBAL equality delete (carried verbatim) composes
    with a later DV delete in the same table."""
    t = _table(spark, tmp_path, n=30)
    src = spark.range(5, 8).selectExpr(
        "id", "cast(0 as long) as grp", "cast(-1.0 as double) as val"
    )
    upsert_iceberg_mor(spark, t, src, ["id"])
    delete_iceberg_dv(spark, t, "id = 20")
    out = {r.id: r.val for r in read_iceberg(spark, t).collect()}
    assert len(out) == 29 and 20 not in out
    assert out[5] == -1.0  # upsert survived the DV commit


def test_cow_delete_on_dv_table(spark, tmp_path):
    """CoW DML still works on a table carrying live vectors: the scan
    applies them, rewritten files leave their vectors dangling
    (readers ignore vectors for non-live files)."""
    t = _table(spark, tmp_path)
    delete_iceberg_dv(spark, t, "id = 11")
    delete_iceberg(spark, t, "id % 10 = 2")
    got = sorted(r.id for r in read_iceberg(spark, t).collect())
    assert got == [i for i in range(100) if i % 10 != 2 and i != 11]


def test_time_travel_across_dv_commits(spark, tmp_path):
    t = _table(spark, tmp_path)
    meta = _load_metadata(t)
    first = meta["snapshots"][-1]["snapshot-id"]
    delete_iceberg_dv(spark, t, "id < 50")
    assert read_iceberg(spark, t, snapshot_id=first).count() == 100
    assert read_iceberg(spark, t).count() == 50


def test_incremental_refuses_across_dv_commit(spark, tmp_path):
    """A DV delete is a 'delete' snapshot — the incremental append
    reader keeps its standing refusal (same policy as CoW deletes):
    an incremental file scan across it would misread removed rows."""
    t = _table(spark, tmp_path, n=20)
    meta = _load_metadata(t)
    s0 = meta["snapshots"][-1]["snapshot-id"]
    delete_iceberg_dv(spark, t, "id = 1")
    df2 = spark.range(100, 110).selectExpr(
        "id", "cast(id % 5 as long) as grp", "cast(id * 1.5 as double) as val"
    )
    write_iceberg(df2, t, mode="append")
    with pytest.raises(ValueError, match="not an append"):
        read_iceberg_incremental(spark, t, from_snapshot=s0).collect()


def test_lineage_counters_monotone(spark, tmp_path):
    t = _table(spark, tmp_path, n=100)
    m1 = _load_metadata(t)
    assert m1["next-row-id"] == 100
    assert m1["snapshots"][-1]["first-row-id"] == 0
    write_iceberg(
        spark.range(100, 130).selectExpr(
            "id", "cast(id % 5 as long) as grp",
            "cast(id * 1.5 as double) as val",
        ),
        t,
        mode="append",
    )
    m2 = _load_metadata(t)
    assert m2["snapshots"][-1]["first-row-id"] == 100
    assert m2["next-row-id"] == 130
    # a DV delete assigns no new row ids
    delete_iceberg_dv(spark, t, "id = 3")
    m3 = _load_metadata(t)
    assert m3["next-row-id"] == 130
    assert m3["snapshots"][-1]["first-row-id"] == 130


def test_dv_dml_refuses_on_v2(spark, tmp_path):
    t = _table(spark, tmp_path, fv=2)
    with pytest.raises(NotImplementedError, match="upgrade_iceberg_v3"):
        delete_iceberg_dv(spark, t, "id = 1")
    with pytest.raises(NotImplementedError, match="upgrade_iceberg_v3"):
        update_iceberg_dv(spark, t, {"val": "0.0"}, "id = 1")


def test_positional_parquet_refuses_on_v3(spark, tmp_path):
    t = _table(spark, tmp_path)
    with pytest.raises(NotImplementedError, match="delete_iceberg_dv"):
        delete_iceberg_positional(spark, t, "id = 1")


def test_upgrade_v2_to_v3(spark, tmp_path):
    t = _table(spark, tmp_path, fv=2)
    upgrade_iceberg_v3(t)
    meta = _load_metadata(t)
    assert meta["format-version"] == 3 and meta["next-row-id"] == 0
    # post-upgrade DV DML works and the table reads back
    delete_iceberg_dv(spark, t, "id = 42")
    assert read_iceberg(spark, t).count() == 99
    # idempotent
    upgrade_iceberg_v3(t)
    assert _load_metadata(t)["format-version"] == 3


def test_upgrade_refuses_with_live_position_deletes(spark, tmp_path):
    t = _table(spark, tmp_path, fv=2, files=1)
    delete_iceberg_positional(spark, t, "id = 1")
    with pytest.raises(
        NotImplementedError, match="rewrite_position_deletes"
    ):
        upgrade_iceberg_v3(t)


def test_dv_budget_refusal_points_at_cow(spark, tmp_path):
    t = _table(spark, tmp_path)
    with pytest.raises(NotImplementedError, match="copy-on-write"):
        delete_iceberg_dv(spark, t, "id >= 0", max_deleted_rows=5)
    # the refusal left no commit behind
    assert read_iceberg(spark, t).count() == 100


def test_dv_no_match_commits_nothing(spark, tmp_path):
    t = _table(spark, tmp_path)
    v = _load_metadata(t)["_loaded_version"]
    delete_iceberg_dv(spark, t, "id = -1")
    update_iceberg_dv(spark, t, {"val": "0.0"}, "id = -1")
    assert _load_metadata(t)["_loaded_version"] == v


def test_format_version_mismatch_refused(spark, tmp_path):
    t = _table(spark, tmp_path, fv=3)
    df = spark.range(0, 1).selectExpr(
        "id", "cast(0 as long) as grp", "cast(0.0 as double) as val"
    )
    with pytest.raises(ValueError, match="format_version"):
        write_iceberg(df, t, mode="append", format_version=2)
    with pytest.raises(ValueError, match="format_version"):
        write_iceberg(df, str(tmp_path / "t2"), format_version=5)


def test_rewrite_folds_v3_deletion_vectors(spark, tmp_path):
    """The MOR lifecycle closer on v3 (the Delta REORG twin):
    rewrite_position_deletes folds live Puffin vectors back into data
    files — affected files rewrite minus their deleted rows, the
    delete manifests drop, rows are unchanged, and the table stays
    format-version 3 with lineage bookkeeping intact."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        compact_iceberg,
        rewrite_position_deletes,
    )

    t = _table(spark, tmp_path)
    delete_iceberg_dv(spark, t, "id % 10 = 3")
    before = sorted(r.id for r in read_iceberg(spark, t).collect())
    rewrite_position_deletes(spark, t)
    meta = _load_metadata(t)
    _, dels = _live_state(t)
    assert dels == [] and meta["format-version"] == 3
    assert sorted(r.id for r in read_iceberg(spark, t).collect()) == before
    # post-fold the table is compaction-clean again
    compact_iceberg(spark, t, target_file_bytes=1 << 30)
    assert sorted(r.id for r in read_iceberg(spark, t).collect()) == before


def test_expire_reclaims_superseded_puffin_files(spark, tmp_path):
    """Snapshot expiry composes with DV supersede: once every snapshot
    referencing the OLD vector's Puffin file expires, the file is
    physically removed; the live vector and all data files survive and
    the read stays exact."""
    import glob
    import time as _time

    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        expire_snapshots,
    )

    t = _table(spark, tmp_path)
    delete_iceberg_dv(spark, t, "id % 10 = 3")
    first_puffins = set(glob.glob(os.path.join(t, "data", "*.puffin")))
    assert len(first_puffins) == 1
    delete_iceberg_dv(spark, t, "id % 10 = 4")  # supersedes every vector
    assert len(glob.glob(os.path.join(t, "data", "*.puffin"))) == 2
    expire_snapshots(
        t, keep_last=1, older_than=int(_time.time() * 1000) + 1000
    )
    left = set(glob.glob(os.path.join(t, "data", "*.puffin")))
    assert first_puffins.isdisjoint(left) and len(left) == 1
    got = sorted(r.id for r in read_iceberg(spark, t).collect())
    assert got == [i for i in range(100) if i % 10 not in (3, 4)]


def test_orphan_cleanup_never_sweeps_puffin(spark, tmp_path):
    """remove_orphan_files only sweeps parquet under data/: a LIVE
    Puffin sidecar is referenced anyway, and even an ORPHANED one
    (lost commit race) is left in place — the same conservative
    boundary as Delta's DV sidecars, documented."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        remove_orphan_files,
    )

    t = _table(spark, tmp_path)
    delete_iceberg_dv(spark, t, "id % 10 = 3")
    orphan = os.path.join(t, "data", "dv-orphan.puffin")
    open(orphan, "wb").write(b"PFA1 not really")
    os.utime(orphan, (0, 0))  # far past any age guard
    deleted = remove_orphan_files(t, older_than_ms=10**18)
    assert all(not p.endswith(".puffin") for p in deleted)
    assert os.path.exists(orphan)
    got = sorted(r.id for r in read_iceberg(spark, t).collect())
    assert got == [i for i in range(100) if i % 10 != 3]


def test_row_lineage_read_exposes_stable_ids(spark, tmp_path):
    """read_iceberg_lineage (r11): _row_id derives from the manifest-
    list's explicit first_row_id + in-manifest inheritance + row
    position — unique and dense across appends, STABLE for carried
    files when more data appends, NULL for lineage-less (pre-r11 /
    forged) manifests."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg_dv import (
        read_iceberg_lineage,
    )

    t = _table(spark, tmp_path, n=50)
    ids1 = {
        r.id: r._row_id for r in read_iceberg_lineage(spark, t).collect()
    }
    assert sorted(ids1.values()) == list(range(50))
    write_iceberg(
        spark.range(100, 120).selectExpr(
            "id", "cast(id % 5 as long) as grp",
            "cast(id * 1.5 as double) as val",
        ),
        t,
        mode="append",
    )
    ids2 = {
        r.id: r._row_id for r in read_iceberg_lineage(spark, t).collect()
    }
    # append-only history: prior assignments unchanged, new rows take
    # the next dense range
    assert all(ids2[k] == v for k, v in ids1.items())
    assert sorted(ids2.values()) == list(range(70))
    # deleted rows keep their ids out of the result (no reuse)
    delete_iceberg_dv(spark, t, "id = 7")
    ids3 = {
        r.id: r._row_id for r in read_iceberg_lineage(spark, t).collect()
    }
    assert len(ids3) == 69 and ids3[8] == ids2[8]
    assert ids2[7] not in ids3.values()


def test_row_lineage_null_for_foreign_lineage_less_history(spark, tmp_path):
    """A forged v3 table (no manifest-list first_row_id) reads _row_id
    as NULL — the spec's pre-lineage treatment, never a guessed id."""
    import pyarrow.parquet as pq

    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        forge_v3_dv_commit,
    )
    from sparkstreamingtwitter_presidential_spark.sources.iceberg_dv import (
        read_iceberg_lineage,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(20)], "id long, s string"
    )
    write_iceberg(df.repartition(1), t)  # v2 table
    meta = _load_metadata(t)
    entries, _ = _entries_and_deletes_for_snapshot(t, _snapshot(meta, None))
    fp = entries[0]["data_file"]["file_path"]
    ids = pq.read_table(fp, columns=["id"]).column("id").to_pylist()
    forge_v3_dv_commit(t, {fp: [ri for ri, i in enumerate(ids) if i == 3]})
    rows = read_iceberg_lineage(spark, t).collect()
    assert len(rows) == 19
    assert all(r._row_id is None for r in rows)


def test_dv_merge_duplicate_target_keys_each_update(spark, tmp_path):
    """Duplicate TARGET keys each take the source row's values (the
    CoW twin's multiplicity-preserving semantics): a key present twice
    in the target updates both rows, never collapsing to one."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 0, 1.0), (1, 0, 1.5), (2, 0, 2.0)],
        "id long, grp long, val double",
    )
    write_iceberg(df.repartition(1), t, format_version=3)
    src = spark.createDataFrame([(1, 9, -1.0)], "id long, grp long, val double")
    merge_iceberg_dv(spark, t, src, ["id"])
    got = sorted(map(tuple, read_iceberg(spark, t).collect()))
    assert got == [(1, 9, -1.0), (1, 9, -1.0), (2, 0, 2.0)]


def test_dv_dml_on_transform_partitioned_table(spark, tmp_path):
    """DV DML on a TRANSFORM-partitioned v3 table (day(ts)): vectors
    key on file paths so transform tuples only matter for the probe's
    pruning; updates re-stage through the transform writer."""
    import datetime as dt

    t = str(tmp_path / "t")
    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 4), float(i)) for i in range(80)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, v double")
    write_iceberg(df, t, format_version=3, partition_by=["day(ts)"])
    delete_iceberg_dv(spark, t, "id % 8 = 1")
    got = sorted(r.id for r in read_iceberg(spark, t).collect())
    assert got == [i for i in range(80) if i % 8 != 1]
    update_iceberg_dv(spark, t, {"v": "v + 100"}, "id = 4")
    out = read_iceberg(spark, t)
    assert out.filter("id = 4").collect()[0].v == 104.0
    assert out.count() == 70
    _, dels = _live_state(t)
    assert all(d["data_file"]["file_format"] == "PUFFIN" for d in dels)


def test_dv_commit_conflict_raises(spark, tmp_path, monkeypatch):
    """A concurrent commit between DV planning and claim surfaces as
    IcebergCommitConflict (the shared put-if-absent primitive), never
    a silently-lost write."""
    import sparkstreamingtwitter_presidential_spark.sources.iceberg as I
    import sparkstreamingtwitter_presidential_spark.sources.iceberg_dv as dvmod
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        IcebergCommitConflict,
    )

    t = _table(spark, tmp_path, n=20)
    real_mark = dvmod._mark_matched

    def racing_mark(*a, **kw):
        out = real_mark(*a, **kw)
        # another writer lands an append AFTER planning
        write_iceberg(
            spark.range(100, 101).selectExpr(
                "id",
                "cast(id % 5 as long) as grp",
                "cast(id * 1.5 as double) as val",
            ),
            t,
            mode="append",
        )
        monkeypatch.setattr(dvmod, "_mark_matched", real_mark)
        return out

    monkeypatch.setattr(dvmod, "_mark_matched", racing_mark)
    with pytest.raises(IcebergCommitConflict):
        delete_iceberg_dv(spark, t, "id = 1")
    # the loser left no partial state: rows intact incl. the racer's
    assert read_iceberg(spark, t).count() == 21
    delete_iceberg_dv(spark, t, "id = 1")  # clean retry lands
    assert read_iceberg(spark, t).count() == 20


def test_changelog_derives_multi_file_dv_commits(spark, tmp_path):
    """r11 review repro: ONE Puffin file carries blobs for MANY data
    files — the changelog must key delete entries by (path, offset) or
    it silently drops all but one file's change rows. A DV delete over
    3 files derives every delete row; a superseding DV update derives
    exact pre/post pairs."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        iceberg_row_changes,
    )

    t = _table(spark, tmp_path, n=60)
    sid = delete_iceberg_dv(spark, t, "id % 10 = 3")
    ch = iceberg_row_changes(spark, t, sid, keys=["id"]).collect()
    assert sorted((r.id, r._change_type) for r in ch) == [
        (i, "delete") for i in range(60) if i % 10 == 3
    ]
    sid2 = update_iceberg_dv(spark, t, {"val": "val + 100"}, "id % 10 = 4")
    ch2 = iceberg_row_changes(spark, t, sid2, keys=["id"]).collect()
    want = sorted(
        [(i, i * 1.5, "update_preimage") for i in range(60) if i % 10 == 4]
        + [
            (i, i * 1.5 + 100, "update_postimage")
            for i in range(60)
            if i % 10 == 4
        ]
    )
    assert sorted((r.id, r.val, r._change_type) for r in ch2) == want


def test_partitions_metadata_table_works_on_mor(spark, tmp_path):
    """table_partitions no longer refuses on MOR tables (r11): its
    counts are PHYSICAL file-level stats, as the real partitions table
    reports — vectors do not subtract from data-file record counts."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        table_partitions,
    )

    t = str(tmp_path / "t")
    df = spark.range(30).selectExpr(
        "id", "cast(id % 3 as long) as g", "cast(id * 1.0 as double) as v"
    )
    # repartition so files hold many rows (under local[32] a scattered
    # 1-row file would FULLY delete and drop — the standing gotcha)
    write_iceberg(
        df.repartition(1), t, format_version=3, partition_by=["g"]
    )
    delete_iceberg_dv(spark, t, "id = 5")
    rows = {
        r.g: (r.n_files, r.n_rows)
        for r in table_partitions(spark, t).collect()
    }
    assert set(rows) == {0, 1, 2}
    assert all(n == 10 for _f, n in rows.values())  # physical counts


def test_row_lineage_carries_through_dv_dml(spark, tmp_path):
    """r12 (spec §Row Lineage): DV UPDATE/MERGE re-stage matched rows
    with their ORIGINAL _row_id materialized (an update changes values,
    not identity); MERGE inserts mint FRESH ids from the table's
    next-row-id; _last_updated_sequence_number reflects the updating
    snapshot for touched rows and stays put for untouched ones."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg_dv import (
        read_iceberg_lineage,
    )

    t = _table(spark, tmp_path, n=30)

    def lineage():
        return {
            r.id: (r._row_id, r._last_updated_sequence_number)
            for r in read_iceberg_lineage(spark, t).collect()
        }

    base = lineage()
    assert sorted(x[0] for x in base.values()) == list(range(30))
    assert {x[1] for x in base.values()} == {1}

    # UPDATE: touched rows keep identity, take the new sequence
    update_iceberg_dv(spark, t, {"val": "val + 100"}, "id < 5")
    l2 = lineage()
    for i in range(30):
        assert l2[i][0] == base[i][0], f"_row_id changed for {i}"
        assert l2[i][1] == (2 if i < 5 else 1)

    # MERGE: matched carries identity + new sequence; inserts take
    # fresh ids disjoint from every prior assignment
    src = spark.createDataFrame(
        [(3, 0, -1.0), (500, 0, 5.0), (501, 1, 6.0)],
        "id long, grp long, val double",
    )
    merge_iceberg_dv(spark, t, src, ["id"])
    l3 = lineage()
    assert l3[3][0] == base[3][0] and l3[3][1] == 3
    prior = {x[0] for x in base.values()}
    assert l3[500][0] is not None and l3[500][0] not in prior
    assert l3[501][0] is not None and l3[501][0] not in prior
    assert l3[500][0] != l3[501][0]
    for i in range(30):
        if i != 3:
            assert l3[i] == l2[i]

    # chained UPDATE of an already-restaged row: identity still carries
    # (materialized _row_id in the source file wins over derivation)
    update_iceberg_dv(spark, t, {"val": "val - 1"}, "id = 3")
    l4 = lineage()
    assert l4[3][0] == base[3][0] and l4[3][1] == 4


def test_row_lineage_stable_across_manifest_rewrites(spark, tmp_path):
    """r12, the r11-advice durability fix: EXISTING entries rewritten
    into a NEW manifest (full-file-drop DV commits, CoW DML) carry
    their assigned first_row_id EXPLICITLY (data_file field 142), so
    _row_id is stable where it used to silently shift; rows physically
    REWRITTEN by CoW DML / compaction / delete-fold carry materialized
    lineage columns and keep BOTH values."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        compact_iceberg,
        merge_iceberg,
        rewrite_position_deletes,
        update_iceberg,
    )
    from sparkstreamingtwitter_presidential_spark.sources.iceberg_dv import (
        read_iceberg_lineage,
    )

    t = _table(spark, tmp_path, n=40, files=4)

    def lineage():
        return {
            r.id: (r._row_id, r._last_updated_sequence_number)
            for r in read_iceberg_lineage(spark, t).collect()
        }

    base = lineage()

    # full-file drop: delete EVERY row of one file — the other files'
    # entries move into a new data manifest and must keep their ids
    meta = _load_metadata(t)
    entries, _ = _entries_and_deletes_for_snapshot(t, _snapshot(meta, None))
    import pyarrow.parquet as pq

    victim = entries[0]["data_file"]["file_path"]
    victim_ids = set(
        pq.read_table(victim, columns=["id"]).column("id").to_pylist()
    )
    delete_iceberg_dv(
        spark, t, f"id in ({','.join(map(str, sorted(victim_ids)))})"
    )
    l2 = lineage()
    assert set(l2) == set(base) - victim_ids
    for i in l2:
        assert l2[i] == base[i], f"survivor {i} shifted: {l2[i]} {base[i]}"

    # CoW UPDATE: hit row keeps id + new sequence; file-mates copied
    # into the rewritten file keep BOTH values (materialized carry)
    probe = sorted(l2)[0]
    update_iceberg(spark, t, {"val": "val * 2"}, f"id = {probe}")
    l3 = lineage()
    assert l3[probe][0] == l2[probe][0] and l3[probe][1] > l2[probe][1]
    for i in l3:
        if i != probe:
            assert l3[i] == l2[i], f"CoW shifted untouched row {i}"

    # CoW MERGE: matched keeps id, insert mints fresh
    src = spark.createDataFrame(
        [(probe, 0, -5.0), (900, 0, 9.0)], "id long, grp long, val double"
    )
    merge_iceberg(spark, t, src, ["id"])
    l4 = lineage()
    assert l4[probe][0] == l3[probe][0] and l4[probe][1] > l3[probe][1]
    assert l4[900][0] not in {x[0] for x in base.values()}
    for i in l4:
        if i not in (probe, 900):
            assert l4[i] == l3[i]

    # delete-fold + compaction: pure layout — EVERYTHING identical
    rewrite_position_deletes(spark, t)
    assert lineage() == l4
    compact_iceberg(spark, t, target_file_bytes=1 << 30)
    assert lineage() == l4

    # plain reads never expose the lineage columns
    cols = read_iceberg(spark, t).columns
    assert "_row_id" not in cols and "_last_updated_sequence_number" not in cols


def test_lineage_read_plans_without_shuffle(spark, tmp_path):
    """Scale pin (the Delta twin's): read_iceberg_lineage resolves ids
    with ONE broadcast hash join against the manifest id map — no
    shuffle exchange, no window, no global ordering pass."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg_dv import (
        read_iceberg_lineage,
    )

    t = _table(spark, tmp_path, n=100)
    plan = (
        read_iceberg_lineage(spark, t)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_row_lineage_stable_across_rewrite_manifests(spark, tmp_path):
    """Manifest compaction re-serializes every entry as EXISTING into
    ONE new manifest — the exact shape the r11 advice flagged: without
    explicit per-file first_row_id the fresh manifest base would shift
    every derived id. With resolution-time stamping (r12) the ids are
    byte-stable."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        rewrite_manifests,
    )
    from sparkstreamingtwitter_presidential_spark.sources.iceberg_dv import (
        read_iceberg_lineage,
    )

    t = _table(spark, tmp_path, n=30)
    for i in range(3):
        write_iceberg(
            spark.range(100 + i, 101 + i).selectExpr(
                "id", "cast(id % 5 as long) as grp",
                "cast(id * 1.5 as double) as val",
            ),
            t,
            mode="append",
        )
    before = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in read_iceberg_lineage(spark, t).collect()
    }
    assert len({x[0] for x in before.values()}) == 33
    rewrite_manifests(spark, t)
    after = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in read_iceberg_lineage(spark, t).collect()
    }
    assert after == before


def test_rewrite_deletion_vectors_folds_puffin_files(spark, tmp_path):
    """r13 maintenance: three DML commits leave three Puffin files
    (one superseded union's dead bytes among them); the rewrite folds
    every live vector into ONE file by verbatim byte copy, reads stay
    identical, lineage stays identical, and a second rewrite is a
    no-op."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg_dv import (
        read_iceberg_lineage,
        rewrite_deletion_vectors,
    )

    # four data files of contiguous id ranges ([0,25) .. [75,100)) at
    # any local[N], and DML predicates that pick which files they hit:
    # the live vectors then span three Puffin files by construction
    # (a round-robin layout put every residue in every file, so each
    # DML superseded all vectors and one live Puffin file could remain)
    t = str(tmp_path / "t")
    df = spark.range(0, 100, 1, 4).selectExpr(
        "id", "cast(id % 5 as long) as grp", "cast(id * 1.5 as double) as val"
    )
    write_iceberg(df, t, format_version=3)
    delete_iceberg_dv(spark, t, "id % 10 = 0")  # all four files
    delete_iceberg_dv(spark, t, "id % 10 = 1 AND id < 50")  # supersedes two
    update_iceberg_dv(
        spark, t, {"val": "val + 1000"}, "id % 10 = 2 AND id >= 75"
    )
    before = sorted(tuple(r) for r in read_iceberg(spark, t).collect())
    lin_before = sorted(
        (r.id, r._row_id) for r in read_iceberg_lineage(spark, t).collect()
    )
    _d, dels = _live_state(t)
    files_before = {e["data_file"]["file_path"] for e in dels}
    assert len(files_before) >= 2, "staging produced one puffin file"

    stats = rewrite_deletion_vectors(t)
    assert stats is not None
    assert stats["puffin_files_before"] == len(files_before)
    assert stats["vectors"] == len(dels)

    after = sorted(tuple(r) for r in read_iceberg(spark, t).collect())
    assert after == before
    lin_after = sorted(
        (r.id, r._row_id) for r in read_iceberg_lineage(spark, t).collect()
    )
    assert lin_after == lin_before
    _d2, dels2 = _live_state(t)
    files_after = {e["data_file"]["file_path"] for e in dels2}
    assert len(files_after) == 1
    assert files_after.isdisjoint(files_before)
    assert len(dels2) == len(dels)
    # vectors preserved per referenced file (byte-identical payloads)
    from sparkstreamingtwitter_presidential_spark.sources.puffin import read_blob

    def blobs(entries):
        out = {}
        for e in entries:
            d = e["data_file"]
            out[d["referenced_data_file"]] = read_blob(
                d["file_path"].replace("file://", ""),
                d["content_offset"],
                d["content_size_in_bytes"],
            )
        return out

    assert blobs(dels2) == blobs(dels)
    # idempotent: already compact -> None, no new snapshot
    v_before = _load_metadata(t)["current-snapshot-id"]
    assert rewrite_deletion_vectors(t) is None
    assert _load_metadata(t)["current-snapshot-id"] == v_before
    # time travel to the pre-rewrite snapshot still reads old files
    meta = _load_metadata(t)
    prev = meta["snapshots"][-2]["snapshot-id"]
    tt = read_iceberg(spark, t, snapshot_id=prev)
    assert sorted(tuple(r) for r in tt.collect()) == before


def test_rewrite_deletion_vectors_noop_without_dvs(spark, tmp_path):
    from sparkstreamingtwitter_presidential_spark.sources.iceberg_dv import (
        rewrite_deletion_vectors,
    )

    t = _table(spark, tmp_path, n=10)
    assert rewrite_deletion_vectors(t) is None
    # a single DML commit -> one puffin file, no dead bytes -> no-op
    delete_iceberg_dv(spark, t, "id = 1")
    assert rewrite_deletion_vectors(t) is None
