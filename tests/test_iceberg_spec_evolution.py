"""Partition spec evolution (r12 late — spec §Partition Evolution):
`update_partition_spec` installs a new default spec metadata-only;
old files keep their spec, new writes stage the new layout, snapshot
reads handle the mix per manifest spec, pruning keys on each entry's
own spec, rewrites refuse by name, and global-equality MOR upserts
stay correct across the mix (sequence-scoped, spec-agnostic)."""

from __future__ import annotations

import pytest

from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
    read_iceberg,
    update_partition_spec,
    write_iceberg,
)

SCHEMA = "id long, s string, v double"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _meta(t):
    import glob
    import json
    import os

    vs = sorted(
        glob.glob(os.path.join(t, "metadata", "v*.metadata.json")),
        key=lambda p: int(os.path.basename(p)[1:].split(".")[0]),
    )
    return json.load(open(vs[-1]))


def test_unpartitioned_to_identity_and_back(spark, tmp_path):
    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "p1", 1.0), (2, "p2", 2.0)]), t)
    sid1 = update_partition_spec(t, ["s"])
    assert sid1 == 1
    write_iceberg(
        _df(spark, [(3, "p1", 3.0), (4, "p3", 4.0)]), t, mode="append"
    )
    # mixed read: old flat files + new hive-partitioned files, with
    # identity values injected only for the NEW group
    got = sorted(
        (r.id, r.s, r.v) for r in read_iceberg(spark, t).collect()
    )
    assert got == [
        (1, "p1", 1.0), (2, "p2", 2.0), (3, "p1", 3.0), (4, "p3", 4.0),
    ]
    meta = _meta(t)
    assert meta["default-spec-id"] == 1
    assert len(meta["partition-specs"]) == 2
    # un-partition again: THIRD spec (empty), new files flat
    sid2 = update_partition_spec(t, [])
    write_iceberg(_df(spark, [(5, "p9", 5.0)]), t, mode="append")
    got = sorted(r.id for r in read_iceberg(spark, t).collect())
    assert got == [1, 2, 3, 4, 5]
    # re-partitioning on s REUSES the original spec + field id
    sid3 = update_partition_spec(t, ["s"])
    assert sid3 == sid1
    meta = _meta(t)
    fids = [
        pf["field-id"]
        for sp in meta["partition-specs"]
        for pf in sp["fields"]
    ]
    assert fids == [1000]  # one field ever minted, reused


def test_pruning_keys_on_each_entrys_spec(spark, tmp_path):
    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), t)
    update_partition_spec(t, ["s"])
    write_iceberg(_df(spark, [(3, "a", 3.0), (4, "c", 4.0)]), t,
                  mode="append")
    got = sorted(
        r.id
        for r in read_iceberg(spark, t, skip_ranges={"s": ("a", "a")})
        .filter("s = 'a'")
        .collect()
    )
    # old flat files are conservatively KEPT (no tuples to prune on),
    # new files prune exactly; the filter makes the result exact
    assert got == [1, 3]


def test_transform_evolution_and_noop(spark, tmp_path):
    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "abcd", 1.0)]), t)
    sid = update_partition_spec(t, ["truncate(2, s)"])
    write_iceberg(_df(spark, [(2, "abzz", 2.0)]), t, mode="append")
    assert sorted(r.id for r in read_iceberg(spark, t).collect()) == [1, 2]
    meta = _meta(t)
    spec = next(
        sp for sp in meta["partition-specs"] if sp["spec-id"] == sid
    )
    assert spec["fields"][0]["transform"] == "truncate[2]"
    # installing the SAME spec again is a no-op: no version burned
    import glob
    import os

    n_before = len(glob.glob(os.path.join(t, "metadata", "v*.metadata.json")))
    assert update_partition_spec(t, ["truncate(2, s)"]) == sid
    assert len(
        glob.glob(os.path.join(t, "metadata", "v*.metadata.json"))
    ) == n_before

    with pytest.raises(ValueError, match="not in schema"):
        update_partition_spec(t, ["nope"])


def test_cow_dml_across_mixed_specs(spark, tmp_path):
    """r13 (r12 verdict item 2): CoW DELETE/UPDATE/MERGE work on a
    spec-evolved table. The DML scan branches per spec GENERATION
    (identity injection under each file's own writing spec), rewrites
    re-stage under the DEFAULT spec, and the commit serializes carried
    old-spec entries into per-spec manifests — partition records never
    cross specs."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        delete_iceberg,
        merge_iceberg,
        update_iceberg,
    )

    t = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).repartition(1), t
    )
    update_partition_spec(t, ["s"])
    write_iceberg(
        _df(spark, [(3, "a", 3.0), (4, "c", 4.0)]).repartition(1),
        t,
        mode="append",
    )
    # DELETE hits one row in EACH generation
    delete_iceberg(spark, t, "id in (2, 4)")
    got = sorted((r.id, r.s, r.v) for r in read_iceberg(spark, t).collect())
    assert got == [(1, "a", 1.0), (3, "a", 3.0)]
    # UPDATE crosses generations too (id=1 pre-evolution, id=3 post)
    update_iceberg(spark, t, {"v": "v * 10"}, "s = 'a'")
    got = sorted((r.id, r.v) for r in read_iceberg(spark, t).collect())
    assert got == [(1, 10.0), (3, 30.0)]
    # MERGE: upsert over a key that lives in an old-spec file + insert
    src = _df(spark, [(1, "a", 99.0), (5, "d", 5.0)])
    merge_iceberg(spark, t, src, keys=["id"])
    got = sorted((r.id, r.s, r.v) for r in read_iceberg(spark, t).collect())
    assert got == [(1, "a", 99.0), (3, "a", 30.0), (5, "d", 5.0)]


def test_mixed_spec_dml_manifests_are_spec_homogeneous(spark, tmp_path):
    """The commit-side invariant behind the r13 lift: after DML on a
    mixed-spec table, every data manifest's partition-spec-id matches
    the spec its entries' partition records serialize under — carried
    old-spec entries land in an old-spec manifest, never re-keyed
    under the default."""
    import json

    from sparkstreamingtwitter_presidential_spark.sources.avro import (
        read_container,
    )
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        update_iceberg,
    )

    t = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).repartition(1), t
    )
    update_partition_spec(t, ["s"])
    write_iceberg(
        _df(spark, [(3, "a", 3.0), (4, "c", 4.0)]).repartition(1),
        t,
        mode="append",
    )
    # touch only the NEW-spec file: old-spec entries carry as EXISTING
    update_iceberg(spark, t, {"v": "v + 0.5"}, "id = 3")
    meta = _meta(t)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, manifests = read_container(snap["manifest-list"])
    data_manifests = [m for m in manifests if m["content"] == 0]
    specs_seen = set()
    for m in data_manifests:
        _hdr, mmeta, entries = read_container(m["manifest_path"])
        declared = int(mmeta["partition-spec-id"].decode())
        assert declared == m["partition_spec_id"]
        declared_fields = json.loads(mmeta["partition-spec"].decode())
        spec_fields = next(
            sp["fields"]
            for sp in meta["partition-specs"]
            if sp["spec-id"] == declared
        )
        assert declared_fields == spec_fields
        names = {pf["name"] for pf in spec_fields}
        for e in entries:
            part = e["data_file"].get("partition") or {}
            assert set(part) == names, (declared, part)
        specs_seen.add(declared)
    # both generations present: the old flat spec AND the new identity
    assert specs_seen == {0, 1}
    got = sorted((r.id, r.v) for r in read_iceberg(spark, t).collect())
    assert got == [(1, 1.0), (2, 2.0), (3, 3.5), (4, 4.0)]


def test_compaction_scoped_to_default_spec(spark, tmp_path):
    """Mixed-spec compaction (r12 late, lifting the blanket refusal):
    manifests are spec-homogeneous, so the default spec's small files
    bin-pack while evolved-away specs' manifests carry VERBATIM —
    their files never move and their partition records are never
    re-serialized."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        compact_iceberg,
        rewrite_manifests,
    )

    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]).repartition(1), t)
    old_files = set(read_iceberg(spark, t).inputFiles())
    update_partition_spec(t, ["s"])
    # several small files in ONE partition of the new spec
    for i in range(3):
        write_iceberg(
            _df(spark, [(10 + i, "p", float(i))]).repartition(1),
            t,
            mode="append",
        )
    n_before = len(read_iceberg(spark, t).inputFiles())
    compact_iceberg(spark, t)
    files_after = set(read_iceberg(spark, t).inputFiles())
    # the old-spec file is untouched; the new spec's three smalls fold
    assert old_files <= files_after
    assert len(files_after) < n_before
    got = sorted((r.id, r.s, r.v) for r in read_iceberg(spark, t).collect())
    assert got == [
        (1, "a", 1.0), (10, "p", 0.0), (11, "p", 1.0), (12, "p", 2.0),
    ]
    # manifest collapse keeps the carried spec's manifests verbatim too
    rewrite_manifests(spark, t)
    got2 = sorted((r.id, r.s, r.v) for r in read_iceberg(spark, t).collect())
    assert got2 == got
    assert old_files <= set(read_iceberg(spark, t).inputFiles())


def test_mor_upsert_supersedes_across_specs(spark, tmp_path):
    """The equality-upsert path writes GLOBAL (sequence-scoped)
    delete files, which apply to data files of EVERY spec — so a CDC
    upsert keeps superseding rows written before a repartition."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        upsert_iceberg_mor,
    )

    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), t)
    update_partition_spec(t, ["s"])
    upsert_iceberg_mor(
        spark,
        t,
        _df(spark, [(1, "a", 100.0), (9, "z", 9.0)]),
        keys=["id"],
    )
    got = {r.id: r.v for r in read_iceberg(spark, t).collect()}
    assert got == {1: 100.0, 2: 2.0, 9: 9.0}


def test_incremental_scan_across_evolution_boundary(spark, tmp_path):
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        read_iceberg_incremental,
        table_snapshots,
    )

    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), t)
    write_iceberg(_df(spark, [(2, "b", 2.0)]), t, mode="append")
    update_partition_spec(t, ["s"])
    write_iceberg(_df(spark, [(3, "a", 3.0)]), t, mode="append")
    sids = [
        r.snapshot_id
        for r in table_snapshots(spark, t)
        .orderBy("sequence_number")
        .collect()
    ]
    got = sorted(
        (r.id, r.s, r.v)
        for r in read_iceberg_incremental(
            spark, t, from_snapshot=sids[0], to_snapshot=sids[-1]
        ).collect()
    )
    # the range crosses the evolution: flat file (old spec) + hive
    # file (new spec, identity injected) both read correct values
    assert got == [(2, "b", 2.0), (3, "a", 3.0)]


def test_stream_source_across_evolution_boundary(spark, tmp_path):
    from sparkstreamingtwitter_presidential_spark.sources.iceberg_stream_ds import (
        register_iceberg_stream,
    )

    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), t)
    update_partition_spec(t, ["s"])
    write_iceberg(_df(spark, [(2, "b", 2.0)]), t, mode="append")
    sink: list = []
    q = (
        spark.readStream.format("iceberg_native")
        .load(t)
        .writeStream.outputMode("append")
        .foreachBatch(
            lambda df, bid: sink.extend(tuple(r) for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    # pre-evolution commit reads s from DATA (old flat spec), post-
    # evolution commit INJECTS s from the new spec's tuples — both
    # exact, neither null
    assert sorted(sink) == [(1, "a", 1.0), (2, "b", 2.0)]


def test_table_partitions_minimal_mixed_table(spark, tmp_path):
    """r13: the former blanket mixed-spec refusal is gone — the
    smallest evolved table (one flat file, one partitioned file)
    reports one row per (spec, tuple)."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        table_partitions,
    )

    t = str(tmp_path / "t")
    write_iceberg(_df(spark, [(1, "a", 1.0)]), t)
    update_partition_spec(t, ["s"])
    write_iceberg(_df(spark, [(2, "b", 2.0)]), t, mode="append")
    rows = {
        (r.spec_id, r.s): r.n_rows
        for r in table_partitions(spark, t).collect()
    }
    assert rows == {(0, None): 1, (1, "b"): 1}


def test_table_detail_frame(spark, tmp_path):
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        table_detail,
    )

    t = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
        t,
        partition_by=["s"],
        format_version=3,
    )
    d = table_detail(spark, t).collect()[0]
    assert d.format == "iceberg" and d.format_version == 3
    assert d.table_uuid and d.current_snapshot_id is not None
    assert d.partition_spec == ["s"]
    assert d.num_files >= 2 and d.size_in_bytes > 0
    # evolution shows the NEW default spec immediately
    update_partition_spec(t, ["truncate(2, s)"])
    d2 = table_detail(spark, t).collect()[0]
    assert d2.partition_spec == ["truncate[2](s)"]
    assert d2.num_files == d.num_files  # metadata-only


def test_mixed_spec_dml_preserves_v3_row_lineage(spark, tmp_path):
    """r13: on a v3 table, cross-generation CoW DML keeps every
    surviving row's _row_id — rewritten rows materialize their ids,
    carried old-spec EXISTING entries keep their explicit first_row_id
    in the per-spec manifest, and the per-manifest lineage bases run
    cumulatively so nothing double-assigns."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        update_iceberg,
    )
    from sparkstreamingtwitter_presidential_spark.sources.iceberg_dv import (
        read_iceberg_lineage,
    )

    t = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).repartition(1),
        t,
        format_version=3,
    )
    update_partition_spec(t, ["s"])
    write_iceberg(
        _df(spark, [(3, "a", 3.0), (4, "c", 4.0)]).repartition(1),
        t,
        mode="append",
    )
    base = {
        r.id: r._row_id for r in read_iceberg_lineage(spark, t).collect()
    }
    assert sorted(base) == [1, 2, 3, 4]
    assert len(set(base.values())) == 4  # all assigned, all distinct
    # UPDATE hits one row per generation; every id survives with the
    # same _row_id (CoW must not change surviving rows' identity)
    update_iceberg(spark, t, {"v": "v + 100"}, "id in (1, 3)")
    after = {
        r.id: r._row_id for r in read_iceberg_lineage(spark, t).collect()
    }
    assert after == base
    got = sorted((r.id, r.v) for r in read_iceberg(spark, t).collect())
    assert got == [(1, 101.0), (2, 2.0), (3, 103.0), (4, 4.0)]


def test_dv_dml_across_mixed_specs(spark, tmp_path):
    """r13: the DV-DML planning scan (iceberg_dv._plan) branches per
    spec generation too — a deletion-vector DELETE on a spec-evolved
    v3 table marks rows in BOTH generations without rewriting files,
    and old-generation identity values are never nulled by the scan
    (the latent mis-injection the shared _scan_entries_mixed_spec
    closes)."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg_dv import (
        delete_iceberg_dv,
    )

    t = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).repartition(1),
        t,
        format_version=3,
    )
    update_partition_spec(t, ["s"])
    write_iceberg(
        _df(spark, [(3, "a", 3.0), (4, "c", 4.0)]).repartition(1),
        t,
        mode="append",
    )
    files_before = set(read_iceberg(spark, t).inputFiles())
    # the predicate needs correct s-values from BOTH generations: id=2
    # lives in an old flat file (s physically present), id=4 in a
    # new-spec file (s injected from the tuple)
    delete_iceberg_dv(spark, t, "s in ('b', 'c')")
    got = sorted((r.id, r.s, r.v) for r in read_iceberg(spark, t).collect())
    assert got == [(1, "a", 1.0), (3, "a", 3.0)]
    # MOR: no data file was rewritten — the partially-deleted old flat
    # file stays (vectored), and the one-row s=c file is 100%-deleted
    # so it legitimately DROPS from the manifests (spec: no all-rows
    # DV; the file leaves instead)
    files_after = set(read_iceberg(spark, t).inputFiles())
    assert files_after < files_before
    assert len(files_after) == len(files_before) - 1
    # r14: the surviving DV references the OLD flat file, so its
    # delete manifest is typed by spec 0 (the referenced file's
    # writing spec) with an EMPTY partition record — not re-keyed
    # under the identity(s) default
    from sparkstreamingtwitter_presidential_spark.sources.avro import (
        read_container,
    )

    meta = _meta(t)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, manifests = read_container(snap["manifest-list"])
    dmans = [m for m in manifests if m["content"] == 1]
    assert [m["partition_spec_id"] for m in dmans] == [0]
    _h, mmeta, entries = read_container(dmans[0]["manifest_path"])
    assert int(mmeta["partition-spec-id"].decode()) == 0
    assert all(
        not (e["data_file"].get("partition") or {}) for e in entries
    )


def test_table_partitions_mixed_specs(spark, tmp_path):
    """r13: table_partitions lifts the r12 refusal — mixed-spec tables
    report one row per (spec, tuple) with a spec_id column, a unified
    field shape (other specs' fields read null), and exact per-spec
    file/row counts."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        table_partitions,
    )

    t = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).repartition(1), t
    )
    update_partition_spec(t, ["s"])
    write_iceberg(
        _df(spark, [(3, "a", 3.0), (4, "c", 4.0)]).repartition(1),
        t,
        mode="append",
    )
    rows = {
        (r.spec_id, r.s): (r.n_files, r.n_rows)
        for r in table_partitions(spark, t).collect()
    }
    # old-spec files have NO tuple (s null), attributed to spec 0;
    # new-spec files report per-value rows under spec 1
    assert rows == {
        (0, None): (1, 2),
        (1, "a"): (1, 1),
        (1, "c"): (1, 1),
    }


def test_positional_delete_across_mixed_specs(spark, tmp_path):
    """r14: the last _refuse_spec_evolution caller is lifted —
    position deletes on a spec-evolved v2 table route matched pairs to
    partition tuples UNDER EACH FILE'S OWN WRITING SPEC, serialize
    into spec-homogeneous DELETE manifests, and
    rewrite_position_deletes folds them back re-staging survivors
    under the default spec."""
    from sparkstreamingtwitter_presidential_spark.sources.avro import (
        read_container,
    )
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        delete_iceberg_positional,
        rewrite_position_deletes,
    )

    t = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).repartition(1), t
    )  # spec 0: flat
    update_partition_spec(t, ["s"])
    write_iceberg(
        _df(spark, [(3, "a", 3.0), (4, "c", 4.0)]).repartition(1),
        t,
        mode="append",
    )  # spec 1: identity(s)
    # one matched row in EACH spec generation
    delete_iceberg_positional(spark, t, "id in (1, 4)")
    assert sorted(r.id for r in read_iceberg(spark, t).collect()) == [2, 3]

    meta = _meta(t)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, manifests = read_container(snap["manifest-list"])
    dmans = [m for m in manifests if m["content"] == 1]
    specs_seen = set()
    for m in dmans:
        _h, mmeta, entries = read_container(m["manifest_path"])
        declared = int(mmeta["partition-spec-id"].decode())
        assert declared == m["partition_spec_id"]
        names = {
            pf["name"]
            for pf in next(
                sp["fields"]
                for sp in meta["partition-specs"]
                if sp["spec-id"] == declared
            )
        }
        for e in entries:
            part = e["data_file"].get("partition") or {}
            assert set(part) == names, (declared, part)
        specs_seen.add(declared)
    assert specs_seen == {0, 1}, specs_seen

    # fold: survivors re-stage under the default spec, deletes gone
    rewrite_position_deletes(spark, t)
    meta = _meta(t)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, manifests = read_container(snap["manifest-list"])
    assert not [m for m in manifests if m["content"] == 1]
    got = sorted((r.id, r.s, r.v) for r in read_iceberg(spark, t).collect())
    assert got == [(2, "b", 2.0), (3, "a", 3.0)]


def test_row_changes_read_each_file_under_its_own_spec(spark, tmp_path):
    """A delete after un-partitioning: the removed file was written
    under the old identity spec (its `s` lives only in the manifest
    tuple) and its rewrite under the new flat one. Each side reads
    every file under its OWN spec, so the feed is the one delete — not
    NULL `s` values and a spurious update pair for the carried rows."""
    from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
        delete_iceberg,
        iceberg_row_changes,
    )

    t = str(tmp_path / "t")
    write_iceberg(
        _df(spark, [(i, f"s{i % 2}", float(i)) for i in range(6)]),
        t,
        partition_by=["s"],
    )
    update_partition_spec(t, [])
    write_iceberg(_df(spark, [(10, "s9", 10.0)]), t, mode="append")
    sid = delete_iceberg(spark, t, "id = 3")
    got = [
        tuple(r)
        for r in iceberg_row_changes(spark, t, sid, keys=["id"]).collect()
    ]
    assert got == [(3, "s1", 3.0, "delete", sid)]
