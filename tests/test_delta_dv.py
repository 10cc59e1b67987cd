"""Delta deletion-vector reads (PROTOCOL.md §Deletion Vectors): the
Z85 / portable-roaring / RoaringBitmapArray codec stack pinned to
public vectors, read_delta applying inline + on-disk DVs as a
broadcast anti-join, and (r10) the DV-aware write surface: CoW DML,
OPTIMIZE folding, RESTORE state diffs, REORG, and the keyed change
derivation — each applying the right side's vector state."""

from __future__ import annotations

import json
import os
import struct

import pytest
from pyspark.sql import functions as F

from sparkstreamingtwitter_presidential_spark.sources.delta import (
    _replay_log,
    delta_changes,
    delta_row_changes,
    read_delta,
    restore_delta,
    write_checkpoint,
    write_delta,
)
from sparkstreamingtwitter_presidential_spark.sources.delta_dv import (
    dv_row_indexes,
    inline_dv_descriptor,
    rba_deserialize,
    rba_serialize,
    roaring32_deserialize,
    roaring32_serialize,
    write_dv_file,
    z85_decode,
    z85_encode,
)


def test_z85_public_vector():
    # ZeroMQ RFC 32/Z85 reference vector
    raw = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85_encode(raw) == "HelloWorld"
    assert z85_decode("HelloWorld") == raw
    with pytest.raises(ValueError):
        z85_decode("Hell")  # length not a multiple of 5
    with pytest.raises(ValueError):
        z85_decode("Hell~")  # '~' outside the Z85 alphabet


def test_roaring32_handbuilt_bytes():
    # array container, key 0, values {4, 8} — bytes computed by hand
    # from the RoaringFormatSpec (cookie 12347, 2 containers-1=0 in
    # the high half-word, 1-byte empty run bitset, header, payload)
    hand = (
        struct.pack("<I", 12347)
        + b"\x00"
        + struct.pack("<HH", 0, 1)
        + struct.pack("<HH", 4, 8)
    )
    vals, pos = roaring32_deserialize(hand)
    assert vals == [4, 8] and pos == len(hand)
    # run container: key 0, one run (start 10, length 3) -> 10..13
    hand = (
        struct.pack("<I", 12347)
        + b"\x01"
        + struct.pack("<HH", 0, 3)
        + struct.pack("<H", 1)
        + struct.pack("<HH", 10, 3)
    )
    assert roaring32_deserialize(hand)[0] == [10, 11, 12, 13]
    # legacy cookie 12346 with explicit size + offsets
    hand = (
        struct.pack("<II", 12346, 1)
        + struct.pack("<HH", 1, 0)
        + struct.pack("<I", 16)
        + struct.pack("<H", 7)
    )
    assert roaring32_deserialize(hand)[0] == [(1 << 16) + 7]


def test_roaring32_roundtrip_all_container_types():
    import random

    rng = random.Random(7)
    cases = [
        [],
        [0],
        [0xFFFFFFFF],
        [65535, 65536],                       # container boundary
        list(range(5000)),                    # bitmap container
        sorted(rng.sample(range(1 << 20), 9000)),  # multi-key mix
    ]
    for vals in cases:
        buf = roaring32_serialize(vals)
        got, pos = roaring32_deserialize(buf)
        assert got == sorted(set(vals))
        assert pos == len(buf)


def test_rba_64bit_roundtrip_and_magic():
    vals = [0, 5, (1 << 32) + 7, (2 << 32) + 1]
    data = rba_serialize(vals)
    assert struct.unpack_from("<I", data, 0)[0] == 1681511377
    assert rba_deserialize(data) == vals
    with pytest.raises(ValueError, match="magic"):
        rba_deserialize(b"\x00\x00\x00\x00" + data[4:])


def test_dv_file_and_inline_descriptors(tmp_path):
    t = str(tmp_path)
    desc = write_dv_file(t, [5, 3, 5, 1])
    assert desc["storageType"] == "u"
    assert desc["cardinality"] == 3
    assert dv_row_indexes(t, desc) == [1, 3, 5]
    # corrupt the checksum -> loud failure
    import glob

    fpath = glob.glob(os.path.join(t, "deletion_vector_*.bin"))[0]
    blob = bytearray(open(fpath, "rb").read())
    blob[-1] ^= 0xFF
    open(fpath, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="checksum"):
        dv_row_indexes(t, desc)
    inline = inline_dv_descriptor([10, 20])
    assert dv_row_indexes(t, inline) == [10, 20]
    bad = dict(inline, cardinality=5)
    with pytest.raises(ValueError, match="cardinality"):
        dv_row_indexes(t, bad)


def _dv_commit(table: str, dvs: dict[str, dict]) -> None:
    """Author the foreign writer's DV commit: remove + re-add each
    path with its descriptor, under the reader-v3 protocol."""
    snap = _replay_log(table, None)
    v = snap.version + 1
    lines = [
        json.dumps(
            {"commitInfo": {"operation": "DELETE", "timestamp": 1700000000000}}
        ),
        json.dumps(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            }
        ),
    ]
    for p, dv in dvs.items():
        a = dict(snap.files[p])
        a["deletionVector"] = dv
        lines.append(
            json.dumps(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": 1700000000000,
                        "dataChange": True,
                    }
                }
            )
        )
        lines.append(json.dumps({"add": a}))
    with open(
        os.path.join(table, "_delta_log", f"{v:020d}.json"), "w"
    ) as fh:
        fh.write("\n".join(lines) + "\n")


@pytest.fixture()
def dv_table(spark, tmp_path):
    """A 100-row two-file table with DVs on both files: on-disk DV
    deleting row indexes 0-4 of the first file, inline DV deleting
    indexes 1 and 3 of the second. Returns (path, surviving ids)."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(100)], "id long, s string"
    )
    write_delta(df.repartition(2), t, mode="append")
    snap = _replay_log(t, None)
    p0, p1 = sorted(snap.files)
    ids0 = [
        r["id"]
        for r in pq.read_table(
            os.path.join(t, p0), columns=["id"]
        ).to_pylist()
    ]
    ids1 = [
        r["id"]
        for r in pq.read_table(
            os.path.join(t, p1), columns=["id"]
        ).to_pylist()
    ]
    deleted = set(ids0[:5]) | {ids1[1], ids1[3]}
    _dv_commit(
        t,
        {
            p0: write_dv_file(t, [0, 1, 2, 3, 4]),
            p1: inline_dv_descriptor([1, 3]),
        },
    )
    return t, sorted(set(range(100)) - deleted)


def test_read_applies_dvs(spark, dv_table):
    t, want = dv_table
    got = sorted(r.id for r in read_delta(spark, t).collect())
    assert got == want
    # time travel BEFORE the DV commit sees every row
    assert read_delta(spark, t, version=0).count() == 100


def test_dv_read_plans_broadcast_anti_join(spark, dv_table):
    t, _want = dv_table
    plan = read_delta(spark, t)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_appends_commute_with_dvs(spark, dv_table):
    t, want = dv_table
    write_delta(
        spark.createDataFrame([(1000, "x")], "id long, s string"),
        t,
        mode="append",
    )
    got = sorted(r.id for r in read_delta(spark, t).collect())
    assert got == want + [1000]


def test_partitioned_dv_read(spark, tmp_path):
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3, f"r{i}") for i in range(60)],
        "id long, g int, s string",
    )
    write_delta(df.repartition(1), t, mode="append", partition_by=["g"])
    snap = _replay_log(t, None)
    # delete the first 2 row indexes of ONE partition's file
    target = sorted(snap.files)[0]
    ids = [
        r["id"]
        for r in pq.read_table(
            os.path.join(t, target), columns=["id"]
        ).to_pylist()
    ]
    _dv_commit(t, {target: write_dv_file(t, [0, 1])})
    got = sorted(r.id for r in read_delta(spark, t).collect())
    assert got == sorted(set(range(60)) - set(ids[:2]))


def test_cow_dml_applies_dvs_directly(spark, dv_table):
    """CoW DELETE/UPDATE run DIRECTLY on DV tables since r10 late: the
    DML scan applies live vectors (no resurrection), rewritten files
    drop their vectors with the remove, untouched files keep theirs;
    the keyed change diff applies each side's own DV state, so the
    foreign DV-attach commit derives its exact delete rows."""
    t, want = dv_table
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta,
        update_delta,
    )

    ch = delta_row_changes(spark, t, 1, keys=["id"]).collect()
    assert sorted(r.id for r in ch) == sorted(set(range(100)) - set(want))
    assert {r._change_type for r in ch} == {"delete"}
    # incremental pull over the DV-attach commit: the remove+re-add is
    # a retraction — ValueError on the remove, not a blanket DV refusal
    with pytest.raises(ValueError, match="retraction|rewrote"):
        delta_changes(spark, t, 0)
    # id=50 survives the fixture's vectors; delete it via CoW — the
    # DV-marked rows of the SAME file must stay deleted, not resurrect
    assert 50 in want
    delete_delta(spark, t, "id = 50")
    got = sorted(r.id for r in read_delta(spark, t).collect())
    assert got == [i for i in want if i != 50]
    update_delta(spark, t, {"s": "'x'"}, "id = 51")
    assert read_delta(spark, t).filter("id = 51").collect()[0].s == "x"


def test_optimize_and_restore_are_dv_aware(spark, dv_table):
    """r10 late: OPTIMIZE compacts DV-carrying small files by FOLDING
    their vectors (rows unchanged, dataChange:false); RESTORE re-adds
    the target version's DV state via per-path descriptor diff, so
    rows a newer vector deleted come back exactly."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        table_version,
    )
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        optimize_delta,
    )

    t, want = dv_table
    v_dv = table_version(t)
    v = optimize_delta(spark, t)
    assert v > v_dv
    snap = _replay_log(t, None)
    assert not any(a.get("deletionVector") for a in snap.files.values())
    assert sorted(r.id for r in read_delta(spark, t).collect()) == want
    # layout-only: the compaction commit is dataChange:false throughout
    log = os.path.join(t, "_delta_log", f"{v:020d}.json")
    for ln in open(log).read().splitlines():
        act = json.loads(ln)
        for k in ("add", "remove"):
            if k in act:
                assert act[k]["dataChange"] is False
    # restore back to the DV version: vectors return, rows match
    restore_delta(spark, t, v_dv)
    snap2 = _replay_log(t, None)
    assert any(a.get("deletionVector") for a in snap2.files.values())
    assert sorted(r.id for r in read_delta(spark, t).collect()) == want
    # restore to v0 (pre-DV): the deleted rows come back
    restore_delta(spark, t, 0)
    assert read_delta(spark, t).count() == 100


def test_vacuum_is_dv_aware(spark, dv_table):
    """VACUUM works on DV tables (r9 late): tombstoned-but-re-added
    paths are protected (the DV rewrite's own file), sidecars are
    never swept (the untracked sweep is parquet-only), and reads stay
    exact afterward; genuinely dead files still reclaim."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        write_delta,
    )
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        vacuum_delta,
    )

    t, want = dv_table
    # an untracked orphan (conflict-loser shape), mtime in the past
    orphan = os.path.join(t, "part-orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"PAR1junkPAR1")
    os.utime(orphan, (1_000_000, 1_000_000))
    gone = vacuum_delta(t, retention_hours=0.0)
    assert gone == ["part-orphan.parquet"]  # dead file reclaimed...
    assert _dv_sidecars(t)  # ...sidecars untouched
    got = sorted(r.id for r in read_delta(spark, t).collect())
    assert got == want  # the DV rewrite's re-added files survived
    assert vacuum_delta(t, retention_hours=0.0) == []  # idempotent


def test_checkpoint_preserves_dvs(spark, dv_table):
    """Checkpointing a DV table carries the descriptors through (r9
    late): after expire_log drops every JSON commit at-or-below the
    checkpoint, a bootstrap read still applies the vectors, and a
    LATER DV delete merges with descriptors READ FROM the checkpoint."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        expire_log,
    )
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta_dv,
    )

    t, want = dv_table
    v = write_checkpoint(t)
    expire_log(t, keep_from=v + 1)
    assert not os.path.exists(
        os.path.join(t, "_delta_log", f"{v:020d}.json")
    )
    got = sorted(r.id for r in read_delta(spark, t).collect())
    assert got == want
    # merge path: union with checkpoint-carried vectors
    victim = want[0]
    delete_delta_dv(spark, t, f"id = {victim}")
    got2 = sorted(r.id for r in read_delta(spark, t).collect())
    assert got2 == want[1:]


def test_dv_backlog_over_budget_decodes_executor_side(
    spark, dv_table, monkeypatch
):
    """Above the driver pair budget the decode moves executor-side
    (r10 — previously a named refusal): same rows, AQE-chosen join,
    no driver pair list. Both storage types (on-disk sidecar + inline)
    are in the fixture's backlog."""
    t, want = dv_table
    import sparkstreamingtwitter_presidential_spark.sources.delta as delta_mod

    monkeypatch.setattr(delta_mod, "_DV_PAIRS_DRIVER_MAX", 3)
    got = sorted(r.id for r in read_delta(spark, t).collect())
    assert got == want
    # appends still commute through the distributed-decode read
    write_delta(
        spark.createDataFrame([(2000, "y")], "id long, s string"),
        t,
        mode="append",
    )
    got2 = sorted(r.id for r in read_delta(spark, t).collect())
    assert got2 == want + [2000]


def test_rba_serialize_refuses_absurd_row_index():
    """A forged descriptor with a huge row index must RAISE instead of
    allocating one empty bitmap per high word (r9 verdict nit): the
    dense loop is capped at _RBA_MAX_HIGH_WORDS."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dv import (
        _RBA_MAX_HIGH_WORDS,
    )

    # the biggest legal index round-trips
    top_ok = (_RBA_MAX_HIGH_WORDS - 1) << 32 | 7
    assert rba_deserialize(rba_serialize([top_ok])) == [top_ok]
    with pytest.raises(ValueError, match="implausible"):
        rba_serialize([_RBA_MAX_HIGH_WORDS << 32])


# ------------------------------------------------ property tests


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=0xFFFFFFFF), max_size=400)
)
def test_roaring32_roundtrip_property(vals):
    buf = roaring32_serialize(vals)
    got, pos = roaring32_deserialize(buf)
    assert got == sorted(set(vals))
    assert pos == len(buf)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=(1 << 40)), max_size=200
    )
)
def test_rba_and_inline_descriptor_roundtrip_property(vals):
    assert rba_deserialize(rba_serialize(vals)) == sorted(set(vals))
    desc = inline_dv_descriptor(vals)
    assert dv_row_indexes("/nonexistent", desc) == sorted(set(vals))


@settings(max_examples=30, deadline=None)
@given(
    st.sets(
        st.integers(min_value=0, max_value=1 << 20), max_size=150
    ),
    st.integers(min_value=0, max_value=3),
)
def test_dv_decode_throughput_contract(vals, _salt):
    """Bounded check that dense/sparse shapes both roundtrip through
    the FILE form (version byte + BE length + CRC)."""
    import tempfile

    d = tempfile.mkdtemp()
    desc = write_dv_file(d, vals)
    assert dv_row_indexes(d, desc) == sorted(vals)


# ------------------------------------------------- write side (r9 late)


def _dv_sidecars(t):
    return [
        f for f in os.listdir(t) if f.startswith("deletion_vector_")
    ]


def test_pack_dv_file_multi_vector_offsets(tmp_path):
    """One sidecar, three vectors at increasing offsets — every
    descriptor decodes its own rows back (the packed layout
    delete_delta_dv commits)."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dv import (
        pack_dv_file,
    )

    d = str(tmp_path)
    sets = {"a": [0, 5, 9], "b": [1 << 33, 7], "c": list(range(100))}
    descs = pack_dv_file(d, sets)
    assert len(_dv_sidecars(d)) == 1
    offs = [descs[k]["offset"] for k in sorted(sets)]
    assert offs[0] == 1 and offs == sorted(offs)
    for k, rows in sets.items():
        assert dv_row_indexes(d, descs[k]) == sorted(set(rows))


def test_delete_delta_dv_roundtrip(spark, tmp_path):
    """MOR delete: rows vanish from the snapshot read without any data
    file being rewritten; the protocol upgrades to reader 3 / writer 7
    carrying implied legacy features; time travel below the delete
    still sees every row; history records the DELETE."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        describe_history,
    )
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta_dv,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3, f"r{i}") for i in range(300)],
        "id long, part int, s string",
    )
    write_delta(df, t, mode="append", partition_by=["part"])
    snap0 = _replay_log(t, None)
    data_files_before = sorted(snap0.files)
    v = delete_delta_dv(spark, t, "id % 5 = 0")
    assert v == 1
    got = sorted(r.id for r in read_delta(spark, t).collect())
    assert got == [i for i in range(300) if i % 5 != 0]
    snap = _replay_log(t, None)
    # same physical files, now descriptor-carrying — nothing rewritten
    assert sorted(snap.files) == data_files_before
    assert all(a.get("deletionVector") for a in snap.files.values())
    assert len(_dv_sidecars(t)) == 1  # one packed sidecar per commit
    pr = snap.protocol_action
    assert pr["minReaderVersion"] == 3 and pr["minWriterVersion"] == 7
    assert "deletionVectors" in pr["readerFeatures"]
    assert {"appendOnly", "invariants", "deletionVectors"} <= set(
        pr["writerFeatures"]
    )
    assert read_delta(spark, t, version=0).count() == 300
    ops = [
        (r.version, r.operation)
        for r in describe_history(spark, t).collect()
    ]
    assert (1, "DELETE") in ops
    # stats on the re-added files are explicitly untightened
    assert all(
        json.loads(a["stats"])["tightBounds"] is False
        for a in snap.files.values()
        if a.get("stats")
    )


def test_delete_delta_dv_merges_existing_dv(spark, tmp_path):
    """A second DV delete UNIONS with each file's existing vector (the
    spec: the new DV replaces the old and must contain it) and a
    delete matching only already-deleted rows commits nothing."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta_dv,
    )

    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(100)], "id long, s string"
        ),
        t,
        mode="append",
    )
    delete_delta_dv(spark, t, "id % 10 = 0")
    v2 = delete_delta_dv(spark, t, "id % 15 = 0")
    assert v2 == 2
    got = sorted(r.id for r in read_delta(spark, t).collect())
    assert got == [i for i in range(100) if i % 10 and i % 15]
    snap = _replay_log(t, None)
    union = sorted(
        ri
        for p, a in snap.files.items()
        for ri in dv_row_indexes(t, a["deletionVector"])
    )
    assert len(union) == sum(
        1 for i in range(100) if i % 10 == 0 or i % 15 == 0
    )
    # fully-contained predicate: no new version
    assert delete_delta_dv(spark, t, "id = 30") == 2


def test_delete_delta_dv_fully_deleted_file_removes(spark, tmp_path):
    """A file whose every physical row is deleted leaves the snapshot
    as a plain remove — never a 100%-deleted DV."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta_dv,
    )

    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, i % 2) for i in range(50)], "id long, part int"
        ),
        t,
        mode="append",
        partition_by=["part"],
    )
    delete_delta_dv(spark, t, "part = 0")
    snap = _replay_log(t, None)
    assert all(
        a.get("partitionValues", {}).get("part") != "0"
        for a in snap.files.values()
    )
    assert not any(a.get("deletionVector") for a in snap.files.values())
    assert _dv_sidecars(t) == []  # no vector was needed at all
    got = sorted(r.id for r in read_delta(spark, t).collect())
    assert got == [i for i in range(50) if i % 2 == 1]


def test_delete_delta_dv_refusals(spark, tmp_path):
    """Budget overflow and appendOnly both refuse by name; nothing is
    committed on refusal."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta_dv,
    )

    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i,) for i in range(100)], "id long"
        ),
        t,
        mode="append",
    )
    with pytest.raises(NotImplementedError, match="copy-on-write"):
        delete_delta_dv(spark, t, "id >= 0", max_deleted_rows=10)
    ao = str(tmp_path / "ao")
    write_delta(spark.createDataFrame([(1,)], "id long"), ao, mode="append")
    log = os.path.join(ao, "_delta_log", f"{0:020d}.json")
    out = []
    for ln in open(log).read().splitlines():
        act = json.loads(ln)
        if "metaData" in act:
            act["metaData"]["configuration"] = {"delta.appendOnly": "true"}
        out.append(json.dumps(act))
    open(log, "w").write("\n".join(out) + "\n")
    with pytest.raises(NotImplementedError, match="appendOnly"):
        delete_delta_dv(spark, ao, "id = 1")
    assert _replay_log(t, None).version == 0
    assert _replay_log(ao, None).version == 0


def test_delete_delta_dv_then_cow_composes(spark, tmp_path):
    """Own-written DVs compose with CoW DML (r10 late): a CoW DELETE
    after a DV delete respects the vectors; OPTIMIZE still refuses
    (its compaction path bypasses the DV-aware scan — REORG first)."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta,
        delete_delta_dv,
        optimize_delta,
    )

    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i,) for i in range(100)], "id long"
        ).repartition(2),
        t,
        mode="append",
    )
    delete_delta_dv(spark, t, "id < 5")
    # OPTIMIZE folds the vectors while compacting (r10 late)
    optimize_delta(spark, t)
    snap = _replay_log(t, None)
    assert not any(a.get("deletionVector") for a in snap.files.values())
    delete_delta(spark, t, "id = 50")
    got = sorted(r.id for r in read_delta(spark, t).collect())
    assert got == [i for i in range(100) if i >= 5 and i != 50]


def test_incremental_pull_clean_range_on_dv_table(spark, dv_table):
    """The r9 narrowing's payoff: an APPEND-only range on a table
    whose older files carry deletion vectors reads incrementally —
    the old vectors cannot reference the range's new files."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        delta_changes,
        table_version,
    )

    t, _want = dv_table
    v_dv = table_version(t)
    write_delta(
        spark.createDataFrame([(500, "n1")], "id long, s string"),
        t,
        mode="append",
    )
    write_delta(
        spark.createDataFrame([(501, "n2")], "id long, s string"),
        t,
        mode="append",
    )
    got = delta_changes(spark, t, v_dv).collect()
    assert sorted((r.id, r._commit_version) for r in got) == [
        (500, v_dv + 1), (501, v_dv + 2),
    ]


def test_update_delta_dv_roundtrip(spark, tmp_path):
    """MOR update: one commit DVs the old rows and stages the new —
    no matched file rewritten; read-back equals the CoW update twin;
    already-DV'd rows are NOT resurrected by an overlapping update."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta_dv,
        update_delta,
        update_delta_dv,
    )

    t = str(tmp_path / "mor")
    u = str(tmp_path / "cow")
    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(40)],
        "id long, part int, v double",
    ).repartition(2)
    write_delta(df, t, mode="append", partition_by=["part"])
    write_delta(df, u, mode="append", partition_by=["part"])
    files_before = sorted(_replay_log(t, None).files)
    v = update_delta_dv(spark, t, {"v": "v + 1000"}, "id % 4 = 0")
    assert v == 1
    update_delta(spark, u, {"v": "v + 1000"}, "id % 4 = 0")
    got = sorted(tuple(r) for r in read_delta(spark, t).collect())
    want = sorted(tuple(r) for r in read_delta(spark, u).collect())
    assert got == want
    snap = _replay_log(t, None)
    # the original files survive (DV'd), plus new files for the rows
    assert set(files_before) <= set(snap.files)
    assert any(a.get("deletionVector") for a in snap.files.values())
    # overlapping DV delete then DV update: deleted rows stay gone
    delete_delta_dv(spark, t, "id = 8")
    update_delta_dv(spark, t, {"v": "v * 0"}, "id = 8")
    ids = [r.id for r in read_delta(spark, t).collect() if r.id == 8]
    assert ids == [], "a DV update resurrected a deleted row"


def test_update_delta_dv_cdf_and_guards(spark, tmp_path):
    """CDF emits pre/post for the newly-updated rows; partition-column
    updates and unknown columns refuse; empty match commits nothing."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        delta_row_changes,
    )
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        update_delta_dv,
    )

    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, i % 2, float(i)) for i in range(10)],
            "id long, part int, v double",
        ).repartition(1),
        t,
        mode="append",
        partition_by=["part"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    update_delta_dv(spark, t, {"v": "v + 5"}, "id < 2")
    ch = delta_row_changes(spark, t, 1).collect()
    pre = sorted((r.id, r.v) for r in ch if r._change_type == "update_preimage")
    post = sorted(
        (r.id, r.v) for r in ch if r._change_type == "update_postimage"
    )
    assert pre == [(0, 0.0), (1, 1.0)] and post == [(0, 5.0), (1, 6.0)]
    with pytest.raises(ValueError, match="partition column"):
        update_delta_dv(spark, t, {"part": "0"})
    with pytest.raises(ValueError, match="unknown"):
        update_delta_dv(spark, t, {"nope": "1"})
    v = _replay_log(t, None).version
    assert update_delta_dv(spark, t, {"v": "v"}, "id = 999") == v


def test_merge_delta_dv_upsert_roundtrip(spark, tmp_path):
    """MOR MERGE: matched keys DV out + source versions staged +
    unmatched inserted, one commit; read-back equals the CoW merge
    twin; txn marker lands in the same commit."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        last_txn_version,
    )
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        merge_delta,
        merge_delta_dv,
    )

    df = lambda s: s.createDataFrame(  # noqa: E731
        [(i, i % 2, float(i)) for i in range(30)],
        "id long, part int, v double",
    ).repartition(2)
    t, u = str(tmp_path / "mor"), str(tmp_path / "cow")
    write_delta(df(spark), t, mode="append", partition_by=["part"])
    write_delta(df(spark), u, mode="append", partition_by=["part"])
    src = spark.createDataFrame(
        [(3, 1, 300.0), (4, 0, 400.0), (100, 0, 1.0)],
        "id long, part int, v double",
    )
    files_before = sorted(_replay_log(t, None).files)
    merge_delta_dv(spark, t, src, keys=["id"], txn=("app", 7))
    merge_delta(spark, u, src, keys=["id"])
    got = sorted(tuple(r) for r in read_delta(spark, t).collect())
    want = sorted(tuple(r) for r in read_delta(spark, u).collect())
    assert got == want
    snap = _replay_log(t, None)
    assert set(files_before) <= set(snap.files)  # nothing rewritten
    assert last_txn_version(t, "app") == 7
    # merge-delete variant: matched keys vanish, nothing staged
    merge_delta_dv(
        spark, t,
        spark.createDataFrame([(5, 1, 0.0)], "id long, part int, v double"),
        keys=["id"], when_matched="delete", insert_not_matched=False,
    )
    assert 5 not in {r.id for r in read_delta(spark, t).collect()}


def test_merge_delta_dv_dead_rows_insert(spark, tmp_path):
    """A source key matching only rows a previous vector already
    deleted INSERTS (the dead rows are invisible) instead of
    resurrecting or double-deleting."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta_dv,
        merge_delta_dv,
    )

    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id long, v double"
        ).repartition(1),
        t,
        mode="append",
    )
    delete_delta_dv(spark, t, "id = 4")
    merge_delta_dv(
        spark, t,
        spark.createDataFrame([(4, 444.0)], "id long, v double"),
        keys=["id"],
    )
    rows = sorted((r.id, r.v) for r in read_delta(spark, t).collect())
    assert (4, 444.0) in rows and (4, 4.0) not in rows
    assert len([r for r in rows if r[0] == 4]) == 1


def test_merge_delta_dv_when_matched_none_only_inserts(spark, tmp_path):
    """when_matched='none' is part of the contract merge_delta_dv shares
    with merge_delta: matched rows stay unchanged, unmatched source rows
    insert (a key matching only a row an earlier vector deleted counts
    as unmatched), and the commit writes no deletion vector."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta_dv,
        merge_delta_dv,
    )

    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id long, v double"
        ).repartition(1),
        t,
        mode="append",
    )
    delete_delta_dv(spark, t, "id = 4")
    vectors = {
        p: a["deletionVector"]
        for p, a in _replay_log(t, None).files.items()
        if a.get("deletionVector")
    }
    v = merge_delta_dv(
        spark, t,
        spark.createDataFrame(
            [(3, 333.0), (4, 444.0), (42, 42.0)], "id long, v double"
        ),
        keys=["id"],
        when_matched="none",
    )
    assert v == 2
    rows = sorted((r.id, r.v) for r in read_delta(spark, t).collect())
    assert rows == sorted(
        [(i, float(i)) for i in range(10) if i != 4]
        + [(4, 444.0), (42, 42.0)]
    )
    snap = _replay_log(t, None)
    assert {
        p: a["deletionVector"]
        for p, a in snap.files.items()
        if a.get("deletionVector")
    } == vectors
    log = os.path.join(t, "_delta_log", f"{v:020d}.json")
    actions = [json.loads(ln) for ln in open(log).read().splitlines()]
    assert not any("remove" in a for a in actions)


from hypothesis import given as _given, settings as _settings
from hypothesis import strategies as _st


@_settings(max_examples=25, deadline=None)
@_given(
    _st.dictionaries(
        _st.text(
            alphabet="abcdef0123456789", min_size=1, max_size=8
        ),
        _st.sets(_st.integers(min_value=0, max_value=1 << 34), max_size=60),
        min_size=1,
        max_size=6,
    )
)
def test_pack_dv_file_property(per_key):
    """Packed multi-vector sidecars: every key's descriptor decodes
    its own rows back exactly, regardless of key count, offsets, or
    64-bit high words."""
    import tempfile

    from sparkstreamingtwitter_presidential_spark.sources.delta_dv import (
        pack_dv_file,
    )

    d = tempfile.mkdtemp()
    descs = pack_dv_file(d, per_key)
    for k, rows in per_key.items():
        assert dv_row_indexes(d, descs[k]) == sorted(rows)


def test_rewrite_deletion_vectors_folds_backlog(spark, dv_table):
    """REORG (r10): folds every live DV into fresh files — rows
    unchanged, vectors gone, dataChange:false (streaming/incremental
    consumers skip it), time travel intact, and the CoW paths that
    refused on the DV table work again."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        delete_delta,
        optimize_delta,
        rewrite_deletion_vectors,
    )

    t, want = dv_table
    v = rewrite_deletion_vectors(spark, t)
    snap = _replay_log(t, None)
    assert not any(a.get("deletionVector") for a in snap.files.values())
    assert sorted(r.id for r in read_delta(spark, t).collect()) == want
    # layout-only commit: dataChange false everywhere
    log = os.path.join(t, "_delta_log", f"{v:020d}.json")
    for ln in open(log).read().splitlines():
        act = json.loads(ln)
        for k in ("add", "remove"):
            if k in act:
                assert act[k]["dataChange"] is False
    # pre-REORG snapshots still resolve (vectors still applied there)
    assert sorted(
        r.id for r in read_delta(spark, t, version=v - 1).collect()
    ) == want
    # the CoW refusals are lifted post-fold
    delete_delta(spark, t, "id = 50")
    assert 50 not in {r.id for r in read_delta(spark, t).collect()}
    optimize_delta(spark, t)
    # idempotent: nothing left to fold
    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        table_version,
    )

    assert rewrite_deletion_vectors(spark, t) == table_version(t)


def test_rewrite_deletion_vectors_over_budget_distributed(
    spark, dv_table, monkeypatch
):
    import sparkstreamingtwitter_presidential_spark.sources.delta as delta_mod

    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        rewrite_deletion_vectors,
    )

    t, want = dv_table
    monkeypatch.setattr(delta_mod, "_DV_PAIRS_DRIVER_MAX", 2)
    rewrite_deletion_vectors(spark, t)
    assert sorted(r.id for r in read_delta(spark, t).collect()) == want


def test_dv_aware_dml_scan_keeps_pushdown(spark, tmp_path):
    """The DV-applying DML scan must not cost pushdown: the probe's
    predicate reaches the parquet scan THROUGH the anti-join
    (PushedFilters carries it) and the DV application stays a
    broadcast anti-join — at 100 TB the affected-file probe reads the
    predicate's row groups, never the table."""
    from pyspark.sql import functions as F

    from sparkstreamingtwitter_presidential_spark.sources.delta_dml import (
        _scan_with_file,
        delete_delta_dv,
    )

    t = str(tmp_path / "t")
    write_delta(
        spark.range(10000).withColumn("v", F.col("id") * 1.0).repartition(2),
        t,
    )
    delete_delta_dv(spark, t, "id % 100 = 0")
    snap = _replay_log(t, None)
    probe = _scan_with_file(spark, t, snap, apply_dvs=True).filter(
        F.expr("id = 5000")
    )
    probe.collect()
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(id,5000)" in plan, "predicate not pushed to the scan"
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
