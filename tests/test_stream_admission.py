"""The one admission rule every tailing stream source shares
(sources/stream_progress.py): ``admit`` over ordered candidate clocks,
and ``TailReader``'s mark. Pure driver-side logic — no Spark session."""

from __future__ import annotations

import json
import os

from sparkstreamingtwitter_presidential_spark.sources import (
    iceberg_stream_ds,
)
from sparkstreamingtwitter_presidential_spark.sources.delta_stream_ds import (
    DeltaStreamReader,
)
from sparkstreamingtwitter_presidential_spark.sources.hudi_stream_ds import (
    HudiStreamReader,
)
from sparkstreamingtwitter_presidential_spark.sources.stream_progress import (
    TailReader,
    admit,
    load_high_water,
    save_high_water,
)

SIZES = {1: 10, 2: 10, 3: 10, 5: 10}


def test_count_cap_stops_after_max_count_candidates():
    assert admit([1, 2, 3, 5], 5, 2, None, SIZES.get) == 2
    assert admit([1, 2, 3, 5], 5, 1, None, SIZES.get) == 1


def test_byte_cap_is_soft_and_stops_at_a_commit_boundary():
    # the first candidate admits even when it alone exceeds the budget
    assert admit([1, 2, 3], 3, None, 5, SIZES.get) == 1
    # 10 + 10 fits 25; the third would make 30
    assert admit([1, 2, 3], 3, None, 25, SIZES.get) == 2
    # the running total may equal the budget
    assert admit([1, 2, 3], 3, None, 20, SIZES.get) == 2
    # both caps: whichever binds first
    assert admit([1, 2, 3], 3, 1, 25, SIZES.get) == 1


def test_unbound_cap_runs_to_the_tail_past_the_last_candidate():
    # clocks 4 and 6..7 deliver nothing: they never cost a trigger
    assert admit([1, 3, 5], 7, 5, None, SIZES.get) == 7
    assert admit([1, 3, 5], 7, None, 1 << 20, SIZES.get) == 7
    assert admit([1, 3, 5], 7, None, None, SIZES.get) == 7


def test_no_candidates_returns_the_tail():
    assert admit([], 9, 1, 1, SIZES.get) == 9
    assert admit(iter(()), 9, 1, None, SIZES.get) == 9


class _ListReader(TailReader):
    """A source over an in-memory clock list: every clock in
    ``self.clocks`` delivers rows, ``self.tail`` is the newest clock."""

    format_name = "list"
    offset_key = "c"
    count_option = "maxThingsPerTrigger"
    clocks: list = []
    tail = 0

    def _start_clock(self, options):
        return int(options.get("start", "0"))

    def _window(self, floor):
        return [c for c in self.clocks if c > floor], self.tail

    def _plan(self, lo, hi):
        return [c for c in self.clocks if lo < c <= hi]

    def read(self, partition):
        yield from ()


def _reader(tmp_path, clocks, tail, **opts):
    r = _ListReader(
        {"path": str(tmp_path), "progress_dir": str(tmp_path / "p"), **opts}
    )
    r.clocks, r.tail = clocks, tail
    return r


def test_latest_offset_never_falls_below_the_mark_or_the_start(tmp_path):
    # the listing shrank below the persisted mark: offsets stay put
    save_high_water(str(tmp_path / "p"), "list", 6)
    r = _reader(tmp_path, [1, 2], 2, maxThingsPerTrigger="1")
    assert r.latestOffset() == {"c": 6}
    # a start past the source's newest clock: the offset is the start
    r = _reader(tmp_path / "b", [1, 2], 2, start="4", maxThingsPerTrigger="1")
    assert r.initialOffset() == {"c": 4}
    assert r.latestOffset() == {"c": 4}


def test_cold_start_mark_is_the_start_clock_and_caps_hold(tmp_path):
    r = _reader(tmp_path, [3, 4, 5, 6], 6, start="2", maxThingsPerTrigger="2")
    assert r._mark == 2  # seeded at the start clock
    # so the cap holds from the first call
    assert r.latestOffset() == {"c": 4}
    assert r.partitions({"c": 2}, {"c": 4}) == [3, 4]
    r.commit({"c": 4})
    # a fresh reader on the same progress_dir resumes from the mark
    again = _reader(
        tmp_path, [3, 4, 5, 6], 6, start="2", maxThingsPerTrigger="2"
    )
    assert again.latestOffset() == {"c": 6}


def test_unseeded_mark_returns_the_uncapped_tail(tmp_path):
    r = _ListReader({"path": str(tmp_path), "maxThingsPerTrigger": "1"})
    r.clocks, r.tail = [1, 2, 3], 3
    assert r.latestOffset() == {"c": 3}
    # once seeded (here by the offer itself), the cap engages
    r.tail, r.clocks = 5, [1, 2, 3, 4, 5]
    assert r.latestOffset() == {"c": 4}


def test_int_and_instant_marks_round_trip(tmp_path):
    d = str(tmp_path / "p")
    assert load_high_water(None, "x") is None
    assert load_high_water(d, "x", cold=-1) == -1
    save_high_water(d, "x", 7)
    assert load_high_water(d, "x") == 7
    instant = "20260102030405006"
    save_high_water(d, "hudi_native", instant)
    assert load_high_water(d, "hudi_native") == instant
    # the real Hudi reader: a cold start loads startingInstant, and a
    # committed instant reloads as the same string
    t = tmp_path / "hudi"
    (t / ".hoodie").mkdir(parents=True)
    opts = {"path": str(t), "progress_dir": str(tmp_path / "h")}
    r = HudiStreamReader({**opts, "startingInstant": instant}, [])
    assert r.latestOffset() == {"instant": instant}
    r.commit({"instant": "20260102030405007"})
    r2 = HudiStreamReader(opts, [])
    assert r2.latestOffset() == {"instant": "20260102030405007"}


def _delta_commit(log, v, actions):
    with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")


def test_delta_window_of_only_optimize_commits_returns_the_tail(tmp_path):
    t = str(tmp_path / "t")
    log = os.path.join(t, "_delta_log")
    os.makedirs(log)
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}}
        ],
    }
    add = {"path": "a.parquet", "partitionValues": {}, "size": 100,
           "modificationTime": 0, "dataChange": True}
    _delta_commit(log, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet"},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": [], "configuration": {}}},
        {"add": add},
    ])
    for v in (1, 2):  # OPTIMIZE: dataChange:false remove + add
        _delta_commit(log, v, [
            {"remove": {"path": "a.parquet", "dataChange": False}},
            {"add": {**add, "dataChange": False}},
        ])
    pdir = str(tmp_path / "p")
    save_high_water(pdir, "delta_native", 0)
    r = DeltaStreamReader(
        {"path": t, "maxCommitsPerTrigger": "1", "progress_dir": pdir}, []
    )
    assert r.latestOffset() == {"version": 2}
    assert r.partitions({"version": 0}, {"version": 2}) == []


def test_iceberg_branch_only_window_returns_the_tail(tmp_path, monkeypatch):
    def snap(sid, parent, seq, op="append"):
        return {"snapshot-id": sid, "parent-snapshot-id": parent,
                "sequence-number": seq, "summary": {"operation": op}}

    # main: 10 (seq 1) -> 40 (seq 4); seqs 2-3 went to a branch
    meta = {
        "current-snapshot-id": 40,
        "snapshots": [
            snap(10, None, 1), snap(20, 10, 2), snap(30, 20, 3),
            snap(40, 10, 4, op="replace"),
        ],
    }
    monkeypatch.setattr(iceberg_stream_ds, "_load_metadata", lambda p: meta)
    pdir = str(tmp_path / "p")
    save_high_water(pdir, "iceberg_native", 1)
    r = iceberg_stream_ds.IcebergStreamReader(
        {"path": str(tmp_path), "maxSnapshotsPerTrigger": "1",
         "progress_dir": pdir},
        [],
    )
    assert r.latestOffset() == {"seq": 4}
