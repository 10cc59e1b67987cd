"""Native Delta STREAMING SOURCE (Spark 4 Python DataSource API):
``spark.readStream.format("delta_native").load(path)`` tails a Delta
table's commit log — the real delta-spark streaming source's contract,
no jars.

Offsets are TABLE VERSIONS ({"version": V} == "commits 0..V
consumed"), the log's own monotone clock: a micro-batch plans the add
actions of commits ``(start, end]``, one InputPartition per data file,
so replays under checkpointing re-read exactly the same file slice —
exactly-once composition with any idempotent sink. Admission
(``maxCommitsPerTrigger``, ``maxBytesPerTrigger``, ``progress_dir``)
is sources/stream_progress.py's; the commits it counts are the ones
that deliver rows.

Append-only contract, like the real source without
ignoreChanges/ignoreDeletes: a commit in range carrying a
``dataChange`` remove (DELETE/UPDATE/MERGE/overwrite rewrote rows) or
a deletion-vector attach fails the stream with the remediation named —
an append-only consumer cannot represent a retraction. Metadata-only
commits (SET TBLPROPERTIES, OPTIMIZE's dataChange:false) contribute
nothing.

Scale/shape notes: planning is O(actions in the version range)
driver-side; reads are executor-parallel per file and yield ARROW
RECORD BATCHES (pyarrow iter_batches -> JVM columnar transfer, not
row-at-a-time Python). Partition values are log metadata injected as
constant Arrow columns per the declared type.

Parity: delta-spark's `readStream.format("delta")`
(delta.io docs §Streaming reads). Reference scope: the original app's
DStream source is a keyword-filtered socket feed (Collector.scala) —
this module is the lakehouse-native replacement surface.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import urllib.parse
from typing import Any, Iterator

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, InputPartition
from pyspark.sql.types import StructType

from sparkstreamingtwitter_presidential_spark.sources.delta import (
    _column_mapping,
    _log_path,
    _replay_log,
)
from sparkstreamingtwitter_presidential_spark.sources.stream_progress import (
    TailReader,
    starting_timestamp_ms,
)


class _AddFilePartition(InputPartition):
    """One data file of one commit: absolute path, the declared fields
    as (name, physical_name, ddl_type, is_partition) tuples in schema
    order (physical == logical on unmapped tables; mapped tables' data
    files store the physical names, r10), and the add's partitionValues
    re-keyed to LOGICAL names (log-encoded strings). Picklable —
    read() runs executor-side with no driver state."""

    def __init__(
        self,
        path: str,
        fields: list,
        part_values: dict,
        commit_version: int | None = None,
        change_type: str | None = None,
    ):
        self.path = path
        self.fields = fields
        self.part_values = part_values
        # CDF mode (r10): _commit_version is injected as a constant;
        # _change_type is a constant for insert-only commits or, when
        # None with commit_version set, read FROM the cdc file itself
        self.commit_version = commit_version
        self.change_type = change_type


_PA_BY_DDL: dict[str, Any] = {}


def _pa_type(ddl: str):
    import pyarrow as pa

    if not _PA_BY_DDL:
        _PA_BY_DDL.update(
            {
                "tinyint": pa.int8(), "smallint": pa.int16(),
                "int": pa.int32(), "bigint": pa.int64(),
                "float": pa.float32(), "double": pa.float64(),
                "string": pa.string(), "boolean": pa.bool_(),
                "date": pa.date32(),
                "timestamp": pa.timestamp("us", tz="UTC"),
                "binary": pa.binary(),
            }
        )
    if ddl.startswith("decimal"):
        import re

        m = re.match(r"decimal\((\d+),(\d+)\)", ddl)
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    try:
        return _PA_BY_DDL[ddl]
    except KeyError:
        raise NotImplementedError(
            f"delta_native stream: unsupported partition-column type "
            f"{ddl!r}"
        ) from None


def _const_column(value: Any, ddl: str, n: int):
    """An n-row Arrow column holding ``value`` as the declared type."""
    import pyarrow as pa

    return pa.array([value] * n, type=_pa_type(ddl))


def _pv_python(value: str | None, ddl: str) -> Any:
    """Decode one log-encoded partition value (the protocol's string
    serialization; JSON null == NULL) to the Python value Arrow
    accepts for the declared type."""
    if value is None:
        return None
    if ddl in ("tinyint", "smallint", "int", "bigint"):
        return int(value)
    if ddl in ("float", "double"):
        return float(value)
    if ddl == "boolean":
        return value == "true"
    if ddl == "date":
        return datetime.date.fromisoformat(value)
    if ddl == "timestamp":
        return datetime.datetime.fromisoformat(value)
    if ddl.startswith("decimal"):
        return decimal.Decimal(value)
    return value  # string


def _data_adds(actions: list) -> list:
    return [
        a["add"] for a in actions
        if "add" in a and a["add"].get("dataChange", True)
    ]


def _rewrites(actions: list) -> bool:
    """The commit changes existing rows: a dataChange remove
    (DELETE/UPDATE/MERGE/overwrite) or a deletion-vector attach."""
    return any(
        "remove" in a and a["remove"].get("dataChange", True)
        for a in actions
    ) or any(a.get("deletionVector") for a in _data_adds(actions))


class DeltaStreamReader(TailReader):
    format_name = "delta_native"
    offset_key = "version"
    count_option = "maxCommitsPerTrigger"

    def __init__(self, options, fields: list):
        self.fields = fields  # (name, physical, ddl, is_partition)
        # real-source parity (r10): skipChangeCommits=true silently
        # SKIPS commits that rewrite data (DELETE/UPDATE/MERGE/
        # overwrite, DV attaches) instead of failing the stream — the
        # consumer sees only append commits' rows (delta-spark's
        # option; the default remains fail-by-name, never wrong rows
        # silently)
        self.skip_change_commits = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        # CDF mode (r10, delta-spark's readChangeFeed): the stream
        # delivers CHANGE ROWS (+_change_type, +_commit_version)
        # instead of appended rows — cdc files exclusively when a
        # commit carries them (the spec's rule), the insert-only
        # shortcut otherwise; a rewrite commit WITHOUT cdc fails by
        # name (change rows are underivable without keys in a stream)
        self.read_change_feed = (
            str(options.get("readChangeFeed", "false")).lower() == "true"
        )
        if self.read_change_feed and self.skip_change_commits:
            raise ValueError(
                "readChangeFeed and skipChangeCommits are contradictory"
            )
        self._commit_info_cache: dict[int, tuple[bool, int]] = {}
        super().__init__(options)

    def _start_clock(self, options) -> int:
        want_ms = starting_timestamp_ms(options, "startingVersion")
        if want_ms is None:
            return int(options.get("startingVersion", "0")) - 1
        # real-source parity (r10): deliver from the first version
        # committed AT OR AFTER the timestamp, i.e. one past the latest
        # at-or-before (ts - 1ms) — version_at_timestamp applies the
        # mtime fallback for commitInfo-less foreign commits and the
        # monotonization rule
        from sparkstreamingtwitter_presidential_spark.sources.delta import (
            version_at_timestamp,
        )

        try:
            start_v = version_at_timestamp(self.path, want_ms - 1) + 1
        except ValueError:
            start_v = 0  # every retained commit is at-or-after
        if start_v > _replay_log(self.path, None).version:
            raise ValueError(
                f"startingTimestamp {options['startingTimestamp']} "
                "is after the table's latest commit — nothing to "
                "stream from"
            )
        return start_v - 1

    def _actions(self, v: int) -> list:
        commit = os.path.join(_log_path(self.path), f"{v:020d}.json")
        try:
            with open(commit) as fh:
                return [json.loads(line) for line in fh if line.strip()]
        except FileNotFoundError:
            raise ValueError(
                f"commit {v} of {self.path} is not available as a "
                "JSON delta (expired by log retention) — the "
                "stream's offset range needs the per-commit actions"
            ) from None

    def _commit_info(self, v: int) -> tuple[bool, int]:
        """(delivers rows, ADDED bytes) of one commit, cached — O(new
        commits) driver metadata reads per trigger, never data."""
        if v not in self._commit_info_cache:
            actions = self._actions(v)
            adds = _data_adds(actions)
            if self.read_change_feed:
                delivers = bool(adds) or any("cdc" in a for a in actions)
            else:
                delivers = bool(adds) and not (
                    self.skip_change_commits and _rewrites(actions)
                )
            self._commit_info_cache[v] = (
                delivers, sum(int(a.get("size", 0)) for a in adds),
            )
        return self._commit_info_cache[v]

    def _window(self, floor: int):
        tail = _replay_log(self.path, None).version
        candidates = (
            v for v in range(floor + 1, tail + 1) if self._commit_info(v)[0]
        )
        return candidates, tail

    def _size(self, v: int) -> int:
        return self._commit_info(v)[1]

    def _partition(self, add: dict, **cdf) -> _AddFilePartition:
        # mapped tables key partitionValues by PHYSICAL name; re-key to
        # logical so read() stays mapping-blind
        pv = add.get("partitionValues", {})
        logical = {
            n: pv.get(ph, pv.get(n)) for n, ph, _t, is_p in self.fields if is_p
        }
        return _AddFilePartition(
            os.path.join(self.path, urllib.parse.unquote(add["path"])),
            self.fields,
            logical,
            **cdf,
        )

    def _cdf_partitions(self, v: int, actions: list) -> list:
        """CDF planning for ONE commit: cdc files exclusively when
        present (self-contained change rows), else the insert-only
        shortcut; dataChange removes without cdc fail by name."""
        cdc = [a["cdc"] for a in actions if "cdc" in a]
        if cdc:
            # the cdc file carries _change_type itself
            return [self._partition(a, commit_version=v) for a in cdc]
        if _rewrites(actions):
            # a DV attach without cdc is a rewrite too — streaming the
            # add's physical rows would deliver the deleted ones as
            # 'insert' (the batch twin applies the add's own DV state)
            raise ValueError(
                f"commit {v} of {self.path} rewrites data without cdc "
                "actions — a change-feed stream cannot derive its rows "
                "(enable delta.enableChangeDataFeed on the writer, or "
                "use the batch table_changes with keys)"
            )
        return [
            self._partition(a, commit_version=v, change_type="insert")
            for a in _data_adds(actions)
        ]

    def _plan(self, lo: int, hi: int) -> list:
        out = []
        for v in range(lo + 1, hi + 1):
            actions = self._actions(v)
            if self.read_change_feed:
                out.extend(self._cdf_partitions(v, actions))
                continue
            if _rewrites(actions):
                if self.skip_change_commits:
                    # skipped WHOLE (the real option's semantics): its
                    # adds are rewrite survivors or updated versions
                    continue
                raise ValueError(
                    f"commit {v} of {self.path} rewrites data (DELETE/"
                    "UPDATE/MERGE/overwrite or a deletion vector) — an "
                    "append-only stream cannot represent a retraction; "
                    "restart from a snapshot read + startingVersion "
                    "past it, or pass skipChangeCommits=true to skip "
                    "such commits entirely"
                )
            # OPTIMIZE's dataChange:false adds re-stage rows already sent
            out.extend(self._partition(a) for a in _data_adds(actions))
        return out

    def read(self, partition: _AddFilePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        data_cols = [
            ph for _n, ph, _t, is_p in partition.fields if not is_p
        ]
        cdf = partition.commit_version is not None
        if cdf and partition.change_type is None:
            data_cols = data_cols + ["_change_type"]
        pf = pq.ParquetFile(partition.path)
        for batch in pf.iter_batches(columns=data_cols):
            n = batch.num_rows
            arrays, names = [], []
            for name, phys, ddl, is_part in partition.fields:
                if is_part:
                    pv = _pv_python(partition.part_values.get(name), ddl)
                    arrays.append(_const_column(pv, ddl, n))
                else:
                    # files store the PHYSICAL name; emit the logical
                    arrays.append(
                        batch.column(batch.schema.names.index(phys))
                    )
                names.append(name)
            if cdf:
                if partition.change_type is None:
                    arrays.append(
                        batch.column(
                            batch.schema.names.index("_change_type")
                        )
                    )
                else:
                    arrays.append(
                        _const_column(partition.change_type, "string", n)
                    )
                arrays.append(
                    _const_column(partition.commit_version, "bigint", n)
                )
                names += ["_change_type", "_commit_version"]
            yield pa.RecordBatch.from_arrays(arrays, names=names)


class DeltaNativeDataSource(DataSource):
    """format("delta_native"): streaming reads of a Delta table."""

    @classmethod
    def name(cls) -> str:
        return "delta_native"

    def _snapshot_fields(self) -> list:
        path = self.options.get("path")
        if not path:
            raise ValueError("delta_native: .load(path) is required")
        snap = _replay_log(path, None)
        # mapped tables stream too (r10): the planner carries each
        # field's PHYSICAL name so executors read the right parquet
        # columns and emit logical names
        mapping = _column_mapping(snap) or {}
        assert snap.schema is not None
        return [
            (
                f.name,
                mapping.get(f.name, f.name),
                f.dataType.simpleString(),
                f.name in snap.partition_columns,
            )
            for f in snap.schema.fields
        ]

    def schema(self) -> str:
        base = ", ".join(
            f"{n} {t}" for n, _ph, t, _p in self._snapshot_fields()
        )
        if str(self.options.get("readChangeFeed", "false")).lower() == "true":
            # CDF mode appends the protocol's change columns
            return base + ", _change_type string, _commit_version bigint"
        return base

    def streamReader(self, schema: StructType) -> DeltaStreamReader:
        return DeltaStreamReader(self.options, self._snapshot_fields())

    def reader(self, schema: StructType):
        raise NotImplementedError(
            "delta_native is a STREAMING source; batch reads go "
            "through sources.delta.read_delta (native snapshot reads "
            "with DV/time-travel/skipping support)"
        )


def register_delta_stream(spark: SparkSession) -> None:
    """Idempotent registration of the streaming source on a session."""
    spark.dataSource.register(DeltaNativeDataSource)
