"""Native Hudi STREAMING SOURCE (Spark 4 Python DataSource API):
``spark.readStream.format("hudi_native").load(path)`` tails a Hudi
table's commit timeline — the real hudi-spark incremental streaming
read's contract, no jars. CoW AND MERGE_ON_READ (r13): a MOR
micro-batch merges each touched slice's log records over its base
(the incremental pull's touched-group semantics, per trigger), so
log-writing deltacommits stream their post-images exactly.

Offsets are COMMIT INSTANTS ({"instant": "yyyyMMddHHmmssSSS"} — the
timeline's monotone clock; "" = before everything). A micro-batch
covers commits ``(start, end]`` with the r9-fixed incremental plan:
the LATEST slice as of ``end`` of each file GROUP the range's commits
touched, row-filtered to ``_hoodie_commit_time`` in range executor-
side — so copied-over rows fall out and a group rewritten twice in
one batch delivers each changed record ONCE with its final value.
Admission (``maxCommitsPerTrigger``, ``maxBytesPerTrigger``,
``progress_dir``) is sources/stream_progress.py's; every new commit
counts, and the persisted mark is the instant itself.

Semantics are a CHANGE/UPSERT FEED, not append-only: Hudi's commit-
time meta column gives every row an exact change stamp, so UPSERT
commits stream correctly (updated records re-deliver with their new
values — downstream keys on the record key; the same contract as
``read_hudi_incremental`` and the real incremental query).
ORDERING-KEYED tables stream too (r15 — lifts the r14 planning
refusal): the per-batch merge runs under
``hoodie.table.precombine.field`` semantics, so a STALE write in the
range delivers NOTHING (the merged state did not change — correct
change-feed semantics, not an omission) and a winning record delivers
with its own deltacommit's stamp; the base-vs-log ordering resolution
mirrors the batch reader's. What
cannot stream: INSERT_OVERWRITE_TABLE (replaced data, fails by name),
ranges reaching into the ARCHIVED timeline (commit metadata gone,
fails by name), and DELETES (CoW deletes-by-absence and MOR delete
blocks — ordering-valued or not — both lack a retraction row to
deliver — documented, same as
the real incremental read without CDC enabled).

Scale/shape: planning is a driver-side timeline walk (cost ∝ the
range's commit metadata + one slice listing); reads yield ARROW
RECORD BATCHES per file with the commit-time filter applied via
pyarrow.compute before rows cross to the JVM. Partition columns are
stored IN Hudi data files (full rows), so no injection is needed.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, InputPartition
from pyspark.sql.types import StructType

from sparkstreamingtwitter_presidential_spark.sources.hudi import (
    META_COLS,
    _archive_boundary,
    _commit_meta,
    _completed_commits,
    _fid_from_stat,
    _is_mor,
    _latest_slices,
    _load_props,
    _replace_map,
)
from sparkstreamingtwitter_presidential_spark.sources.stream_progress import (
    TailReader,
)

_COMMIT_TIME_COL = "_hoodie_commit_time"


class _SlicePartition(InputPartition):
    """One latest-slice file with the batch's (lo, hi] instant range
    and the output column names (meta columns excluded). On MOR,
    ``logs`` carries the slice's ordered [(log_path, instant)] delta
    files — read() merges them over the base (r13; the same
    semantics as the MOR incremental pull, per trigger)."""

    def __init__(
        self,
        path: str,
        lo: str,
        hi: str,
        out_cols: list,
        logs: list | None = None,
        precombine: str | None = None,
    ):
        self.path = path
        self.lo = lo
        self.hi = hi
        self.out_cols = out_cols
        self.logs = logs or []
        self.precombine = precombine


class HudiStreamReader(TailReader):
    format_name = "hudi_native"
    offset_key = "instant"
    count_option = "maxCommitsPerTrigger"

    def __init__(self, options, out_cols: list):
        self.out_cols = out_cols
        self._commit_bytes_cache: dict[str, int] = {}
        super().__init__(options)

    def _start_clock(self, options) -> str:
        return options.get("startingInstant", "")

    def _window(self, floor: str):
        commits = _completed_commits(self.path)
        tail = commits[-1] if commits else ""
        return [c for c in commits if c > floor], tail

    def _size(self, c: str) -> int:
        """Written bytes of one commit: the commit metadata's
        fileSizeInBytes (this engine writes them), else one os.stat per
        written slice; cached."""
        if c not in self._commit_bytes_cache:
            total = 0
            meta = _commit_meta(self.path, c)
            for sts in (meta.get("partitionToWriteStats") or {}).values():
                for st in sts:
                    if "fileSizeInBytes" in st:
                        total += int(st["fileSizeInBytes"])
                    elif st.get("path"):
                        try:
                            total += os.path.getsize(
                                os.path.join(self.path, st["path"])
                            )
                        except OSError:
                            pass
            self._commit_bytes_cache[c] = total
        return self._commit_bytes_cache[c]

    def _plan(self, lo: str, hi: str) -> list:
        if lo >= hi:
            return []  # empty replan tick
        # O(1) boundary read — the guard never parses the archive
        boundary = _archive_boundary(self.path)
        if boundary is not None and lo < boundary:
            raise ValueError(
                f"stream range ({lo!r}, {hi!r}] reaches into the "
                f"ARCHIVED timeline of {self.path} (archived through "
                f"{boundary!r}) — this source does not re-deliver "
                "below the archival boundary (batch incremental pulls "
                "do, since r14); restart from a snapshot read + "
                "startingInstant past it"
            )
        commits = _completed_commits(self.path)
        sel = [c for c in commits if lo < c <= hi]
        if not sel:
            return []
        touched: set[tuple[str, str]] = set()
        for c in sel:
            meta = _commit_meta(self.path, c)
            if meta.get("operationType") == "INSERT_OVERWRITE_TABLE":
                raise ValueError(
                    f"commit {c} in the stream's range is an overwrite "
                    "— replaced data cannot stream incrementally; "
                    "restart from a snapshot read past it"
                )
            for part, stats in (
                meta.get("partitionToWriteStats") or {}
            ).items():
                for st in stats:
                    touched.add((part, _fid_from_stat(st)))
        if _is_mor(_load_props(self.path)):
            # MOR (r13): per touched slice, base + ordered logs as of
            # hi; read() merges per slice (the incremental pull's
            # touched-group semantics, one micro-batch at a time)
            from sparkstreamingtwitter_presidential_spark.sources.hudi_mor import _mor_slices

            # ordering-keyed tables merge under precombine semantics
            # per batch (r15 — lifts the r14 planning refusal)
            precombine = (
                _load_props(self.path).get("hoodie.table.precombine.field")
                or None
            )
            return [
                _SlicePartition(
                    bfull,
                    lo,
                    hi,
                    self.out_cols,
                    logs=[(lf, li) for li, _v, lf in slogs],
                    precombine=precombine,
                )
                for part, fid, _bi, bfull, slogs in _mor_slices(
                    self.path, as_of=hi
                )
                if (part, fid) in touched
            ]
        rmap = _replace_map(self.path, [c for c in commits if c <= hi])
        return [
            _SlicePartition(full, lo, hi, self.out_cols)
            for part, fid, inst, full in _latest_slices(
                self.path, as_of=hi
            )
            if (part, fid) in touched
            and inst > rmap.get((part, fid), "")
        ]

    def read(self, partition: _SlicePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        key_col = "_hoodie_record_key"
        cols = list(partition.out_cols) + [_COMMIT_TIME_COL]
        if partition.logs:
            # MOR merge-then-filter: the batch delivers the slice's
            # MERGED state restricted to commit times in (lo, hi] —
            # base rows superseded by any log record drop (they are
            # not the latest state), surviving log records carry their
            # own deltacommit's stamp
            from sparkstreamingtwitter_presidential_spark.sources.hudi_mor import (
                _merge_events,
            )

            pre = partition.precombine
            events = _merge_events(
                [(lp, li) for lp, li in partition.logs], precombine=pre
            )
            pf = pq.ParquetFile(partition.path)
            if events and pre is not None:
                # base-vs-log ordering resolution (the batch reader's
                # _merged_frame rule): a log event — data or tombstone
                # — only supersedes the base row when its ordering
                # value beats the base's; a losing event drops here so
                # the base row stays deliverable. Cost ∝ overlapping
                # keys (one two-column read).
                sub = pq.read_table(partition.path, columns=[key_col, pre])
                sub = sub.filter(
                    pc.is_in(
                        sub.column(key_col),
                        value_set=pa.array(list(events), type=pa.string()),
                    )
                )
                for k, bv in zip(
                    sub.column(0).to_pylist(), sub.column(1).to_pylist()
                ):
                    ev = events.get(k)
                    evv = ev.get(pre) if ev else None
                    if (
                        ev is not None
                        and evv is not None
                        and bv is not None
                        and evv < bv
                    ):
                        del events[k]  # base row wins, keep it
            read_cols = cols + [key_col]
            keys = (
                pa.array(list(events), type=pa.string())
                if events
                else None
            )
            for batch in pf.iter_batches(columns=read_cols):
                tb = pa.Table.from_batches([batch])
                if keys is not None:
                    tb = tb.filter(
                        pc.invert(pc.is_in(tb.column(key_col), value_set=keys))
                    )
                ct = tb.column(_COMMIT_TIME_COL)
                tb = tb.filter(
                    pc.and_(
                        pc.greater(ct, partition.lo),
                        pc.less_equal(ct, partition.hi),
                    )
                )
                if tb.num_rows:
                    for out in tb.select(partition.out_cols).to_batches():
                        yield out
            survivors = [
                r
                for r in events.values()
                if r is not None
                and "__hoodie_delete__" not in r  # ordering tombstones
                and partition.lo < r[_COMMIT_TIME_COL] <= partition.hi
            ]
            if survivors:
                # pin the base file's arrow types — from_pylist would
                # re-infer (None-only columns become null type)
                base_schema = pf.schema_arrow
                out_schema = pa.schema(
                    [base_schema.field(c) for c in partition.out_cols]
                )
                out_tbl = pa.Table.from_pylist(
                    [
                        {c: r.get(c) for c in partition.out_cols}
                        for r in survivors
                    ],
                    schema=out_schema,
                )
                yield from out_tbl.to_batches()
            return
        pf = pq.ParquetFile(partition.path)
        for batch in pf.iter_batches(columns=cols):
            ct = batch.column(batch.schema.names.index(_COMMIT_TIME_COL))
            mask = pc.and_(
                pc.greater(ct, partition.lo),
                pc.less_equal(ct, partition.hi),
            )
            kept = batch.filter(mask)
            if kept.num_rows:
                yield kept.select(partition.out_cols)


class HudiNativeDataSource(DataSource):
    """format("hudi_native"): streaming reads of a Hudi CoW table."""

    @classmethod
    def name(cls) -> str:
        return "hudi_native"

    def _table_fields(self) -> list:
        import pyarrow.parquet as pq

        path = self.options.get("path")
        if not path:
            raise ValueError("hudi_native: .load(path) is required")
        props = _load_props(path)
        slices = _latest_slices(
            path, logs=[] if _is_mor(props) else None
        )
        if not slices:
            raise ValueError(
                f"Hudi table {path} has no completed commits"
            )
        schema = pq.read_schema(slices[0][3])
        out = []
        for f in schema:
            if f.name in META_COLS:
                continue
            out.append((f.name, _arrow_to_ddl(f.type)))
        return out

    def schema(self) -> str:
        return ", ".join(f"{n} {t}" for n, t in self._table_fields())

    def streamReader(self, schema: StructType) -> HudiStreamReader:
        return HudiStreamReader(
            self.options, [n for n, _t in self._table_fields()]
        )

    def reader(self, schema: StructType):
        raise NotImplementedError(
            "hudi_native is a STREAMING source; batch reads go "
            "through sources.hudi.read_hudi"
        )


def _arrow_to_ddl(t) -> str:
    import pyarrow as pa

    m = {
        pa.int8(): "tinyint", pa.int16(): "smallint",
        pa.int32(): "int", pa.int64(): "bigint",
        pa.float32(): "float", pa.float64(): "double",
        pa.string(): "string", pa.large_string(): "string",
        pa.bool_(): "boolean", pa.date32(): "date",
        pa.binary(): "binary",
    }
    if t in m:
        return m[t]
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    raise NotImplementedError(
        f"hudi_native stream: unsupported column type {t!r}"
    )


def register_hudi_stream(spark: SparkSession) -> None:
    """Idempotent registration of the streaming source on a session."""
    spark.dataSource.register(HudiNativeDataSource)
