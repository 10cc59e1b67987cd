"""The reference's pipe-text table format as a REGISTERED Spark
connector (Spark 4 Python DataSource API): after
``register_pipetext(spark)``, the format participates in the normal
reader/writer surface —

    spark.read.format("pipetext").load(path)
    df.write.format("pipetext").mode("append").save(path)

versus pipe_text.py's helper functions, this is the full connector
contract: schema discovery (the fixed twitter_presi DDL,
README.md:98-101), one InputPartition PER FILE (reads parallelize
across executors), filter PUSHDOWN into the Python reader (IsNotNull /
EqualTo are applied while parsing — rows are dropped before they cross
the Arrow boundary; everything else is handed back to Spark), and a
task-per-partition writer with driver-side commit (`_SUCCESS`) /
abort (best-effort cleanup) semantics.

Scale notes: partitions() lists files driver-side (metadata only);
each task opens ONLY its own file (on a cluster the path is an
object-store URI and open() becomes the storage client — same honesty
note as sources/export.py). Python-DataSource rows cross into the JVM
via Arrow batches; for the hot path the engine's canonical storage
remains parquet — this connector exists for capability parity and
interchange, like the CSV/JSONL/Avro sources.

Format details (Collector.scala:45,59-63,89-90): '|' separator, empty
cell == NULL, timestamps as ``yyyy-MM-dd HH:mm:ss.0``.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from datetime import datetime
from typing import Iterator

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    InputPartition,
    IsNotNull,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from sparkstreamingtwitter_presidential_spark.sources.stream_progress import (
    TailReader,
)

_DDL = "text string, latitude float, longitude float, created_at timestamp"
_COLS = ("text", "latitude", "longitude", "created_at")
_TS_FMT = "%Y-%m-%d %H:%M:%S.%f"


def _parse_line(line: str):
    parts = line.rstrip("\n").split("|")
    if len(parts) != 4:
        # ragged row: pad/truncate to schema width, like a PERMISSIVE scan
        parts = (parts + [""] * 4)[:4]
    text = parts[0] if parts[0] != "" else None
    lat = float(parts[1]) if parts[1] != "" else None
    lon = float(parts[2]) if parts[2] != "" else None
    ts = datetime.strptime(parts[3], _TS_FMT) if parts[3] != "" else None
    return (text, lat, lon, ts)


def _fmt_cell(v, col: str) -> str:
    if v is None:
        return ""
    if col == "created_at":
        # the collector's Hive format: second precision + literal ".0"
        return v.strftime("%Y-%m-%d %H:%M:%S") + ".0"
    return str(v)


@dataclass
class _FilePartition(InputPartition):
    path: str


class PipeTextReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pipetext: .load(path) is required")
        self.pushed: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept IsNotNull on any column and EqualTo on the STRING
        column only (applied while parsing, before rows cross to the
        JVM); everything else yields back to Spark unsupported. Float
        EqualTo is deliberately NOT pushed: Spark compares
        ``float_col = lit`` after casting the literal to float32, and
        re-implementing that cast-precision semantic Python-side is
        exactly the kind of silent divergence a pushed (therefore
        un-rechecked) filter must not risk."""
        for f in filters:
            if len(f.attribute) == 1 and (
                (isinstance(f, IsNotNull) and f.attribute[0] in _COLS)
                or (isinstance(f, EqualTo) and f.attribute[0] == "text")
            ):
                self.pushed.append(f)
            else:
                yield f

    def partitions(self):
        if os.path.isdir(self.path):
            files = sorted(
                os.path.join(self.path, n)
                for n in os.listdir(self.path)
                if not n.startswith(("_", "."))
            )
        else:
            files = [self.path]
        return [_FilePartition(p) for p in files]

    def _keep(self, row) -> bool:
        for f in self.pushed:
            v = row[_COLS.index(f.attribute[0])]
            if isinstance(f, IsNotNull):
                if v is None:
                    return False
            else:  # EqualTo
                if v is None or v != f.value:
                    return False
        return True

    def read(self, partition: _FilePartition):
        with open(partition.path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip() == "":
                    continue
                row = _parse_line(line)
                if self._keep(row):
                    yield row


@dataclass
class _WroteFile(WriterCommitMessage):
    filename: str


class PipeTextWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pipetext: .save(path) is required")
        self.overwrite = overwrite

    def write(self, iterator) -> _WroteFile:
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.txt"
        full = os.path.join(self.path, name)
        with open(full, "w", encoding="utf-8") as fh:
            for row in iterator:
                cells = [_fmt_cell(row[i], c) for i, c in enumerate(_COLS)]
                fh.write("|".join(cells) + "\n")
        return _WroteFile(name)

    def commit(self, messages) -> None:
        # The Python DataSource API leaves overwrite semantics to the
        # writer. Honor mode("overwrite") here, at commit time: drop
        # every pre-existing part file NOT written by this job, so the
        # swap is deferred until all tasks have succeeded (an abort
        # leaves the old data untouched). Without this, overwrite would
        # silently behave like append and read back stale rows.
        if self.overwrite:
            keep = {m.filename for m in messages if m is not None}
            for n in os.listdir(self.path):
                if n.startswith(("_", ".")) or n in keep:
                    continue
                try:
                    os.remove(os.path.join(self.path, n))
                except OSError:
                    pass
        with open(os.path.join(self.path, "_SUCCESS"), "w"):
            pass

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.path, m.filename))
                except OSError:
                    pass


class PipeTextStreamReader(TailReader):
    """Tail a pipe-text directory as a Structured Streaming source.

    Offsets are positions in the SORTED file listing ({"index": N} ==
    "the first N files are consumed"), so the producer contract is the
    standard file-source one: files are appended with lexically
    increasing names and never rewritten (the writer's uuid part names
    satisfy neither — a streaming producer names files itself, e.g.
    zero-padded sequence numbers; the collector's replay staging does
    exactly that). Each micro-batch gets one InputPartition per new
    file — executor-parallel, exactly-once under checkpointing (the
    offset log replays the same [start, end) file slice).
    ``maxFilesPerTrigger`` caps the files one micro-batch admits, the
    builtin file source's knob (sources/stream_progress.py)."""

    format_name = "pipetext"
    offset_key = "index"
    count_option = "maxFilesPerTrigger"

    def _files(self) -> list:
        if not os.path.isdir(self.path):
            return []
        return sorted(
            n for n in os.listdir(self.path) if not n.startswith(("_", "."))
        )

    def _start_clock(self, options) -> int:
        return 0

    def _window(self, floor: int):
        n = len(self._files())
        return range(floor + 1, n + 1), n

    def _plan(self, lo: int, hi: int) -> list:
        files = self._files()
        return [
            _FilePartition(os.path.join(self.path, files[i]))
            for i in range(lo, min(hi, len(files)))
        ]

    def read(self, partition: _FilePartition):
        with open(partition.path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip() != "":
                    yield _parse_line(line)


class PipeTextDataSource(DataSource):
    """format("pipetext"): the reference's pipe-delimited table."""

    @classmethod
    def name(cls) -> str:
        return "pipetext"

    def schema(self) -> str:
        return _DDL

    def reader(self, schema: StructType) -> PipeTextReader:
        return PipeTextReader(self.options)

    def streamReader(self, schema: StructType) -> PipeTextStreamReader:
        return PipeTextStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> PipeTextWriter:
        if sorted(f.name for f in schema.fields) != sorted(_COLS):
            raise ValueError(
                f"pipetext writes the twitter_presi shape {_COLS}; got "
                f"{[f.name for f in schema.fields]}"
            )
        return PipeTextWriter(self.options, overwrite)


def register_pipetext(spark: SparkSession) -> None:
    """Idempotent registration of the connector on a session. Also
    enables Python-source filter pushdown (off by default in Spark 4;
    a reader that implements pushFilters() on a session with it
    disabled is an analysis error, not a silent fallback)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PipeTextDataSource)
