"""Minimal native Apache Iceberg reader/writer over the PUBLIC table
spec (iceberg.apache.org/spec — "Iceberg Table Spec", format-version 2)
— no jars, no external deps; the same policy as the native Delta module
(`sources/delta.py`): the container lacks the iceberg-spark runtime
(`sources/lakehouse.py` probes and raises), but the Iceberg *format* is
just files:

  metadata/version-hint.text        latest metadata version (Hadoop
                                    catalog convention; readers fall
                                    back to listing when stale/absent)
  metadata/vN.metadata.json         schema, snapshots, current pointer
  metadata/snap-*.avro              manifest LIST (one per snapshot)
  metadata/*-m*.avro                manifest files (data-file entries)
  data/*.parquet                    plain parquet data

Manifest lists and manifests are Avro object-container files — decoded
and produced by this package's own spec-true Avro codec
(`sources/avro.py::read_container/write_container`, which exists for
exactly this reason: nested records / maps are the manifest schema's
shape). Data files are plain parquet Spark already reads; scans stay
fully distributed (`spark.read.parquet(paths)`), only the metadata
walk is driver-side — the identical cost split as the real client and
as `sources/delta.py`.

Coverage: format-version 1/2/3 metadata (v3 writes maintain the
spec's row-lineage bookkeeping; Puffin deletion-vector DML lives in
iceberg_dv.py), unpartitioned AND
identity-partitioned tables (int/long/string/date partition sources;
partition tuples spec-serialized in manifest entries, partition-pruned
reads composing with per-file column bounds), parquet data files,
append + overwrite snapshots, copy-on-write DELETE/UPDATE/MERGE
(affected-file probe -> rewrite -> replace commit, mirroring
`sources/delta_dml.py`'s contract), small-file-only compaction with
carried-forward EXISTING entries, time travel by snapshot-id,
snapshot-history inspection frame, incremental append-scan (merged-
manifest-safe entry selection), snapshot expiration with age guard,
commit atomicity via O_CREAT|O_EXCL on the next metadata version
(put-if-absent — correct on POSIX/HDFS; object stores interpose a
catalog, same honesty note as Delta). The put-if-absent claims the
version the PLANNING-time metadata read resolved + 1, so a concurrent
commit between planning and claim always surfaces as
IcebergCommitConflict — never a silently-lost write.
Row-level deletes (r8): POSITION deletes (v2) are first-class on
unpartitioned tables — `delete_iceberg_positional` writes sorted
(file_path, pos) delete files committed through a content=1 delete
manifest (cost ∝ matched rows, not rewritten bytes), snapshot reads
anti-join the pairs on (`_metadata.file_path`, `_metadata.row_index`)
with the spec's sequence-number scoping, and
`rewrite_position_deletes` folds them back into data files (cost ∝
affected files). DML/compaction/incremental REFUSE while deletes are
live (rewrite first) — never resurrect deleted rows.
Refusals (clear NotImplementedError/ValueError rather than wrong
rows): partition sources outside the transform's allowed types,
non-parquet/non-puffin delete formats, format-version > 3, v3 field
defaults on read, types outside the supported subset. (Earlier-round
refusals since lifted: transforms r9, equality deletes r9/r10, v3
reads r10, v3 writes + Puffin-DV DML r11 — see iceberg_dv.py.)

Column mapping: reads project by FIELD-ID (spec §Column Projection) —
a foreign engine's rename (metadata-only edit, ids preserved) reads
correctly: files are grouped by their writing snapshot's schema and a
renamed group scans under its own names, aliased to the read schema's
by id (partitioned tables too since r8 — partition values inject
under the writing schema's source names); ids the writing schema
lacks scan as NULL (the added-column rule); same-id type changes
widen through the spec's safe promotions (int->long, float->double,
decimal precision). Remaining documented boundaries: top-level fields
only (nested renames); bounds-based skipping is id-keyed and was
always rename-safe.
"""

from __future__ import annotations

import json
import os
import re as _re_mod
import time
import urllib.parse
import uuid
from functools import reduce
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkstreamingtwitter_presidential_spark.sources._fs import put_if_absent
from sparkstreamingtwitter_presidential_spark.sources.avro import (
    read_container,
    write_container,
)
from sparkstreamingtwitter_presidential_spark.sources.changefeed import (
    derive,
    empty_feed,
    insert_rows,
    range_union,
    require_keys,
)
from sparkstreamingtwitter_presidential_spark.sources import partition_scan
from sparkstreamingtwitter_presidential_spark.sources.partition_scan import (
    _norm_path,
    _norm_path_col,
)
from sparkstreamingtwitter_presidential_spark.sources.row_dml import (
    affected_files,
    check_merge,
    check_set,
    cow_delete,
    cow_merge,
    cow_update,
)

_METADATA_DIR = "metadata"
_DATA_DIR = "data"
# _read_files(with_path_pos=True) pseudo-columns: NORMALIZED full file
# path + in-file row position (the DV-DML / row-lineage probe shape)
_ABS_PATH_COL = "__dv_path"
_POS_COL = "__dv_pos"
_VERSION_HINT = "version-hint.text"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_FILE_COL = "__iceberg_file"


class IcebergCommitConflict(RuntimeError):
    """Another writer claimed the next metadata version (the
    put-if-absent lost). Re-read and re-derive, as with Delta."""


# ---------------------------------------------------------------- types

_PRIMITIVES: list[tuple[type, str]] = [
    (T.BooleanType, "boolean"),
    (T.IntegerType, "int"),
    (T.LongType, "long"),
    (T.FloatType, "float"),
    (T.DoubleType, "double"),
    (T.DateType, "date"),
    (T.StringType, "string"),
    (T.BinaryType, "binary"),
]


def _spark_to_iceberg_type(dt: T.DataType, next_id) -> Any:
    for spark_t, ice_t in _PRIMITIVES:
        if isinstance(dt, spark_t):
            return ice_t
    if isinstance(dt, T.TimestampType):
        return "timestamptz"  # Spark TIMESTAMP is UTC-normalized
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.ArrayType):
        return {
            "type": "list",
            "element-id": next_id(),
            "element": _spark_to_iceberg_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        return {
            "type": "map",
            "key-id": next_id(),
            "key": _spark_to_iceberg_type(dt.keyType, next_id),
            "value-id": next_id(),
            "value": _spark_to_iceberg_type(dt.valueType, next_id),
            "value-required": not dt.valueContainsNull,
        }
    if isinstance(dt, T.StructType):
        return {
            "type": "struct",
            "fields": [
                {
                    "id": next_id(),
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _spark_to_iceberg_type(f.dataType, next_id),
                }
                for f in dt.fields
            ],
        }
    raise NotImplementedError(
        f"iceberg source supports boolean/int/long/float/double/date/"
        f"timestamp/string/binary/list/map/struct columns; got "
        f"{dt.simpleString()}"
    )


def _iceberg_to_spark_type(t: Any) -> T.DataType:
    rev = {ice: spark for spark, ice in _PRIMITIVES}
    if isinstance(t, str):
        if t in rev:
            return rev[t]()
        if t == "timestamptz":
            return T.TimestampType()
        if t == "timestamp":
            return T.TimestampNTZType()
        raise NotImplementedError(f"unsupported iceberg type {t!r}")
    if isinstance(t, dict) and t.get("type") == "list":
        return T.ArrayType(
            _iceberg_to_spark_type(t["element"]),
            containsNull=not t.get("element-required", False),
        )
    if isinstance(t, dict) and t.get("type") == "map":
        return T.MapType(
            _iceberg_to_spark_type(t["key"]),
            _iceberg_to_spark_type(t["value"]),
            valueContainsNull=not t.get("value-required", False),
        )
    if isinstance(t, dict) and t.get("type") == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    _iceberg_to_spark_type(f["type"]),
                    nullable=not f.get("required", False),
                )
                for f in t["fields"]
            ]
        )
    raise NotImplementedError(f"unsupported iceberg type {t!r}")


def _schema_to_iceberg(schema: T.StructType) -> tuple[dict, int]:
    counter = {"v": 0}

    def next_id() -> int:
        counter["v"] += 1
        return counter["v"]

    fields = []
    for f in schema.fields:
        fid = next_id()
        fields.append(
            {
                "id": fid,
                "name": f.name,
                "required": not f.nullable,
                "type": _spark_to_iceberg_type(f.dataType, next_id),
            }
        )
    return (
        {"type": "struct", "schema-id": 0, "fields": fields},
        counter["v"],
    )


def _schema_to_spark(ice_schema: dict) -> T.StructType:
    return T.StructType(
        [
            T.StructField(
                f["name"],
                _iceberg_to_spark_type(f["type"]),
                nullable=not f.get("required", False),
            )
            for f in ice_schema["fields"]
        ]
    )


# ------------------------------------------------- partition spec (identity)
# Identity transforms over int/long/string/date sources. Partition
# tuples are spec-serialized into each manifest entry's data_file
# record (field r102 typed per the spec's "Partition struct" rule:
# one field per spec field, ids from the spec). Values live ONLY in
# the manifests + hive-style staging dirs — data files omit the
# source columns (partitionBy staging), and reads inject them back
# from the manifest tuple, the spec's identity-transform allowance.

_PART_TYPES = ("int", "long", "string", "date")
_PART_AVRO = {"int": "int", "long": "long", "string": "string", "date": "int"}

from datetime import date as _date, datetime as _dt
from datetime import timedelta as _timedelta, timezone as _tz

_EPOCH_DATE = _date(1970, 1, 1)


def _spec_fields_by_id(meta: dict, spec_id: int) -> list[dict]:
    for spec in meta.get("partition-specs", []):
        if spec.get("spec-id") == spec_id:
            return spec.get("fields", [])
    return []


def _default_spec_fields(meta: dict) -> list[dict]:
    return _spec_fields_by_id(meta, meta.get("default-spec-id", 0))


# Transform support (Iceberg spec §Partition Transforms): identity
# plus the standard non-identity transforms. Stored partition values
# use the spec's result types (temporal transforms and bucket store
# int ordinals/hashes; truncate stores the source type). Source
# columns of NON-identity transforms stay IN the data files (the spec
# requires it — only identity values may be reconstructed from the
# tuple), so reads pass them through and never inject.
_TRANSFORM_RE = _re_mod.compile(
    r"^(identity|day|month|year|hour|void)$"
    r"|^(bucket|truncate)\[(\d+)\]$"
)
# allowed SOURCE types per transform (spec's transform/type matrix,
# restricted to the primitive subset this reader supports end-to-end)
_TRANSFORM_SOURCES = {
    "identity": ("int", "long", "string", "date"),
    "day": ("date", "timestamp", "timestamptz"),
    "month": ("date", "timestamp", "timestamptz"),
    "year": ("date", "timestamp", "timestamptz"),
    "hour": ("timestamp", "timestamptz"),
    "bucket": ("int", "long", "string", "date", "timestamp", "timestamptz"),
    "truncate": ("int", "long", "string"),
}


def _parse_transform(s: str) -> tuple[str, int | None]:
    """'identity' | 'day' | ... | 'bucket[16]' | 'truncate[4]' ->
    (kind, param). Unknown transforms refuse by name."""
    m = _TRANSFORM_RE.match(s or "")
    if m is None:
        raise NotImplementedError(
            f"partition transform {s!r} is not supported by this native "
            "reader (identity/year/month/day/hour/bucket[N]/truncate[W])"
        )
    if m.group(1) is not None:
        return m.group(1), None
    return m.group(2), int(m.group(3))


def _partition_fields(
    meta: dict, ice_schema: dict, spec_id: int | None = None
) -> list[dict]:
    """A partition spec (the DEFAULT one, or ``spec_id``'s — r12-late,
    for reading mixed-spec tables after partition evolution) resolved
    against ``ice_schema``: one dict per spec field with the partition
    field name/id, the source column's name/type, and the parsed
    transform (kind + param) with its stored result type.
    Identity/year/month/day/hour/bucket[N]/truncate[W] over the
    supported primitive subset only — anything else refuses by name
    (never wrong rows). `void` refuses: its always-null tuples carry
    no information and this reader's null handling assumes real
    values."""
    by_id = {f["id"]: f for f in ice_schema["fields"]}
    out = []
    spec_fields = (
        _default_spec_fields(meta)
        if spec_id is None
        else _spec_fields_by_id(meta, spec_id)
    )
    for pf in spec_fields:
        kind, param = _parse_transform(pf.get("transform"))
        if kind == "void":
            raise NotImplementedError(
                "void partition transform is not supported"
            )
        src = by_id.get(pf["source-id"])
        allowed = _TRANSFORM_SOURCES[kind]
        if (
            src is None
            or not isinstance(src["type"], str)
            or src["type"] not in allowed
        ):
            raise NotImplementedError(
                f"partition source field {pf.get('source-id')} of "
                f"transform {pf.get('transform')!r} must be a top-level "
                f"{'/'.join(allowed)} column"
            )
        if kind in ("day", "month", "year", "hour", "bucket"):
            result_type = "int"
        else:  # identity, truncate keep the source type
            result_type = src["type"]
        out.append(
            {
                "name": pf["name"],
                "field_id": pf["field-id"],
                "source_id": pf["source-id"],
                "source_name": src["name"],
                "type": src["type"],
                "transform": kind,
                "param": param,
                "result_type": result_type,
            }
        )
    return out


def _identity_fields(part_fields: list[dict]) -> list[dict]:
    return [pf for pf in part_fields if pf["transform"] == "identity"]


def _hive_to_avro_partition(ice_type: str, s: str) -> Any:
    """One hive dir-name value (already unquoted) -> the manifest's
    avro-stored partition value (dates as epoch days, the spec's
    storage type)."""
    if ice_type in ("int", "long"):
        return int(s)
    if ice_type == "date":
        return (_date.fromisoformat(s) - _EPOCH_DATE).days
    return s


def _avro_partition_to_python(ice_type: str, v: Any) -> Any:
    """Manifest-stored partition value -> the python literal injected
    into the scan (F.lit)."""
    if v is None:
        return None
    if ice_type == "date":
        return _EPOCH_DATE + _timedelta(days=int(v))
    return v


def _murmur3_32(data: bytes) -> int:
    """Murmur3 x86 32-bit, seed 0 — the spec's bucket-transform hash
    (Appendix B). Pure python over the public algorithm; partition
    tuples are metadata-sized, so this runs driver-side on bounds and
    bucket values only (row-level bucketing is vectorized numpy in
    _bucket_micros_np). Returns the UNSIGNED 32-bit value."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = 0
    n = len(data) // 4 * 4
    for i in range(0, n, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n:]
    k = 0
    if len(tail) == 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


_EPOCH_DT = _dt(1970, 1, 1, tzinfo=_tz.utc)


def _py_micros(v: Any) -> int:
    """datetime -> exact epoch micros (naive treated as UTC — iceberg
    'timestamp' transforms apply to the wall-clock value). Integer
    arithmetic, no float rounding."""
    ref = v if v.tzinfo is not None else v.replace(tzinfo=_tz.utc)
    d = ref - _EPOCH_DT
    return d.days * 86_400_000_000 + d.seconds * 1_000_000 + d.microseconds


def _bucket_value(ice_type: str, v: Any, n: int) -> int:
    """bucket[n] of a python source value, spec Appendix B: murmur3 of
    the canonical byte form (ints/longs/dates/timestamps as 8-byte
    little-endian longs, strings as UTF-8), then (hash & MAX_INT) % n."""
    if ice_type == "string":
        data = v.encode("utf-8")
    else:
        if ice_type == "date" and isinstance(v, _date) and not isinstance(v, _dt):
            lv = (v - _EPOCH_DATE).days
        elif ice_type in ("timestamp", "timestamptz") and isinstance(v, _dt):
            lv = _py_micros(v)
        else:
            lv = int(v)
        data = lv.to_bytes(8, "little", signed=True)
    return (_murmur3_32(data) & 0x7FFFFFFF) % n


def _transform_python(pf: dict, v: Any) -> Any:
    """Apply the spec transform to one python SOURCE value (int, str,
    date, datetime) -> the stored partition value. Used for pruning
    (bounds land in transform space) and the driver-side staging
    verification. Temporal transforms floor toward negative infinity
    like the spec; datetimes are UTC-normalized via _py_micros."""
    if v is None:
        return None
    kind, w = pf["transform"], pf["param"]
    if kind == "identity":
        return v
    if kind == "bucket":
        return _bucket_value(pf["type"], v, w)
    if kind == "truncate":
        if pf["type"] == "string":
            return v[:w]
        return int(v) - (int(v) % w)  # python % is non-negative for w>0
    # temporal: normalize to a date (UTC) / micros first
    if isinstance(v, _dt):
        micros = _py_micros(v)
        if kind == "hour":
            return micros // 3_600_000_000
        days = micros // 86_400_000_000
    elif isinstance(v, _date):
        if kind == "hour":
            days = (v - _EPOCH_DATE).days
            return days * 24
        days = (v - _EPOCH_DATE).days
    else:
        raise TypeError(f"{kind} transform needs a date/datetime bound")
    if kind == "day":
        return days
    d = _EPOCH_DATE + _timedelta(days=days)
    if kind == "year":
        return d.year - 1970
    return (d.year - 1970) * 12 + (d.month - 1)  # month


def _bucket_micros_np(vals, n: int):
    """Vectorized murmur3-x86-32 over an int64 numpy array serialized
    as 8-byte little-endian (the canonical form shared by long / date /
    timestamp bucket inputs) -> bucket ordinals. 8-byte input = exactly
    two 4-byte blocks + empty tail, so the whole hash is branch-free
    uint32 numpy ops — the write-side row path stays vectorized."""
    import numpy as np

    u = np.asarray(vals, dtype=np.int64).view(np.uint64)
    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    h = np.zeros(len(u), dtype=np.uint32)
    with np.errstate(over="ignore"):
        for blk in (
            (u & np.uint64(0xFFFFFFFF)).astype(np.uint32),
            (u >> np.uint64(32)).astype(np.uint32),
        ):
            k = blk * c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * c2
            h ^= k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(8)  # len(data)
        h ^= h >> np.uint32(16)
        h = h * np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h = h * np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return (h & np.uint32(0x7FFFFFFF)) % np.uint32(n)


def _transform_col(pf: dict, col):
    """The staging-time Spark Column computing pf's transform over the
    source column — JVM built-ins for everything except bucket, which
    is an Arrow-batched pandas_udf (vectorized numpy for long-shaped
    inputs, per-row murmur3 only for strings). TimestampNTZ values
    reduce to their literal wall-clock micros via pure calendar
    arithmetic (see micros()), so no session-zone input is needed."""
    kind, w = pf["transform"], pf["param"]
    t = pf["type"]

    def micros():
        if t == "timestamp":
            # NTZ: the transform applies to the literal WALL CLOCK.
            # Pure calendar arithmetic — any cast through TimestampType
            # would detour via the session zone and shift the value
            # (verified against a non-UTC session in the test suite).
            return (
                F.unix_date(F.to_date(col)).cast("long")
                * F.lit(86_400_000_000).cast("long")
                + F.hour(col).cast("long") * F.lit(3_600_000_000).cast("long")
                + F.minute(col).cast("long") * F.lit(60_000_000).cast("long")
                + (
                    F.date_part(F.lit("SECOND"), col) * F.lit(1_000_000)
                ).cast("long")
            )
        return F.unix_micros(col)

    if kind == "truncate":
        if t == "string":
            return F.substring(col, 1, w)
        return (col - F.pmod(col, F.lit(w))).cast(
            "int" if t == "int" else "long"
        )
    if kind == "bucket":
        from pyspark.sql.functions import pandas_udf

        if t == "string":

            @pandas_udf("int")
            def _b(s):
                import pandas as pd

                return pd.Series(
                    [
                        None
                        if v is None
                        else (_murmur3_32(v.encode("utf-8")) & 0x7FFFFFFF) % w
                        for v in s
                    ],
                    dtype="Int32",
                )

            return _b(col)

        @pandas_udf("int")
        def _b(s):
            import pandas as pd

            mask = s.notna()
            out = pd.Series([None] * len(s), dtype="Int32")
            if mask.any():
                out[mask] = _bucket_micros_np(
                    s[mask].to_numpy(dtype="int64"), w
                ).astype("int32")
            return out

        if t == "date":
            return _b(F.datediff(col, F.lit("1970-01-01")).cast("long"))
        if t in ("timestamp", "timestamptz"):
            return _b(micros())
        return _b(col.cast("long"))
    # temporal transforms
    if t == "date":
        days = F.datediff(col, F.lit("1970-01-01"))
        if kind == "day":
            return days
        if kind == "hour":
            return days * F.lit(24)
        if kind == "year":
            return F.year(col) - F.lit(1970)
        return (F.year(col) - F.lit(1970)) * F.lit(12) + F.month(col) - F.lit(1)
    m = micros()
    if kind == "hour":
        return F.floor(m / F.lit(3_600_000_000)).cast("int")
    days = F.floor(m / F.lit(86_400_000_000)).cast("int")
    if kind == "day":
        return days
    d = F.date_from_unix_date(days)
    if kind == "year":
        return F.year(d) - F.lit(1970)
    return (F.year(d) - F.lit(1970)) * F.lit(12) + F.month(d) - F.lit(1)


def _manifest_entry_schema(
    part_fields: list[dict], dv_refs: bool = False
) -> dict:
    """The manifest avro schema with the partition record (r102) typed
    for the table's spec — empty for unpartitioned tables, one
    nullable field per partition field typed by the transform's RESULT
    type (identity/truncate keep the source type; temporal and bucket
    transforms store ints). ``dv_refs`` extends the data_file struct
    with the v3 deletion-vector reference fields (spec field-ids
    143/144/145: referenced_data_file / content_offset /
    content_size_in_bytes) — used by DELETE manifests carrying Puffin
    DV entries; nullable, so mixed manifests (equality deletes beside
    DVs) serialize with nulls for the non-DV entries."""
    r102_fields = [
        {
            "name": pf["name"],
            "type": ["null", _PART_AVRO[pf["result_type"]]],
            "field-id": pf["field_id"],
        }
        for pf in part_fields
    ]
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "field-id": 3,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "field-id": 4,
            },
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int", "field-id": 134},
                        {
                            "name": "file_path",
                            "type": "string",
                            "field-id": 100,
                        },
                        {
                            "name": "file_format",
                            "type": "string",
                            "field-id": 101,
                        },
                        {
                            "name": "partition",
                            "field-id": 102,
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": r102_fields,
                            },
                        },
                        {
                            "name": "record_count",
                            "type": "long",
                            "field-id": 103,
                        },
                        {
                            "name": "file_size_in_bytes",
                            "type": "long",
                            "field-id": 104,
                        },
                        {
                            "name": "lower_bounds",
                            "type": _bounds_type("k126_v127"),
                            "field-id": 125,
                        },
                        {
                            "name": "upper_bounds",
                            "type": _bounds_type("k129_v130"),
                            "field-id": 128,
                        },
                        {
                            # spec: field ids of the equality columns
                            # of an equality delete file (content=2);
                            # null for data and position-delete files
                            "name": "equality_ids",
                            "type": ["null", {"type": "array", "items": "int"}],
                            "field-id": 135,
                        },
                        {
                            # spec: the sort order the file was written
                            # under (r11); null = unsorted/unknown
                            "name": "sort_order_id",
                            "type": ["null", "int"],
                            "field-id": 140,
                        },
                        {
                            # v3 row lineage (spec §First Row ID
                            # Inheritance): the first _row_id assigned
                            # to this file's rows. Writers leave it
                            # null on ADDED files (readers inherit
                            # from the manifest's first_row_id) but
                            # MUST write the already-assigned value
                            # explicitly when re-staging an entry into
                            # a NEW manifest (EXISTING/DELETED) so a
                            # file's row ids survive manifest rewrites
                            # (r12, the r11-advice durability fix).
                            "name": "first_row_id",
                            "type": ["null", "long"],
                            "field-id": 142,
                        },
                    ]
                    + (
                        [
                            {
                                "name": "referenced_data_file",
                                "type": ["null", "string"],
                                "field-id": 143,
                            },
                            {
                                "name": "content_offset",
                                "type": ["null", "long"],
                                "field-id": 144,
                            },
                            {
                                "name": "content_size_in_bytes",
                                "type": ["null", "long"],
                                "field-id": 145,
                            },
                        ]
                        if dv_refs
                        else []
                    ),
                },
            },
        ],
    }


# ------------------------------------------------- manifest avro schemas
# Field names and ids follow the spec's manifest-list / manifest-file
# tables; optional stats/summary columns are omitted (spec-legal: they
# are optional fields) to keep the subset honest and small.

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        # v3 row lineage: the first _row_id assigned to rows of this
        # manifest's ADDED files (spec manifest-list table, first-row-id).
        # Null on v2 manifests and on DELETE manifests (deletes assign
        # no row ids); carried-forward manifests keep their original
        # value so append-only lineage stays stable across commits.
        {"name": "first_row_id", "type": ["null", "long"], "field-id": 520},
    ],
}

def _bounds_type(kv_name: str) -> list:
    """The spec's k/v-map encoding for lower/upper bounds: an avro
    array of (key:int field-id, value:bytes single-value-serialized)
    records with logicalType map, nullable."""
    return [
        "null",
        {
            "type": "array",
            "logicalType": "map",
            "items": {
                "type": "record",
                "name": kv_name,
                "fields": [
                    {"name": "key", "type": "int"},
                    {"name": "value", "type": "bytes"},
                ],
            },
        },
    ]


# -------------------------------------------- single-value serialization
# Spec appendix D: bounds are binary single-value serialization keyed by
# field id — int/date 4-byte LE, long/timestamp 8-byte LE, float/double
# IEEE LE, string UTF-8. Types outside this subset record no bounds.

import struct as _struct

_EPOCH_DT = _dt(1970, 1, 1, tzinfo=_tz.utc)
_US = _timedelta(microseconds=1)


def _encode_bound(ice_type: str, v: Any) -> bytes | None:
    try:
        if ice_type == "int":
            return _struct.pack("<i", int(v))
        if ice_type == "long":
            return _struct.pack("<q", int(v))
        if ice_type == "float":
            return _struct.pack("<f", float(v))
        if ice_type == "double":
            return _struct.pack("<d", float(v))
        if ice_type == "string":
            return str(v).encode("utf-8")
        if ice_type in ("timestamp", "timestamptz"):
            if isinstance(v, _dt):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=_tz.utc)
                # integer arithmetic: float .timestamp() has ~0.24 µs
                # resolution at current epochs and int() truncates —
                # a bound 1 µs low would wrongly prune a file whose
                # true max equals a query's lower bound
                us = (v - _EPOCH_DT) // _US
            else:
                us = int(v)
            return _struct.pack("<q", us)
        if ice_type == "date":
            days = (v - _EPOCH_DATE).days if isinstance(v, _date) else int(v)
            return _struct.pack("<i", days)
    except (ValueError, TypeError, OverflowError, _struct.error):
        return None
    return None


def _decode_bound(ice_type: str, b: bytes) -> Any:
    if ice_type == "int":
        return _struct.unpack("<i", b)[0]
    if ice_type == "long":
        return _struct.unpack("<q", b)[0]
    if ice_type == "float":
        return _struct.unpack("<f", b)[0]
    if ice_type == "double":
        return _struct.unpack("<d", b)[0]
    if ice_type == "string":
        return b.decode("utf-8", errors="replace")
    if ice_type in ("timestamp", "timestamptz"):
        return _struct.unpack("<q", b)[0]  # micros since epoch
    if ice_type == "date":
        return _struct.unpack("<i", b)[0]
    return None

_STATUS_EXISTING, _STATUS_ADDED, _STATUS_DELETED = 0, 1, 2


# ---------------------------------------------------------------- reading


def _metadata_dir(path: str) -> str:
    return os.path.join(path, _METADATA_DIR)


def _current_metadata_version(path: str) -> int:
    """The hint file when fresh, else the listing (the spec's stated
    recovery path for Hadoop-catalog tables with a stale hint)."""
    md = _metadata_dir(path)
    if not os.path.isdir(md):
        raise FileNotFoundError(f"not an Iceberg table (no metadata/): {path}")
    versions = [
        int(n[1:].split(".")[0])
        for n in os.listdir(md)
        if n.startswith("v") and n.endswith(".metadata.json")
    ]
    if not versions:
        raise FileNotFoundError(f"no metadata versions under {md}")
    hint_file = os.path.join(md, _VERSION_HINT)
    try:
        with open(hint_file, encoding="utf-8") as fh:
            hint = int(fh.read().strip())
        if hint in versions:
            return max(hint, max(versions))
    except (OSError, ValueError):
        pass
    return max(versions)


def _load_metadata(path: str) -> dict:
    v = _current_metadata_version(path)
    with open(
        os.path.join(_metadata_dir(path), f"v{v}.metadata.json"),
        encoding="utf-8",
    ) as fh:
        meta = json.load(fh)
    fv = meta.get("format-version", 1)
    if fv > 3:
        raise NotImplementedError(
            f"iceberg format-version {fv} > 3 not supported by this "
            "native reader"
        )
    if fv == 3:
        _refuse_v3_unsupported(meta)
    meta["_loaded_version"] = v
    return meta


def _refuse_v3_unsupported(meta: dict) -> None:
    """Format-version 3 READS are supported (r10) for the shapes this
    engine can serve exactly: snapshot scans, Puffin deletion vectors,
    and the v2-carried surfaces. Column DEFAULT VALUES are APPLIED
    since r11 (primitives; structs r12, lists/maps r12-late): a
    top-level field's ``initial-default`` injects as a typed constant
    for file groups written before the column existed (_read_entries_projected — the same mechanism as
    partition-value injection); ``write-default`` is a writer-side
    rule this engine never consults (its own writers always provide
    every column). v3 features that would make a read WRONG if
    ignored refuse by NAME here:

    * ``initial-default`` on a NESTED field or an undecodable
      default value — refuse rather than misread.

    Row lineage metadata (``next-row-id``, ``first-row-id``) is
    ACCEPTED: it adds provenance columns this engine does not expose,
    and ignoring it cannot change a snapshot read's rows. New v3 types
    (timestamp_ns, variant, geometry, unknown) refuse naturally in
    _iceberg_to_spark_type when a schema carries one. WRITES to v3
    tables are first-class since r11 (_commit_snapshot maintains the
    lineage bookkeeping; iceberg_dv holds the Puffin-DV DML family)."""
    def _walk(fields: list, top: bool) -> None:
        for f in fields:
            if "initial-default" in f:
                t = f.get("type")
                complex_typed = isinstance(t, dict) and t.get("type") in (
                    "struct",
                    "list",
                    "map",
                )
                if not top or not (isinstance(t, str) or complex_typed):
                    raise NotImplementedError(
                        f"v3 field {f.get('name')!r} declares an "
                        "initial-default on a nested field; this "
                        "reader applies top-level defaults only "
                        "(primitive, struct, list, map) — refusing "
                        "rather than reading NULLs where the spec "
                        "says the default"
                    )
                # decodability gate up front (refuse at metadata load,
                # not mid-scan): the read path injects this literal
                _decode_default(t, f["initial-default"], f["name"])
            t = f.get("type")
            # defaults can live on NESTED struct/list/map fields too
            if isinstance(t, dict):
                if t.get("type") == "struct":
                    _walk(t.get("fields", []), False)
                for child in ("element", "value", "key"):
                    c = t.get(child)
                    if isinstance(c, dict) and c.get("type") == "struct":
                        _walk(c.get("fields", []), False)

    for s in meta.get("schemas", []):
        _walk(s.get("fields", []), True)


def _decode_default(ice_type: Any, v: Any, name: str) -> Any:
    """Decode a v3 default's single-value JSON serialization (spec
    §JSON single-value serialization) into the Python literal the scan
    injects. Primitives of the supported subset, plus STRUCTS (r12 —
    the spec serializes a struct default as a JSON object keyed by
    FIELD ID, values recursively single-value-serialized; absent keys
    read the spec's null): a struct decodes to a {field name: literal}
    dict that _default_literal turns into a typed struct constant.
    Anything else refuses by name."""
    import base64
    import datetime as _dt

    if isinstance(ice_type, dict) and ice_type.get("type") == "list":
        # spec: a list default serializes as a JSON array of element
        # single-values; a JSON null element reads as null (legal only
        # for an optional element, which the cast normalizes)
        if not isinstance(v, list):
            raise NotImplementedError(
                f"v3 list default for field {name!r} is not a JSON "
                f"array: {v!r}"
            )
        return [
            _decode_default(ice_type["element"], e, f"{name}[{i}]")
            if e is not None
            else None
            for i, e in enumerate(v)
        ]
    if isinstance(ice_type, dict) and ice_type.get("type") == "map":
        # spec: a map default serializes as {"keys": [...],
        # "values": [...]} with positionally-paired single-values
        if not (
            isinstance(v, dict)
            and set(v) == {"keys", "values"}
            and isinstance(v["keys"], list)
            and isinstance(v["values"], list)
            and len(v["keys"]) == len(v["values"])
        ):
            raise NotImplementedError(
                f"v3 map default for field {name!r} is not the spec's "
                f"keys/values pair-list object: {v!r}"
            )
        return {
            "keys": [
                _decode_default(ice_type["key"], k, f"{name}.keys[{i}]")
                for i, k in enumerate(v["keys"])
            ],
            "values": [
                _decode_default(
                    ice_type["value"], x, f"{name}.values[{i}]"
                )
                if x is not None
                else None
                for i, x in enumerate(v["values"])
            ],
        }
    if isinstance(ice_type, dict) and ice_type.get("type") == "struct":
        if not isinstance(v, dict):
            raise NotImplementedError(
                f"v3 struct default for field {name!r} is not the "
                f"spec's field-id-keyed JSON object: {v!r}"
            )
        unknown = set(v) - {str(sf["id"]) for sf in ice_type["fields"]}
        if unknown:
            raise NotImplementedError(
                f"v3 struct default for field {name!r} carries "
                f"unknown field ids {sorted(unknown)}"
            )
        return {
            sf["name"]: (
                _decode_default(
                    sf["type"], v[str(sf["id"])], f"{name}.{sf['name']}"
                )
                if v.get(str(sf["id"])) is not None
                else None
            )
            for sf in ice_type["fields"]
        }
    try:
        if ice_type == "boolean" and isinstance(v, bool):
            return v
        if (
            ice_type in ("int", "long")
            and isinstance(v, int)
            and not isinstance(v, bool)
        ):
            return v
        if (
            ice_type in ("float", "double")
            and isinstance(v, (int, float))
            and not isinstance(v, bool)
        ):
            return float(v)
        if ice_type == "string" and isinstance(v, str):
            return v
        if ice_type == "date" and isinstance(v, str):
            return _dt.date.fromisoformat(v)
        if ice_type in ("timestamp", "timestamptz") and isinstance(v, str):
            return _dt.datetime.fromisoformat(v)
        if ice_type == "binary" and isinstance(v, str):
            return base64.b16decode(v, casefold=True)
    except ValueError as exc:
        raise NotImplementedError(
            f"v3 default for field {name!r} does not decode as "
            f"{ice_type}: {v!r} ({exc})"
        ) from None
    raise NotImplementedError(
        f"v3 default for field {name!r}: unsupported (type, value) "
        f"shape ({ice_type!r}, {v!r})"
    )


def _default_literal(ice_type: Any, v: Any, name: str):
    """The injectable Column for a decoded v3 default: primitives are
    plain literals; STRUCTS (r12) build a typed struct constant
    field-by-field (F.struct of per-field literals — nested structs
    recurse), absent/null fields reading as typed NULLs. The caller
    casts to the read-schema type, which normalizes nullability."""
    if isinstance(ice_type, dict) and ice_type.get("type") == "list":
        _decode_default(ice_type, v, name)  # shape gate, refuses by name
        el_t = _iceberg_to_spark_type(ice_type["element"])
        return F.array(
            *[
                (
                    _default_literal(
                        ice_type["element"], e, f"{name}[{i}]"
                    )
                    if e is not None
                    else F.lit(None)
                ).cast(el_t)
                for i, e in enumerate(v)
            ]
        )
    if isinstance(ice_type, dict) and ice_type.get("type") == "map":
        _decode_default(ice_type, v, name)  # shape gate, refuses by name
        k_t = _iceberg_to_spark_type(ice_type["key"])
        v_t = _iceberg_to_spark_type(ice_type["value"])
        return F.map_from_arrays(
            F.array(
                *[
                    _default_literal(
                        ice_type["key"], k, f"{name}.keys[{i}]"
                    ).cast(k_t)
                    for i, k in enumerate(v["keys"])
                ]
            ),
            F.array(
                *[
                    (
                        _default_literal(
                            ice_type["value"], x, f"{name}.values[{i}]"
                        )
                        if x is not None
                        else F.lit(None)
                    ).cast(v_t)
                    for i, x in enumerate(v["values"])
                ]
            ),
        )
    if isinstance(ice_type, dict) and ice_type.get("type") == "struct":
        _decode_default(ice_type, v, name)  # shape gate, refuses by name
        cols = []
        for sf in ice_type["fields"]:
            sv = v.get(str(sf["id"]))
            inner = (
                _default_literal(sf["type"], sv, f"{name}.{sf['name']}")
                if sv is not None
                else F.lit(None)
            )
            cols.append(
                inner.cast(_iceberg_to_spark_type(sf["type"])).alias(
                    sf["name"]
                )
            )
        return F.struct(*cols)
    return F.lit(_decode_default(ice_type, v, name))


def _schema_for(meta: dict, schema_id: int) -> dict:
    return next(
        s for s in meta["schemas"] if s.get("schema-id", 0) == schema_id
    )


def _snapshot(meta: dict, snapshot_id: int | None) -> dict:
    snaps = meta.get("snapshots", [])
    if snapshot_id is None:
        cur = meta.get("current-snapshot-id")
        if cur is None or cur == -1:
            raise ValueError("table has no current snapshot (empty table)")
        snapshot_id = cur
    for s in snaps:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise ValueError(
        f"snapshot {snapshot_id} does not exist "
        f"(have {[s['snapshot-id'] for s in snaps]})"
    )


def _entries_and_deletes_for_snapshot(
    path: str, snap: dict
) -> tuple[list[dict], list[dict]]:
    """Walk manifest-list -> manifests -> LIVE entries (ADDED/EXISTING;
    DELETED rows are gone from this snapshot), with the spec's metadata
    inheritance resolved: a null entry snapshot-id / sequence-number
    inherits the manifest's. Returns (data entries, row-level-delete
    entries) — delete manifests (content=1 in the manifest list)
    carrying POSITION (content=1) or EQUALITY (content=2) delete files
    are collected for the read path to apply (_row_delete_filter).
    Each dict carries status, snapshot_id, sequence_number,
    file_sequence_number, data_file.

    v3 ROW LINEAGE (r12): resolution IS assignment — each live DATA
    entry's ``data_file['first_row_id']`` is resolved to the file's
    ASSIGNED first row id exactly as a v3 reader does (spec §First Row
    ID Inheritance): an explicit value is used as-is; a null value
    under a manifest with non-null ``first_row_id`` inherits the
    manifest's base plus the record counts of the PRECEDING null-id
    live files in the manifest; null under a null-base manifest stays
    null (pre-lineage history reads NULL ``_row_id``). Because commits
    re-serialize these same dicts, an EXISTING/DELETED entry rewritten
    into a new manifest automatically carries its original id
    EXPLICITLY — what keeps ``_row_id`` durable across CoW DML and
    full-file-drop DV commits (the r11-advice finding)."""
    _, _, manifests = read_container(snap["manifest-list"])
    out: list[dict] = []
    dels: list[dict] = []
    for m in manifests:
        _, _, entries = read_container(m["manifest_path"])
        lineage_base = m.get("first_row_id") if m["content"] == 0 else None
        lineage_cum = 0
        for e in entries:
            if e["status"] == _STATUS_DELETED:
                continue
            df = e["data_file"]
            if m["content"] == 0 and df.get("first_row_id") is None:
                if lineage_base is not None:
                    df["first_row_id"] = lineage_base + lineage_cum
                    lineage_cum += int(df["record_count"])
            if m["content"] == 0 and df["content"] != 0:
                raise NotImplementedError(
                    "delete file inside a DATA manifest (spec violation); "
                    "refusing rather than guessing"
                )
            if m["content"] != 0 and df["content"] not in (1, 2):
                raise NotImplementedError(
                    f"unknown delete-file content {df['content']!r}"
                )
            if df["file_format"].upper() == "PUFFIN":
                # v3 deletion vector: a position delete stored as a
                # Puffin deletion-vector-v1 blob scoped to ONE data
                # file named by referenced_data_file (r10)
                if m["content"] == 0 or df["content"] != 1:
                    raise NotImplementedError(
                        "puffin file outside a position-delete entry"
                    )
                if not df.get("referenced_data_file"):
                    raise NotImplementedError(
                        "deletion-vector entry without "
                        "referenced_data_file; refusing rather than "
                        "guessing its scope"
                    )
            elif df["file_format"].upper() != "PARQUET":
                raise NotImplementedError(
                    f"data file format {df['file_format']!r} not supported "
                    "(parquet only)"
                )
            seq = e.get("sequence_number")
            rec = {
                "status": e["status"],
                "snapshot_id": (
                    e.get("snapshot_id")
                    if e.get("snapshot_id") is not None
                    else m["added_snapshot_id"]
                ),
                "sequence_number": (
                    seq if seq is not None else m["sequence_number"]
                ),
                "file_sequence_number": (
                    e.get("file_sequence_number")
                    if e.get("file_sequence_number") is not None
                    else m["sequence_number"]
                ),
                # the MANIFEST's spec id — what partition tuples are
                # keyed by (spec: partition-scoped deletes apply to
                # files of the same spec AND tuple; r10)
                "spec_id": m.get("partition_spec_id", 0),
                "data_file": df,
            }
            (dels if m["content"] != 0 else out).append(rec)
    return out, dels


def _entries_for_snapshot(path: str, snap: dict) -> list[dict]:
    """Data entries of a snapshot for operations that do NOT apply
    row-level deletes (compaction, rewrite_manifests, incremental
    bookkeeping): a table carrying live position deletes REFUSES here
    — scanning its data files without applying the deletes would
    resurrect deleted rows. Plain snapshot reads AND CoW DML (r10,
    _dml_plan) go through _entries_and_deletes_for_snapshot and apply
    the deletes; rewrite_position_deletes folds the backlog for the
    ops that still refuse."""
    entries, dels = _entries_and_deletes_for_snapshot(path, snap)
    if dels:
        raise NotImplementedError(
            "table carries live position-delete files; snapshot reads "
            "and CoW DML apply them — run rewrite_position_deletes "
            "before compaction/maintenance ops"
        )
    return entries


# v3 row-lineage reserved column names (spec §Row Lineage): engines
# MATERIALIZE these into data files when rows are COPIED (CoW DML,
# compaction, DV-DML re-stages) so carried rows keep their identity
# and their last-update attribution; readers prefer a materialized
# value over the first_row_id/position + data-sequence derivation.
_ROW_ID_COL = "_row_id"
_LAST_UPDATED_COL = "_last_updated_sequence_number"


def _lineage_scan_schema(spark_schema: T.StructType) -> T.StructType:
    """The table read schema extended with the two nullable lineage
    columns — parquet fills null where a data file lacks them, so one
    scan covers mixed histories (plain appends beside DML re-stages)."""
    return T.StructType(
        list(spark_schema.fields)
        + [
            T.StructField(_ROW_ID_COL, T.LongType(), True),
            T.StructField(_LAST_UPDATED_COL, T.LongType(), True),
        ]
    )


def _resolve_lineage(
    spark: SparkSession,
    entries: list[dict],
    frame: DataFrame,
) -> DataFrame:
    """Resolve both lineage columns on a lineage-schema scan frame
    carrying the path/position pseudo-columns, exactly as a v3 reader
    does: ``_row_id`` = materialized value, else the file's assigned
    first_row_id (resolved at entry resolution — explicit field 142 or
    manifest inheritance) + in-file position, else NULL (lineage-less
    history). ``_last_updated_sequence_number`` = materialized value,
    else the file's DATA sequence number. (DML paths that MODIFY rows
    null the resolved last-updated at their own select, so the
    re-staged file's data sequence — this commit — derives on read.)
    The id map is manifest metadata — one tiny broadcast row per live
    data file, no shuffle."""
    firsts = [
        (
            _norm_path(e["data_file"]["file_path"]),
            e["data_file"].get("first_row_id"),
            e["sequence_number"],
        )
        for e in entries
    ]
    id_map = F.broadcast(
        spark.createDataFrame(
            firsts, f"{_ABS_PATH_COL} string, __first long, __fseq long"
        )
    )
    lus = F.coalesce(F.col(_LAST_UPDATED_COL), F.col("__fseq"))
    return (
        frame.join(id_map, on=_ABS_PATH_COL, how="left")
        .withColumn(
            _ROW_ID_COL,
            F.coalesce(
                F.col(_ROW_ID_COL), F.col("__first") + F.col(_POS_COL)
            ),
        )
        .withColumn(_LAST_UPDATED_COL, lus)
        .drop("__first", "__fseq")
    )


_PAIRS_DRIVER_MAX = 100_000  # rows; above this the pair build distributes


def _position_delete_pairs(
    spark: SparkSession, entries: list[dict], delete_entries: list[dict]
) -> DataFrame:
    """The (data-file path, row position) pairs the current snapshot's
    position deletes remove, as a DataFrame (__dpath string, __dpos
    long) ready for the scan-side anti-join.

    Spec scoping: a position delete applies to a data file iff the
    delete's data sequence number >= the data file's — enforced here by
    joining each delete row to its delete FILE's sequence (tiny
    broadcast map, one row per delete file) and to the named data
    file's sequence (one row per live data file, also broadcast).
    Rows naming files outside the live set drop out in the join; the
    result's size tracks DELETED ROWS, never the table.

    v3 DELETION VECTORS (r10): a content=1 entry whose file is PUFFIN
    scopes to exactly ONE data file (referenced_data_file), so its seq
    check resolves DRIVER-side against the live-file map — no join.
    Small vectors decode driver-side (deletion-vector-v1 blob at the
    manifest-carried offset/length, CRC-checked); backlogs above the
    budget decode executor-side via the picklable codec, mirroring the
    Delta DV scale path."""
    delete_entries = [
        d for d in delete_entries if d["data_file"]["content"] == 1
    ]
    dvs = [
        d
        for d in delete_entries
        if d["data_file"]["file_format"].upper() == "PUFFIN"
    ]
    pds = [
        d
        for d in delete_entries
        if d["data_file"]["file_format"].upper() != "PUFFIN"
    ]
    eseq_map = {
        _norm_path(e["data_file"]["file_path"]): int(e["sequence_number"])
        for e in entries
    }
    # DV applicability is known here: one referenced file per vector
    dv_jobs: list[tuple[str, int, int, str]] = []
    for d in dvs:
        df_ = d["data_file"]
        np_ = _norm_path(df_["referenced_data_file"])
        es = eseq_map.get(np_)
        if es is not None and int(d["sequence_number"]) >= es:
            dv_jobs.append(
                (
                    df_["file_path"],
                    int(df_["content_offset"]),
                    int(df_["content_size_in_bytes"]),
                    np_,
                )
            )
    # small delete sets (the CDC steady state; size known for free
    # from the manifests' record_count) build driver-side via pyarrow
    # into a LocalRelation: no distributed sub-plan, no per-read scan
    # jobs, and the anti-join's build side is trivially broadcastable.
    # Large backlogs take the distributed path below — the signal to
    # run rewrite_position_deletes anyway.
    total = sum(int(d["data_file"]["record_count"]) for d in delete_entries)
    if total <= _PAIRS_DRIVER_MAX:
        import pyarrow.parquet as pq

        from sparkstreamingtwitter_presidential_spark.sources.puffin import (
            deserialize_dv_blob,
            read_blob,
        )

        rows: list[tuple[str, int]] = []
        for d in pds:
            ds = int(d["sequence_number"])
            t = pq.read_table(
                d["data_file"]["file_path"], columns=["file_path", "pos"]
            )
            for p, pos in zip(
                t.column("file_path").to_pylist(),
                t.column("pos").to_pylist(),
            ):
                np_ = _norm_path(p)
                es = eseq_map.get(np_)
                if es is not None and ds >= es:
                    rows.append((np_, int(pos)))
        for fpath, off, size, np_ in dv_jobs:
            for pos in deserialize_dv_blob(read_blob(fpath, off, size)):
                rows.append((np_, int(pos)))
        # explicitly broadcast: the driver path is BOUNDED by
        # _PAIRS_DRIVER_MAX (a few MB at most), and createDataFrame is
        # RDD-backed (no size stats), so without the hint the static
        # planner falls back to a full SortMergeJoin of the table
        return F.broadcast(
            spark.createDataFrame(rows, "__dpath string, __dpos long")
        )
    frames: list[DataFrame] = []
    if pds:
        dmap = [
            (_norm_path(d["data_file"]["file_path"]), int(d["sequence_number"]))
            for d in pds
        ]
        emap = [
            (_norm_path(e["data_file"]["file_path"]), int(e["sequence_number"]))
            for e in entries
        ]
        dseq = F.broadcast(
            spark.createDataFrame(dmap, "__dfile string, __dseq long")
        )
        eseq = F.broadcast(
            spark.createDataFrame(emap, "__efile string, __eseq long")
        )
        raw = spark.read.schema("file_path string, pos long").parquet(
            *sorted({d["data_file"]["file_path"] for d in pds})
        )
        raw = raw.select(
            _norm_path_col(F.col("file_path")).alias("__dpath"),
            F.col("pos").alias("__dpos"),
            _norm_path_col(F.col("_metadata.file_path")).alias("__dfile"),
        )
        # no distinct: duplicate pairs (re-deleted rows, overlapping
        # delete files) are harmless under the left_anti application,
        # and the dedup would cost a full shuffle of the pair set
        frames.append(
            raw.join(dseq, "__dfile")
            .join(eseq, F.col("__dpath") == F.col("__efile"))
            .filter(F.col("__dseq") >= F.col("__eseq"))
            .select("__dpath", "__dpos")
        )
    if dv_jobs:

        def _decode(job):
            from sparkstreamingtwitter_presidential_spark.sources.puffin import (
                deserialize_dv_blob as _dsb,
                read_blob as _rb,
            )

            fpath, off, size, np_ = job
            for pos in _dsb(_rb(fpath, off, size)):
                yield (np_, int(pos))

        n_slices = max(1, min(len(dv_jobs), 256))
        frames.append(
            spark.createDataFrame(
                spark.sparkContext.parallelize(dv_jobs, n_slices).flatMap(
                    _decode
                ),
                "__dpath string, __dpos long",
            )
        )
    if not frames:
        # every content=1 entry was inapplicable (e.g. dangling DVs
        # whose referenced files left the live set) — empty pair frame,
        # not a reduce() crash
        return spark.createDataFrame([], "__dpath string, __dpos long")
    if len(frames) == 1:
        return frames[0]
    from functools import reduce as _reduce

    return _reduce(DataFrame.unionByName, frames)


def _part_key(part: dict | None, spec_id: int) -> str:
    """Deterministic, bytes-safe encoding of (spec id, partition
    record) for the spec's tuple-equality rule — both sides come from
    the same avro manifest machinery, so raw-value repr compares
    exactly; the spec id disambiguates tuples written under EVOLVED
    partition specs. Shared by the equality-delete scan filter and the
    changelog's scoped victim resolution (r11)."""
    return f"{int(spec_id)}|{sorted((part or {}).items())!r}"


def _row_delete_filter(
    spark: SparkSession,
    meta: dict,
    entries: list[dict],
    delete_entries: list[dict],
    ice_schema: dict,
    pos_pairs: DataFrame | None = None,
):
    """ONE closure applying every live row-level delete to a RAW scan
    DataFrame (called per scan branch inside _read_files, where the
    `_metadata` pseudo-columns are reachable):

    * POSITION deletes (content=1): anti-join the precomputed
      (path, pos) pairs on (normalized file path, row_index).
    * EQUALITY deletes (content=2): per (equality column set, delete
      file), an eqNullSafe anti-join of the scan against the delete
      file's value rows, scoped by the spec's STRICT rule — a delete
      with sequence s removes only rows of data files with seq < s —
      via a broadcast (file -> sequence) map attached to the scan.
      PARTITION-SCOPED equality deletes (a non-empty partition record,
      the Flink-CDC per-partition shape; r10 — previously a named
      refusal) additionally restrict to data files of the SAME SPEC
      sharing the delete's partition tuple: the broadcast map carries
      each file's (manifest spec id, partition record) and the
      per-delete condition compares it to the delete file's (the
      spec's rule; a tuple of NULLs scopes to the NULL partition, and
      evolved multi-spec tables resolve exactly because both sides'
      spec ids come from their manifests).
      Equality ids resolve against the CURRENT schema and must name
      top-level primitive columns; delete-file columns are read by
      those names (name-based, the same honesty note as the writer's
      missing reserved field-ids). Unsupported shapes refuse by name
      rather than resurrecting or over-deleting rows.

    Cost shape at 100 TB: the pair set and the per-file value frames
    track DELETED ROWS; the seq map tracks live files (metadata-sized,
    broadcast); each application is one anti-join AQE sizes itself.
    ``pos_pairs`` lets a caller that already built the pair frame
    (rewrite_position_deletes' affected-file probe) pass it in instead
    of re-reading every delete file."""
    pos = [d for d in delete_entries if d["data_file"]["content"] == 1]
    eqs = [d for d in delete_entries if d["data_file"]["content"] == 2]
    pairs = (
        pos_pairs
        if pos_pairs is not None
        else (_position_delete_pairs(spark, entries, pos) if pos else None)
    )

    eq_frames: list[tuple[list[str], DataFrame]] = []
    if eqs:
        # equality values resolve by CURRENT names inside the scan;
        # file groups written under a drifted schema scan under their
        # WRITING names (r8 field-id projection), where a current-name
        # lookup would miss — or, on a name-swap rename, silently bind
        # the WRONG column. Refuse the combination.
        _refuse_renamed_files(
            meta, entries, ice_schema, "equality-delete read"
        )
        by_id = {f["id"]: f for f in ice_schema["fields"]}
        emap = [
            (
                _norm_path(e["data_file"]["file_path"]),
                int(e["sequence_number"]),
                _part_key(e["data_file"].get("partition"), e.get("spec_id", 0)),
            )
            for e in entries
        ]
        seq_map = F.broadcast(
            spark.createDataFrame(
                emap, "__eqfile string, __eseq long, __epart string"
            )
        )
        for d in eqs:
            ids = d["data_file"].get("equality_ids") or []
            if not ids:
                raise NotImplementedError(
                    "equality delete file without equality_ids; refusing "
                    "rather than guessing the delete key"
                )
            scope: str | None = None
            if d["data_file"].get("partition") or {}:
                # a NON-EMPTY partition record (any keys at all — a
                # tuple of nulls scopes to the NULL partition, so value
                # nullness proves nothing) is a partition-scoped
                # equality delete (r10): it applies ONLY to data files
                # of the SAME SPEC sharing its partition tuple (the
                # spec's rule; spec ids come from each side's manifest,
                # so evolved multi-spec tables resolve exactly too)
                scope = _part_key(
                    d["data_file"]["partition"], d.get("spec_id", 0)
                )
            psrc = {
                pf["source_id"]
                for pf in _identity_fields(
                    _partition_fields(meta, ice_schema)
                )
            }
            cols = []
            for i in ids:
                f = by_id.get(i)
                if f is None or not isinstance(f["type"], str):
                    raise NotImplementedError(
                        f"equality delete keyed on field id {i} which is "
                        "not a top-level primitive of the current schema"
                    )
                if i in psrc:
                    raise NotImplementedError(
                        f"equality delete keyed on partition source "
                        f"column {f['name']!r}; scan branches inject "
                        "partition values AFTER the delete filter — "
                        "data-column-keyed equality deletes are supported"
                    )
                cols.append(f["name"])
            schema = T.StructType(
                [
                    T.StructField(c, _iceberg_to_spark_type(by_id[i]["type"]))
                    for c, i in zip(cols, ids)
                ]
            )
            vals = (
                spark.read.schema(schema)
                .parquet(d["data_file"]["file_path"])
                .withColumn("__dseq", F.lit(int(d["sequence_number"])))
            )
            eq_frames.append((cols, vals, scope))
    else:
        seq_map = None

    def apply(scan: DataFrame) -> DataFrame:
        # materialize the scan's pseudo-columns BEFORE any join: the
        # pair/value frames are parquet-scan-derived too, so an
        # unresolved `_metadata` reference in a post-join condition
        # would be AMBIGUOUS between the two sides (found by review;
        # reproduced as AMBIGUOUS_REFERENCE on the distributed pair
        # path). After this projection the conditions reference only
        # plain, unambiguous columns of the left side.
        before = scan.columns
        out = scan.withColumn(
            "__scan_path", _norm_path_col(F.col("_metadata.file_path"))
        )
        if pairs is not None:
            out = out.withColumn("__scan_pos", F.col("_metadata.row_index"))
            out = out.join(
                pairs,
                (F.col("__scan_path") == pairs["__dpath"])
                & (F.col("__scan_pos") == pairs["__dpos"]),
                "left_anti",
            )
        if eq_frames:
            out = out.join(
                seq_map,
                F.col("__scan_path") == seq_map["__eqfile"],
                "left",
            )
            for cols, vals, scope in eq_frames:
                cond = F.col("__eseq") < vals["__dseq"]
                if scope is not None:
                    # partition-scoped: only data files sharing the
                    # delete's partition tuple participate
                    cond = cond & (F.col("__epart") == F.lit(scope))
                for c in cols:
                    cond = cond & out[c].eqNullSafe(vals[c])
                out = out.join(vals, cond, "left_anti")
        return out.select(*before)

    return apply


def _file_excluded_by_partition(
    df_entry: dict,
    ranges: dict[str, tuple[Any, Any]],
    part_fields: list[dict],
) -> bool:
    """True iff the file's partition VALUE proves no row can satisfy
    the conjunctive ranges — exact (not advisory): every row in the
    file shares this tuple in transform space. Identity compares the
    value directly; the monotonic transforms (day/month/year/hour,
    truncate) map the user's SOURCE-space bounds through the transform
    (row in [lo,hi] ⇒ T(row) in [T(lo),T(hi)], so a file whose stored
    value falls outside that image can hold no matching row); bucket
    prunes only on EQUALITY bounds (lo == hi ⇒ the row's bucket is
    bucket(lo)) — ranges prove nothing about hash buckets."""
    part = df_entry.get("partition") or {}
    for pf in part_fields:
        rng = ranges.get(pf["source_name"])
        if rng is None:
            continue
        v = part.get(pf["name"])
        if v is None:
            continue
        lo, hi = rng
        kind = pf["transform"]
        if kind == "bucket":
            if lo is None or hi is None or lo != hi:
                continue
            try:
                if _bucket_value(pf["type"], lo, pf["param"]) != v:
                    return True
            except (TypeError, AttributeError):
                continue
            continue
        if kind == "identity":

            def norm(u):
                if u is None:
                    return None
                enc = _encode_bound(
                    "date" if pf["type"] == "date" else pf["type"], u
                )
                return None if enc is None else _decode_bound(pf["type"], enc)

        else:

            def norm(u):
                if u is None:
                    return None
                try:
                    return _transform_python(pf, u)
                except (TypeError, AttributeError):
                    return None

        nlo, nhi = norm(lo), norm(hi)
        try:
            if nlo is not None and v < nlo:
                return True
            if nhi is not None and v > nhi:
                return True
        except TypeError:
            continue  # mixed types prove nothing
    return False


def _file_excluded_by_bounds(
    df_entry: dict,
    ranges: dict[str, tuple[Any, Any]],
    prim: dict[str, tuple[int, str]],
) -> bool:
    """True iff the manifest's per-file bounds PROVE no row satisfies
    the conjunctive ranges (col in [lo, hi]; None = open end).
    Advisory, same contract as delta.file_skips: missing bounds,
    unknown columns, or un-encodable user bounds keep the file —
    skipping may only remove files, never rows a filter would keep."""
    lb = {e["key"]: e["value"] for e in (df_entry.get("lower_bounds") or [])}
    ub = {e["key"]: e["value"] for e in (df_entry.get("upper_bounds") or [])}
    for col, (lo, hi) in ranges.items():
        if col not in prim:
            continue
        fid, typ = prim[col]
        if fid not in lb or fid not in ub:
            continue
        fmin = _decode_bound(typ, lb[fid])
        fmax = _decode_bound(typ, ub[fid])
        # normalize the user bound through the same serialization
        # (datetime -> micros, date -> days); failure keeps the file
        def norm(v):
            if v is None:
                return None
            enc = _encode_bound(typ, v)
            return None if enc is None else _decode_bound(typ, enc)

        nlo, nhi = norm(lo), norm(hi)
        if lo is not None and nlo is None:
            continue
        if hi is not None and nhi is None:
            continue
        try:
            if nhi is not None and fmin > nhi:
                return True
            if nlo is not None and fmax < nlo:
                return True
        except TypeError:
            continue  # mixed types prove nothing
    return False


def _read_files(
    spark: SparkSession,
    files: list[dict],
    spark_schema: T.StructType,
    part_fields: list[dict],
    with_file: bool = False,
    scan_filter: Any | None = None,
    with_path_pos: bool = False,
) -> DataFrame:
    """Distributed scan of ``files`` (data_file dicts, all written under
    the spec ``part_fields`` resolves) under ``spark_schema``: the
    adaptive :func:`partition_scan.scan` over the files grouped by
    IDENTITY partition tuple, manifest values converted to Python
    literals. The spec requires data files to carry the source columns
    of every non-identity transform, so those read like plain data
    columns (a purely transform-partitioned table is one flat scan —
    transform tuples matter to PRUNING, not reconstruction).

    ``with_file`` adds the file's basename column for DML's
    affected-file probe; ``with_path_pos`` adds the NORMALIZED full
    path and in-file row position (the DV DML / row-lineage probe
    shape). ``scan_filter`` (a DataFrame->DataFrame closure built by
    _row_delete_filter) applies v2 row-level deletes to each RAW scan,
    where the `_metadata` pseudo-columns it joins on are reachable."""
    path = F.col("_metadata.file_path")
    tags = []
    if with_file:
        tags.append(F.element_at(F.split(path, "/"), -1).alias(_FILE_COL))
    if with_path_pos:
        tags += [
            _norm_path_col(path).alias(_ABS_PATH_COL),
            F.col("_metadata.row_index").cast("long").alias(_POS_COL),
        ]
    if not files:
        df = spark.createDataFrame([], spark_schema)
        if with_file:
            df = df.withColumn(_FILE_COL, F.lit(None).cast("string"))
        if with_path_pos:
            df = df.withColumn(
                _ABS_PATH_COL, F.lit(None).cast("string")
            ).withColumn(_POS_COL, F.lit(None).cast("long"))
        return df
    idf = _identity_fields(part_fields)
    groups: dict[tuple, list[str]] = {}
    for f in files:
        part = f.get("partition") or {}
        key = tuple(
            _avro_partition_to_python(pf["type"], part.get(pf["name"]))
            for pf in idf
        )
        groups.setdefault(key, []).append(f["file_path"])

    def hook(raw: DataFrame) -> DataFrame:
        out = raw.select("*", *tags) if tags else raw
        return scan_filter(out) if scan_filter is not None else out

    return partition_scan.scan(
        spark, groups, spark_schema, [pf["source_name"] for pf in idf], hook
    )


def snapshot_at_timestamp(path: str, ts: Any) -> int:
    """Resolve timestamp-based time travel: the snapshot CURRENT at
    ``ts`` (datetime — naive treated as UTC — or epoch millis) = the
    latest snapshot-log entry at-or-before it, the real client's
    rule. Raises if the log starts after ``ts``."""
    if isinstance(ts, _dt):
        ref = ts if ts.tzinfo is not None else ts.replace(tzinfo=_tz.utc)
        ts_ms = int(ref.timestamp() * 1000)
    else:
        ts_ms = int(ts)
    meta = _load_metadata(path)
    best = None
    for e in meta.get("snapshot-log", []):
        if e["timestamp-ms"] <= ts_ms and (
            best is None or e["timestamp-ms"] > best["timestamp-ms"]
        ):
            best = e
    if best is None:
        raise ValueError(
            f"no snapshot of {path} at or before the requested "
            "timestamp (the earliest log entry is newer, or history "
            "below it was expired)"
        )
    return best["snapshot-id"]


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    skip_ranges: dict[str, tuple[Any, Any]] | None = None,
    ref: str | None = None,
    timestamp: Any | None = None,
) -> DataFrame:
    """Snapshot read (with time travel by ``snapshot_id``): metadata
    walk driver-side, data scan a plain distributed parquet read over
    exactly the snapshot's live files, with the table schema applied
    (reads stay schema-stable over evolving files, like read_delta).
    Identity-partitioned tables inject partition values from the
    manifest tuples (the spec's identity allowance); see _read_files.

    ``skip_ranges`` ({col: (lo, hi)}, None = open end) prunes files
    BEFORE Spark lists them, composing two metadata-side checks:
    identity-partition values (exact — every row in a file shares the
    tuple) and the manifests' per-file lower/upper column bounds
    (advisory) — the scan planning the real client does, the Iceberg
    twin of read_delta's stats skipping. Files without bounds (older
    manifests, unsupported types) are kept, so skipping never drops
    rows a filter would keep; callers still apply their own filter on
    the result.

    ``ref`` reads at a named TAG or BRANCH (spec v2 `refs`): the name
    resolves to its pinned snapshot-id driver-side; `"main"` is the
    current snapshot. ``timestamp`` (datetime or epoch millis) reads
    the snapshot current at that instant (snapshot_at_timestamp).
    snapshot_id / ref / timestamp are mutually exclusive."""
    if sum(x is not None for x in (snapshot_id, ref, timestamp)) > 1:
        raise ValueError(
            "pass at most one of snapshot_id, ref, timestamp"
        )
    if timestamp is not None:
        snapshot_id = snapshot_at_timestamp(path, timestamp)
    meta = _load_metadata(path)
    if ref is not None:
        snapshot_id = _resolve_ref(meta, ref)
    snap = _snapshot(meta, snapshot_id)
    # a CURRENT read uses the CURRENT schema (a foreign rename bumps
    # current-schema-id without touching old snapshots); time travel
    # reads under the snapshot's own schema — both per the spec
    schema_id = (
        meta.get("current-schema-id", 0)
        if snapshot_id is None
        else snap.get("schema-id", meta.get("current-schema-id", 0))
    )
    ice_schema = _schema_for(meta, schema_id)
    part_fields = _partition_fields(meta, ice_schema)
    spark_schema = _schema_to_spark(ice_schema)
    entries, dels = _entries_and_deletes_for_snapshot(path, snap)
    if skip_ranges:
        prim = {
            f["name"]: (f["id"], f["type"])
            for f in ice_schema["fields"]
            if isinstance(f["type"], str)
        }
        # partition pruning keys on each entry's OWN spec (after
        # partition evolution old files carry old-shaped tuples;
        # pruning them against the default spec's fields would be
        # vacuous at best and wrong at worst)
        _default_spec = meta.get("default-spec-id", 0)
        _pf_cache: dict[int, list[dict]] = {_default_spec: part_fields}

        def _entry_pf(e: dict) -> list[dict]:
            sid = e.get("spec_id", _default_spec)
            if sid not in _pf_cache:
                _pf_cache[sid] = _partition_fields(meta, ice_schema, sid)
            return _pf_cache[sid]

        entries = [
            e
            for e in entries
            if not _file_excluded_by_partition(
                e["data_file"], skip_ranges, _entry_pf(e)
            )
            and not _file_excluded_by_bounds(
                e["data_file"], skip_ranges, prim
            )
        ]
    # v2 row-level deletes: build ONE filter closure per read and
    # apply it inside every scan branch
    flt = (
        _row_delete_filter(spark, meta, entries, dels, ice_schema)
        if dels
        else None
    )
    return _read_entries_projected(
        spark, meta, entries, ice_schema, spark_schema, scan_filter=flt
    )


def _writing_schema_id(meta: dict, entry: dict, default: int) -> int:
    """The schema a data file was written under = its adding snapshot's
    schema-id. An expired adding snapshot (compaction carried the entry
    forward past expiry) falls back to the READ schema — name-based
    projection, the pre-remap behavior."""
    for s in meta.get("snapshots", []):
        if s["snapshot-id"] == entry["snapshot_id"]:
            return s.get("schema-id", default)
    return default


def _read_entries_projected(
    spark: SparkSession,
    meta: dict,
    entries: list[dict],
    ice_schema: dict,
    spark_schema: T.StructType,
    scan_filter: Any | None = None,
) -> DataFrame:
    """Field-id-based column projection (spec §Column Projection): a
    foreign engine's rename is a metadata-only edit — the new schema
    keeps the old field-ids while the data files still carry the old
    NAMES. Files are grouped by their writing schema (the adding
    snapshot's schema-id); a group whose names all match the read
    schema takes the plain name-projected scan, a renamed group reads
    under its OWN names and aliases to the read schema's by field-id
    (a field-id the writing schema lacks scans as NULL — the spec's
    added-column rule). Top-level fields only; a same-id TYPE change
    widens through the spec's safe promotions and refuses otherwise.
    Every group reads each file under its own writing spec
    (:func:`_spec_groups`); a renamed group injects partition values
    under the writing schema's source name (``source_id`` resolves the
    spec field against the writing schema), then aliases every column
    to the read schema's names."""
    read_sid = ice_schema.get("schema-id", 0)
    defaulted = {
        f["id"] for f in ice_schema["fields"] if "initial-default" in f
    }
    known_snaps = {s["snapshot-id"] for s in meta.get("snapshots", [])}
    by_sid: dict[int, list[dict]] = {}
    for e in entries:
        if defaulted and e["snapshot_id"] not in known_snaps:
            # the adding snapshot expired: the writing schema is
            # unknowable, so whether this file predates a defaulted
            # column cannot be decided — NULL-vs-default would be a
            # guess. Refuse by name (only bites tables that BOTH carry
            # defaults AND compacted entries past snapshot expiry).
            raise NotImplementedError(
                "table declares column default values but file "
                f"{e['data_file']['file_path']!r} was added by an "
                "expired snapshot — its writing schema is unknowable, "
                "so the default-vs-NULL decision would be a guess"
            )
        by_sid.setdefault(_writing_schema_id(meta, e, read_sid), []).append(e)

    def needs_remap(w_ice: dict) -> bool:
        w_by_id = {f["id"]: f for f in w_ice["fields"]}
        for f in ice_schema["fields"]:
            wf = w_by_id.get(f["id"])
            if (
                wf is None
                or wf["name"] != f["name"]
                or wf["type"] != f["type"]
            ):
                return True
        return False

    schemas = {
        sid: (_schema_for(meta, sid) if sid != read_sid else ice_schema)
        for sid in by_sid
    }
    if not any(needs_remap(w) for w in schemas.values()):
        return _read_entries(
            spark, meta, ice_schema, entries, spark_schema,
            scan_filter=scan_filter,
        )

    parts = []
    for sid, group in sorted(by_sid.items()):
        w_ice = schemas[sid]
        if not needs_remap(w_ice):
            parts.append(
                _read_entries(
                    spark, meta, ice_schema, group, spark_schema,
                    scan_filter=scan_filter,
                )
            )
            continue
        w_by_id = {f["id"]: f for f in w_ice["fields"]}
        for _spec, grp_pf, grp in _spec_groups(meta, ice_schema, group):
            psrc_ids = {pf["source_id"] for pf in grp_pf}
            scan_fields, sel = [], []
            for f in ice_schema["fields"]:
                wf = w_by_id.get(f["id"])
                if wf is None and f["id"] not in psrc_ids:
                    # column added after these files were written: the
                    # field's initial-default when declared (v3, r11 —
                    # injected as a typed constant, the same mechanism
                    # as partition values), else NULL (the spec's
                    # added-column rule)
                    if "initial-default" in f:
                        lit = _default_literal(
                            f["type"], f["initial-default"], f["name"]
                        )
                    else:
                        lit = F.lit(None)
                    sel.append(
                        lit.cast(_iceberg_to_spark_type(f["type"]))
                        .alias(f["name"])
                    )
                    continue
                if wf is None:
                    # a partition SOURCE added later: inject-only — keep
                    # it in the scan schema (absent from the files) so
                    # _read_files' manifest injection survives the select
                    scan_fields.append(
                        T.StructField(
                            f["name"], _iceberg_to_spark_type(f["type"]), True
                        )
                    )
                    sel.append(F.col(f["name"]))
                    continue
                if wf["type"] != f["type"] and not _safe_promotion(
                    wf["type"], f["type"]
                ):
                    raise NotImplementedError(
                        f"field {f['id']} changed type "
                        f"{wf['type']!r} -> {f['type']!r}; only the spec's "
                        "safe promotions (int->long, float->double, "
                        "decimal precision widening at equal scale) are "
                        "supported by this native reader"
                    )
                scan_fields.append(
                    T.StructField(
                        wf["name"],
                        _iceberg_to_spark_type(wf["type"]),
                        nullable=not wf.get("required", False),
                    )
                )
                col = F.col(wf["name"])
                if wf["type"] != f["type"]:
                    # spec-safe promotion: scan under the WRITING type,
                    # widen to the read type (lossless by construction)
                    col = col.cast(_iceberg_to_spark_type(f["type"]))
                sel.append(col.alias(f["name"]))
            names = [sf.name for sf in scan_fields]
            if len(names) != len(set(names)):
                raise NotImplementedError(
                    "field-id projection hit a writing-name/current-name "
                    "collision (a column was renamed and its old name "
                    "reused); refusing rather than scanning ambiguously"
                )
            # partition values inject under the WRITING schema's source
            # names and types (field-id keyed); the select then aliases
            # them to the read schema
            w_pf = [
                {
                    **pf,
                    "source_name": (
                        w_by_id.get(pf["source_id"]) or {"name": pf["source_name"]}
                    )["name"],
                    "type": (
                        w_by_id.get(pf["source_id"]) or {"type": pf["type"]}
                    )["type"],
                }
                for pf in grp_pf
            ]
            df = _read_files(
                spark, [e["data_file"] for e in grp],
                T.StructType(scan_fields), w_pf, scan_filter=scan_filter,
            )
            parts.append(df.select(*sel))
    empty = spark.createDataFrame([], spark_schema)
    return reduce(DataFrame.unionByName, [empty] + parts)


# changelog budget for changed GLOBAL equality deletes: their victim
# set is every lower-sequence data file table-wide (spec scoping), so
# the keyed diff's pre/post scans grow with table history — bounded
# here by FILE COUNT (the diff cost driver), mirroring the DV-DML row
# budgets' shape: exact below, a named refusal steering to full
# snapshot reads above.
_CHANGELOG_GLOBAL_EQ_MAX_FILES = 1_000


def iceberg_row_changes(
    spark: SparkSession,
    path: str,
    snapshot_id: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Row-level change feed for ONE snapshot — the Iceberg twin of
    delta.delta_row_changes (the real client's changelog scan over CoW
    commits): reconstructs what a snapshot DID to each key by a keyed
    diff of the files it removed against the files it added.

    The two file sets come from comparing the snapshot's LIVE set with
    its PARENT's (by file_path) — robust to foreign writers that drop
    old manifests instead of retaining status=DELETED entries, which
    an entry-status walk would silently misread as pure adds. A
    ``replace`` snapshot (compaction / rewrite_manifests) emits
    NOTHING (rows unchanged by definition); a pure append is all
    inserts; the key contract and output shape are
    :mod:`changefeed`'s, stamped ``_snapshot_id``.

    MOR snapshots (r10 late): a commit that ADDS (or drops) POSITION
    delete files — including v3 Puffin deletion vectors — derives its
    changes exactly: the touched scope extends to the data files the
    changed delete files reference, and each side reads under its OWN
    delete state (parent's deletes for the pre-image, the snapshot's
    for the post-image), so newly-deleted rows surface as 'delete'
    rows. A changed PARTITION-SCOPED equality delete derives exactly
    too (r11): its victim set — same-spec same-tuple files with a
    lower data sequence, the r10 scoped-apply rule — bounds the
    touched scope to one partition. A changed GLOBAL equality delete
    (empty partition record — the Flink-CDC upsert shape) derives
    exactly as well (r12): its victim set is every lower-sequence data
    file table-wide, budgeted at ``_CHANGELOG_GLOBAL_EQ_MAX_FILES``
    touched files with a named refusal above (read full snapshots
    across the commit at that magnitude).

    Other refusals: renamed/retyped files in scope
    (_refuse_renamed_files), expired parents. Cost ∝ the snapshot's
    touched files (incl. referenced-by-deletes), never the table."""
    meta = _load_metadata(path)
    snap = _snapshot(meta, snapshot_id)
    op = (snap.get("summary") or {}).get("operation")
    sid = snap["snapshot-id"]
    ice_schema = _schema_for(
        meta, snap.get("schema-id", meta.get("current-schema-id", 0))
    )
    spark_schema = _schema_to_spark(ice_schema)
    cols = [f.name for f in spark_schema.fields]
    if op == "replace":
        # layout-only snapshot: same rows, different files
        return empty_feed(spark, spark_schema, "_snapshot_id", T.LongType())

    cur_entries, cur_dels = _entries_and_deletes_for_snapshot(path, snap)
    parent_id = snap.get("parent-snapshot-id")
    if parent_id is not None and parent_id != -1:
        by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
        parent = by_id.get(parent_id)
        if parent is None:
            raise ValueError(
                f"parent snapshot {parent_id} of {sid} was expired — "
                "the pre-image file set is gone; row changes for this "
                "snapshot are permanently unavailable"
            )
        par_entries, par_dels = _entries_and_deletes_for_snapshot(
            path, parent
        )
    else:
        par_entries, par_dels = [], []
    def _del_key(d: dict):
        # ONE Puffin file carries blobs for MANY data files — keying
        # by file_path alone collides those entries and silently
        # DROPS change rows (r11 review repro); the manifest-carried
        # content_offset disambiguates blobs (None for parquet/equality
        # delete files, whose paths are unique)
        return (
            d["data_file"]["file_path"],
            d["data_file"].get("content_offset"),
        )

    cur_del_by_path = {_del_key(d): d for d in cur_dels}
    par_del_by_path = {_del_key(d): d for d in par_dels}
    delta_dels = [
        d
        for p, d in sorted(cur_del_by_path.items(), key=lambda kv: repr(kv[0]))
        if p not in par_del_by_path
    ] + [
        d
        for p, d in sorted(par_del_by_path.items(), key=lambda kv: repr(kv[0]))
        if p not in cur_del_by_path
    ]
    affected_norm: set[str] = set()
    if delta_dels:
        import pyarrow.parquet as _pq

        for d in delta_dels:
            df_ = d["data_file"]
            if df_["content"] == 2:
                # r11: a changed PARTITION-SCOPED equality delete (the
                # Flink-CDC per-checkpoint shape) derives exactly — its
                # victim set is the files of the SAME spec sharing its
                # partition tuple with a LOWER data sequence (the
                # r10 scoped-apply rule), so the changelog's touched
                # scope is ∝ one partition, never the table. GLOBAL
                # equality deletes (empty partition record) still
                # refuse by name: their scope is every earlier-sequence
                # file table-wide, which would make the diff ∝ table.
                dseq = int(d["sequence_number"])
                if not (df_.get("partition") or {}):
                    # r12: a changed GLOBAL equality delete (the
                    # Flink-CDC upsert shape on unpartitioned tables,
                    # and what upsert_iceberg_mor commits) derives
                    # exactly too — its victim set is EVERY data file
                    # with a lower data sequence, any spec/tuple, so
                    # the diff's touched scope is ∝ table history up
                    # to the delete. A file-count budget keeps that
                    # honest (mirrors the DV-DML row budgets): above
                    # it, refuse by name — at that magnitude read full
                    # snapshots across the commit instead.
                    victims = {
                        _norm_path(e["data_file"]["file_path"])
                        for e in list(par_entries) + list(cur_entries)
                        if int(e["sequence_number"]) < dseq
                    }
                    if len(victims) > _CHANGELOG_GLOBAL_EQ_MAX_FILES:
                        raise NotImplementedError(
                            "a GLOBAL equality delete file changed in "
                            f"this snapshot and reaches {len(victims)} "
                            "earlier-sequence data files — above the "
                            f"{_CHANGELOG_GLOBAL_EQ_MAX_FILES}-file "
                            "changelog budget (its scope is table-wide "
                            "by spec); read full snapshots across this "
                            "commit instead"
                        )
                    affected_norm |= victims
                    continue
                scope = _part_key(df_["partition"], d.get("spec_id", 0))
                for e in list(par_entries) + list(cur_entries):
                    if (
                        int(e["sequence_number"]) < dseq
                        and _part_key(
                            e["data_file"].get("partition"),
                            e.get("spec_id", 0),
                        )
                        == scope
                    ):
                        affected_norm.add(
                            _norm_path(e["data_file"]["file_path"])
                        )
            elif df_["file_format"].upper() == "PUFFIN":
                affected_norm.add(_norm_path(df_["referenced_data_file"]))
            else:
                t_ = _pq.read_table(df_["file_path"], columns=["file_path"])
                affected_norm.update(
                    _norm_path(p) for p in t_.column("file_path").to_pylist()
                )
    cur_by_path = {e["data_file"]["file_path"]: e for e in cur_entries}
    par_by_path = {e["data_file"]["file_path"]: e for e in par_entries}
    added = [
        e for p, e in sorted(cur_by_path.items()) if p not in par_by_path
    ]
    removed = [
        e for p, e in sorted(par_by_path.items()) if p not in cur_by_path
    ]
    # files whose delete-applicability changed join both sides (their
    # own path survives the commit, but their VISIBLE rows changed)
    both_affected_cur = [
        e
        for p, e in sorted(cur_by_path.items())
        if p in par_by_path and _norm_path(p) in affected_norm
    ]
    both_affected_par = [
        e
        for p, e in sorted(par_by_path.items())
        if p in cur_by_path and _norm_path(p) in affected_norm
    ]
    _refuse_renamed_files(
        meta,
        added + removed + both_affected_cur,
        ice_schema,
        "iceberg_row_changes",
    )

    def _read(
        recs: list[dict], side_entries: list[dict], side_dels: list[dict]
    ) -> DataFrame:
        if not recs:
            return spark.createDataFrame([], spark_schema)
        flt = (
            _row_delete_filter(
                spark, meta, side_entries, side_dels, ice_schema
            )
            if side_dels
            else None
        )
        return _read_entries(
            spark, meta, ice_schema, recs, spark_schema, scan_filter=flt
        )

    ver = F.lit(int(sid)).cast("long")
    if not removed and not both_affected_cur:
        return insert_rows(
            _read(added, cur_entries, cur_dels), cols, "_snapshot_id", ver
        )
    require_keys(
        keys,
        cols,
        f"snapshot {sid} removed files (or changed their delete state)",
    )
    old = _read(removed + both_affected_par, par_entries, par_dels)
    new = _read(added + both_affected_cur, cur_entries, cur_dels)
    return derive(old, new, keys, cols, "_snapshot_id", ver)


def _ancestor_ids(meta: dict, head_id: int) -> set[int]:
    """The snapshot ids on ``head_id``'s parent chain (inclusive).
    ``meta["snapshots"]`` holds EVERY retained snapshot — including
    BRANCH commits — so any reader that walks 'snapshots in a
    sequence range' must intersect with the head's ancestry or it
    will leak (or false-refuse on) other branches' history."""
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    out: set[int] = set()
    cur = head_id
    while cur is not None and cur != -1 and cur in by_id:
        out.add(cur)
        cur = by_id[cur].get("parent-snapshot-id")
    return out


def iceberg_table_changes(
    spark: SparkSession,
    path: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Row-level changes for every snapshot AFTER ``from_snapshot`` up
    to ``to_snapshot`` (default current), in sequence order — the
    range composition of :func:`iceberg_row_changes` (the Delta
    ``delta_table_changes`` twin). Pure appends in the range need no
    ``keys``; ``replace`` snapshots contribute nothing; rewrites
    derive the keyed diff. Cost ∝ the range's touched files."""
    meta = _load_metadata(path)
    lo = _snapshot(meta, from_snapshot)
    hi = (
        _snapshot(meta, to_snapshot)
        if to_snapshot is not None
        else _snapshot(meta, None)
    )
    lo_seq, hi_seq = lo["sequence-number"], hi["sequence-number"]
    if hi_seq < lo_seq:
        raise ValueError(
            f"to_snapshot (seq {hi_seq}) precedes from_snapshot "
            f"(seq {lo_seq})"
        )
    anc = _ancestor_ids(meta, hi["snapshot-id"])
    if lo["snapshot-id"] not in anc:
        raise ValueError(
            f"from_snapshot {from_snapshot} is not an ancestor of the "
            "range's end — the two snapshots are on different branches"
        )
    in_range = sorted(
        (
            s
            for s in meta.get("snapshots", [])
            # ancestry-filtered: other BRANCHES' snapshots share the
            # table-wide sequence clock and must not leak in
            if lo_seq < s.get("sequence-number", 0) <= hi_seq
            and s["snapshot-id"] in anc
        ),
        key=lambda s: s["sequence-number"],
    )
    frames = [
        iceberg_row_changes(spark, path, s["snapshot-id"], keys=keys)
        for s in in_range
        if (s.get("summary") or {}).get("operation") != "replace"
    ]
    return range_union(
        spark,
        frames,
        lambda: _schema_to_spark(
            _schema_for(meta, meta.get("current-schema-id", 0))
        ),
        "_snapshot_id",
        T.LongType(),
    )


def read_iceberg_incremental(
    spark: SparkSession,
    path: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """Incremental append-scan: rows ADDED strictly AFTER
    ``from_snapshot`` up to ``to_snapshot`` (default: current) — the
    Iceberg twin of Delta's incremental change read and of the real
    client's incremental scan API. A manifest is skipped only when its
    entries provably lie outside the range (sequence_number <= from's,
    or min_sequence_number > to's); within a scanned manifest, entries
    select by their OWN data sequence number (inheriting the
    manifest's when null, the spec's inheritance rule) regardless of
    ADDED/EXISTING status — real writers merge manifests on append
    (manifest-merge-enabled defaults true), re-marking older adds
    EXISTING inside a manifest whose min_sequence_number predates the
    range, so status- or min-seq-based selection would silently drop
    in-range rows on spec-legal foreign tables. Cost still tracks the
    DELTA's touched manifests/files, never the table.

    Append-only contract: an overwrite snapshot inside the range
    REPLACES data rather than adding it, so a consumer that treated
    its files as increments would double-count — refused by name, the
    same policy as Delta's incremental reader on non-append commits."""
    meta = _load_metadata(path)
    lo = _snapshot(meta, from_snapshot)
    hi = _snapshot(meta, to_snapshot) if to_snapshot is not None else _snapshot(meta, None)
    lo_seq, hi_seq = lo["sequence-number"], hi["sequence-number"]
    if hi_seq < lo_seq:
        raise ValueError(
            f"to_snapshot (seq {hi_seq}) precedes from_snapshot (seq {lo_seq})"
        )
    anc = _ancestor_ids(meta, hi["snapshot-id"])
    for s in meta.get("snapshots", []):
        seq = s.get("sequence-number", 0)
        # ancestry-filtered (r9 late): a BRANCH commit sharing the
        # sequence range must neither false-refuse a clean main range
        # (its op doesn't matter here) nor be mistaken for main
        # history — hi's manifest list already excludes its files
        if s["snapshot-id"] not in anc:
            continue
        if lo_seq < seq <= hi_seq and s.get("summary", {}).get(
            "operation"
        ) not in (None, "append"):
            raise ValueError(
                f"snapshot {s['snapshot-id']} in the incremental range is a "
                f"{s['summary']['operation']!r}, not an append — an "
                "incremental file scan would misread replaced data; read "
                "full snapshots across it instead"
            )
    ice_schema = _schema_for(meta, meta.get("current-schema-id", 0))
    _, _, manifests = read_container(hi["manifest-list"])
    files: list[dict] = []
    for m in manifests:
        if m["content"] != 0:
            raise NotImplementedError(
                "delete manifests (row-level deletes) are not supported "
                "by this native reader"
            )
        if m["sequence_number"] <= lo_seq or m["min_sequence_number"] > hi_seq:
            continue
        _, _, entries = read_container(m["manifest_path"])
        for e in entries:
            if e["status"] == _STATUS_DELETED:
                continue
            df = e["data_file"]
            seq = e.get("sequence_number")
            eff = seq if seq is not None else m["sequence_number"]
            if not (lo_seq < eff <= hi_seq):
                continue
            if df["file_format"].upper() != "PARQUET":
                raise NotImplementedError(
                    f"data file format {df['file_format']!r} not supported "
                    "(parquet only)"
                )
            files.append(
                {
                    "snapshot_id": (
                        e.get("snapshot_id")
                        if e.get("snapshot_id") is not None
                        else m["added_snapshot_id"]
                    ),
                    "spec_id": m.get("partition_spec_id", 0),
                    "data_file": df,
                }
            )
    # incremental scans project by name; refuse pre-rename files
    # rather than reading NULLs for a renamed column
    _refuse_renamed_files(meta, files, ice_schema, "incremental scan")
    # a range crossing a partition-spec evolution reads each file under
    # its own spec (the snapshot-read rule)
    return _read_entries(spark, meta, ice_schema, files, _schema_to_spark(ice_schema))


def snapshot_infos(path: str) -> list[dict]:
    """Driver-side snapshot chronology, sequence-ordered — id, parent,
    sequence number, timestamp, operation. For callers that only pick
    or validate snapshots: table metadata is already driver-resident,
    so there is no Spark job and no manifest-list read here (those
    belong to :func:`table_snapshots`, the queryable frame with file
    stats). An r15 optimization: query paths used to pay a
    createDataFrame→collect round trip per staging validation."""
    meta = _load_metadata(path)
    return sorted(
        (
            {
                "snapshot_id": s["snapshot-id"],
                "parent_id": s.get("parent-snapshot-id"),
                "sequence_number": s.get("sequence-number", 0),
                "timestamp_ms": s["timestamp-ms"],
                "operation": (s.get("summary") or {}).get("operation"),
            }
            for s in meta.get("snapshots", [])
        ),
        key=lambda r: r["sequence_number"],
    )


def table_snapshots(spark: SparkSession, path: str) -> DataFrame:
    """Snapshot history as a queryable frame (the .snapshots metadata
    table shape): one row per snapshot with id, parent, sequence
    number, commit time, operation, and file/row deltas from the
    manifest list — all driver-side metadata, createDataFrame like
    describe_history."""
    meta = _load_metadata(path)
    rows = []
    for s in meta.get("snapshots", []):
        _, _, manifests = read_container(s["manifest-list"])
        sid = s["snapshot-id"]
        # a manifest list carries ALL live manifests; this snapshot's
        # own additions are the manifests it added, the rest is the
        # carried-forward file set. EXISTING entries inside an owned
        # manifest (compaction/DML carry-forward) count as existing
        # too — files live before and after this snapshot.
        own = [m for m in manifests if m["added_snapshot_id"] == sid]
        carried = [m for m in manifests if m["added_snapshot_id"] != sid]
        rows.append(
            (
                sid,
                s.get("parent-snapshot-id"),
                s.get("sequence-number", 0),
                s["timestamp-ms"],
                s.get("summary", {}).get("operation"),
                sum(m["added_files_count"] for m in own),
                # files live here but added earlier: EXISTING entries
                # in ANY manifest + ADDED entries of carried manifests
                # (a carried manifest's EXISTING would double-count)
                sum(m["existing_files_count"] for m in manifests)
                + sum(m["added_files_count"] for m in carried),
                sum(m["added_rows_count"] for m in own),
                s["manifest-list"],
            )
        )
    return spark.createDataFrame(
        rows,
        "snapshot_id long, parent_id long, sequence_number long, "
        "timestamp_ms long, operation string, added_files long, "
        "existing_files long, added_rows long, manifest_list string",
    )


def table_files(spark: SparkSession, path: str) -> DataFrame:
    """The .files metadata-table shape (r9): one row per LIVE data or
    delete file of the current snapshot — content (0 data / 1 position
    deletes / 2 equality deletes), path, format, partition tuple as a
    canonical-JSON string (stored transform-space values, like the
    real table's partition struct rendered textually), record count,
    size, and the owning snapshot/sequence attribution. Row-level
    deletes are listed, NOT applied — this is the physical inventory
    the real .files table shows. Driver-side manifest walk only."""
    meta = _load_metadata(path)
    snap = _snapshot(meta, None)
    ice_schema = _schema_for(
        meta, snap.get("schema-id", meta.get("current-schema-id", 0))
    )
    part_fields = _partition_fields(meta, ice_schema)
    entries, dels = _entries_and_deletes_for_snapshot(path, snap)
    rows = []
    for e in entries + dels:
        df_ = e["data_file"]
        part = df_.get("partition") or {}
        rows.append(
            (
                int(df_.get("content", 0)),
                df_["file_path"],
                df_.get("file_format", "PARQUET"),
                json.dumps(
                    {pf["name"]: part.get(pf["name"]) for pf in part_fields},
                    sort_keys=True,
                ),
                int(df_["record_count"]),
                int(df_.get("file_size_in_bytes", 0)),
                e["snapshot_id"],
                e["sequence_number"],
            )
        )
    rows.sort(key=lambda r: (r[0], r[1]))
    return spark.createDataFrame(
        rows,
        "content int, file_path string, file_format string, "
        "partition string, record_count long, file_size_in_bytes long, "
        "snapshot_id long, sequence_number long",
    )


def table_history(spark: SparkSession, path: str) -> DataFrame:
    """The .history metadata-table shape (r9): the snapshot-log (main
    branch lineage) — made_current_at, snapshot_id, parent_id, and
    is_current_ancestor (whether the entry is an ancestor of the
    CURRENT snapshot: false for entries orphaned by a rollback, the
    real table's semantics). Driver-side metadata only."""
    meta = _load_metadata(path)
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    ancestors: set[int] = set()
    cur = meta.get("current-snapshot-id")
    while cur is not None and cur != -1 and cur in by_id:
        ancestors.add(cur)
        cur = by_id[cur].get("parent-snapshot-id")
    rows = [
        (
            e["timestamp-ms"],
            e["snapshot-id"],
            by_id.get(e["snapshot-id"], {}).get("parent-snapshot-id"),
            e["snapshot-id"] in ancestors,
        )
        for e in meta.get("snapshot-log", [])
    ]
    return spark.createDataFrame(
        rows,
        "made_current_at long, snapshot_id long, parent_id long, "
        "is_current_ancestor boolean",
    )


def table_manifests(spark: SparkSession, path: str) -> DataFrame:
    """The .manifests metadata-table shape (r9): one row per manifest
    of the CURRENT snapshot's manifest list — path, length, spec id,
    content (0 data / 1 deletes), attribution, and the added/existing/
    deleted file counts the planner prunes by."""
    meta = _load_metadata(path)
    snap = _snapshot(meta, None)
    _, _, manifests = read_container(snap["manifest-list"])
    rows = [
        (
            m["manifest_path"],
            int(m["manifest_length"]),
            int(m.get("partition_spec_id", 0)),
            int(m.get("content", 0)),
            m["added_snapshot_id"],
            int(m["sequence_number"]),
            int(m["added_files_count"]),
            int(m["existing_files_count"]),
            int(m["deleted_files_count"]),
            int(m["added_rows_count"]),
        )
        for m in manifests
    ]
    return spark.createDataFrame(
        rows,
        "path string, length long, partition_spec_id int, content int, "
        "added_snapshot_id long, sequence_number long, "
        "added_data_files_count int, existing_data_files_count int, "
        "deleted_data_files_count int, added_rows_count long",
    )


def current_snapshot_id(path: str) -> int:
    return _snapshot(_load_metadata(path), None)["snapshot-id"]


# ----------------------------------------------------- refs (tags/branches)


def _resolve_ref(meta: dict, name: str) -> int:
    """A ref name -> its snapshot id. `main` always resolves to the
    current snapshot (the spec's implicit main branch)."""
    if name == "main":
        cur = meta.get("current-snapshot-id")
        if cur in (None, -1):
            raise ValueError("table has no current snapshot")
        return cur
    r = (meta.get("refs") or {}).get(name)
    if r is None:
        raise ValueError(
            f"unknown ref {name!r} (have "
            f"{sorted((meta.get('refs') or {}))!r})"
        )
    return r["snapshot-id"]


def create_ref(
    path: str, name: str, snapshot_id: int | None = None, kind: str = "tag"
) -> int:
    """Create a named TAG or BRANCH (spec v2 `refs` metadata): a
    human-readable pin on a snapshot that survives rotation of the
    snapshot log and — crucially — PROTECTS the snapshot (and its
    files) from expire_snapshots, which is what makes tags the audit/
    reproducibility primitive (pin the training-data snapshot a model
    was built from; the pin holds while newer snapshots churn and
    expire). Metadata-only commit via the put-if-absent version claim.
    Returns the pinned snapshot id."""
    if kind not in ("tag", "branch"):
        raise ValueError(f"kind must be tag|branch, got {kind!r}")
    if name == "main":
        raise ValueError("'main' is the implicit current-snapshot branch")
    meta = _load_metadata(path)
    sid = (
        snapshot_id
        if snapshot_id is not None
        else _snapshot(meta, None)["snapshot-id"]
    )
    _snapshot(meta, sid)  # must exist
    refs = dict(meta.get("refs") or {})
    if name in refs:
        raise ValueError(f"ref {name!r} already exists")
    refs[name] = {"snapshot-id": sid, "type": kind}
    new_meta = dict(meta)
    new_meta.pop("_loaded_version", None)
    new_meta["refs"] = refs
    _claim_metadata_version(path, meta, new_meta)
    return sid


def drop_ref(path: str, name: str) -> None:
    """Remove a named ref (its snapshot becomes expirable again)."""
    meta = _load_metadata(path)
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(f"unknown ref {name!r}")
    del refs[name]
    new_meta = dict(meta)
    new_meta.pop("_loaded_version", None)
    new_meta["refs"] = refs
    _claim_metadata_version(path, meta, new_meta)


def table_detail(spark: SparkSession, path: str) -> DataFrame:
    """The one-row inspection frame (Delta's describe_detail twin,
    completing the .snapshots/.files/.history/.manifests/.partitions/
    .refs family): format + format-version, table uuid, location,
    last-updated, the default spec's partition fields (DDL-ish
    strings like ``s`` / ``day(ts)`` / ``bucket[16](id)``), live
    numFiles/sizeInBytes from the current snapshot summary-free
    manifest walk, properties as canonical JSON, current snapshot id,
    and the default sort order id. Driver-side metadata only."""
    meta = _load_metadata(path)
    ice_schema = _schema_for(meta, meta.get("current-schema-id", 0))
    by_id = {f["id"]: f["name"] for f in ice_schema["fields"]}
    spec_strs = []
    for pf in _default_spec_fields(meta):
        src = by_id.get(pf["source-id"], f"#{pf['source-id']}")
        tr = pf["transform"]
        spec_strs.append(src if tr == "identity" else f"{tr}({src})")
    n_files = size = 0
    cur = meta.get("current-snapshot-id")
    if cur not in (None, -1):
        snap = _snapshot(meta, None)
        entries, _dels = _entries_and_deletes_for_snapshot(path, snap)
        n_files = len(entries)
        size = sum(
            int(e["data_file"].get("file_size_in_bytes", 0))
            for e in entries
        )
    row = (
        "iceberg",
        int(meta.get("format-version", 1)),
        meta.get("table-uuid"),
        meta.get("location", os.path.abspath(path)),
        int(meta.get("last-updated-ms", 0)),
        spec_strs,
        n_files,
        size,
        json.dumps(meta.get("properties") or {}, sort_keys=True),
        cur if cur not in (None, -1) else None,
        int(meta.get("default-sort-order-id", 0)),
    )
    return spark.createDataFrame(
        [row],
        "format string, format_version int, table_uuid string, "
        "location string, last_updated long, "
        "partition_spec array<string>, num_files long, "
        "size_in_bytes long, properties string, "
        "current_snapshot_id long, default_sort_order_id int",
    )


def table_refs(spark: SparkSession, path: str) -> DataFrame:
    """The .refs metadata-table shape: one row per named ref (plus the
    implicit main branch) — driver-side metadata only."""
    meta = _load_metadata(path)
    rows = []
    cur = meta.get("current-snapshot-id")
    if cur not in (None, -1):
        rows.append(("main", "branch", cur))
    for name, r in sorted((meta.get("refs") or {}).items()):
        rows.append((name, r.get("type", "tag"), r["snapshot-id"]))
    return spark.createDataFrame(
        rows, "name string, type string, snapshot_id long"
    )


def _ancestry(meta: dict, head_id: int) -> list[int]:
    """Snapshot-id chain from ``head_id`` back toward the root (head
    first). The walk stops at an expired ancestor (its parent id no
    longer resolves) — per spec a snapshot's parent pointer may
    dangle after expire_snapshots, and for ancestry checks a dangling
    chain simply means 'not an ancestor we can prove'."""
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    chain: list[int] = []
    cur: int | None = head_id
    while cur is not None and cur in by_id:
        chain.append(cur)
        cur = by_id[cur].get("parent-snapshot-id")
    return chain


def fast_forward(path: str, branch: str, to: str) -> int:
    """The `fast_forward` maintenance procedure (Spark SQL
    `CALL system.fast_forward(table, branch, to)`) — the PUBLISH half
    of branch-based write-audit-publish: move ``branch`` (commonly
    `'main'`) to the head of ref ``to``, iff ``branch``'s current head
    is an ancestor of ``to``'s head (publishing never discards
    commits; a diverged target refuses and points at
    cherrypick_snapshot). Metadata-only commit: no data or manifest
    bytes move — the audited branch snapshots simply BECOME main's
    history, so publish cost is O(1) in table size.

    Semantics pinned to Iceberg's procedure: advancing a named branch
    CREATES it when absent; tags refuse (immutable pins); advancing
    `'main'` appends one snapshot-log entry per newly published
    snapshot (oldest first, stamped at publish time — the log records
    when a snapshot BECAME current, which for staged branch commits
    is now), so timestamp time-travel lands on published state only
    after the publish instant. A no-op fast-forward (already at the
    target) returns without committing. Returns the new head id."""
    meta = _load_metadata(path)
    refs = dict(meta.get("refs") or {})
    src = _resolve_ref(meta, to)
    if branch == "main":
        cur = meta.get("current-snapshot-id")
        if cur == -1:
            cur = None
    else:
        r = refs.get(branch)
        if r is not None and r.get("type") != "branch":
            raise ValueError(
                f"ref {branch!r} is a tag — tags are immutable pins; "
                "only branches fast-forward"
            )
        cur = r["snapshot-id"] if r is not None else None
    if cur == src:
        return src  # idempotent no-op, no version burned
    chain = _ancestry(meta, src)
    if cur is not None and cur not in chain:
        raise ValueError(
            f"cannot fast-forward {branch!r} to {to!r}: its head "
            f"{cur} is not an ancestor of {src} — the branches have "
            "diverged; replay the commits with cherrypick_snapshot"
        )
    new_meta = dict(meta)
    new_meta.pop("_loaded_version", None)
    if branch == "main":
        now_ms = int(time.time() * 1000)
        published = chain if cur is None else chain[: chain.index(cur)]
        new_meta["current-snapshot-id"] = src
        new_meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
            {"timestamp-ms": now_ms, "snapshot-id": sid}
            for sid in reversed(published)
        ]
    else:
        refs[branch] = {"snapshot-id": src, "type": "branch"}
        new_meta["refs"] = refs
    _claim_metadata_version(path, meta, new_meta)
    return src


def cherrypick_snapshot(path: str, snapshot_id: int) -> int:
    """The `cherrypick_snapshot` procedure (Spark SQL
    `CALL system.cherrypick_snapshot(table, snapshot_id)`): re-apply
    one APPEND snapshot (typically staged on an audit branch) onto the
    CURRENT main head as a NEW snapshot — the publish path when main
    has advanced past the branch point and fast_forward refuses.

    Scope matches Iceberg's own restriction: only snapshots whose
    summary operation is `append` are pickable — a delete/overwrite/
    replace captures file-level conflicts against its original parent
    that cannot be re-validated file-for-file here, so those refuse by
    name (real Iceberg additionally allows WAP dynamic overwrites;
    this engine stages overwrites via branches + fast_forward
    instead). A snapshot already in main's ancestry refuses (picking
    it again would duplicate its rows).

    The commit re-adds exactly the files the picked snapshot ADDED
    (attribution-filtered from its live entries) and carries main's
    manifests verbatim, so cost is O(picked files) metadata — data
    bytes never move. On v3 tables the re-added files mint FRESH row
    ids from main's `next-row-id` (the branch's assigned ids belong
    to branch history; main never saw those rows), so explicit
    branch-side first_row_id stamps are stripped. Returns the new
    main snapshot id."""
    meta = _load_metadata(path)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if snapshot_id not in snaps:
        raise ValueError(f"unknown snapshot {snapshot_id}")
    picked = snaps[snapshot_id]
    op = picked.get("summary", {}).get("operation")
    if op != "append":
        raise NotImplementedError(
            f"cherrypick of a {op!r} snapshot is not supported (only "
            "appends are safely re-applicable onto a moved head); "
            "stage non-append work on a branch and publish with "
            "fast_forward"
        )
    cur = meta.get("current-snapshot-id")
    if cur in (None, -1):
        cur = None
    if cur is not None:
        chain = _ancestry(meta, cur)
        if snapshot_id in chain:
            raise ValueError(
                f"snapshot {snapshot_id} is already in main's ancestry; "
                "cherry-picking it again would duplicate its rows"
            )
        # a prior cherry-pick leaves the ORIGINAL id out of main's
        # chain (the pick is a NEW snapshot) — provenance is the only
        # duplicate witness, the same dedup real Iceberg does via
        # wap.id / source-snapshot-id summary properties
        for sid in chain:
            prov = (
                snaps.get(sid, {})
                .get("summary", {})
                .get("cherry-picked-snapshot-id")
            )
            if prov == str(snapshot_id):
                raise ValueError(
                    f"snapshot {snapshot_id} was already published onto "
                    f"main by cherry-pick {sid}; picking it again would "
                    "duplicate its rows"
                )
    entries, _dels = _entries_and_deletes_for_snapshot(path, picked)
    added = []
    for e in entries:
        if e["snapshot_id"] != snapshot_id:
            continue
        df_dict = dict(e["data_file"])
        df_dict.pop("first_row_id", None)  # fresh ids mint on main
        added.append(df_dict)
    if not added:
        raise ValueError(
            f"snapshot {snapshot_id} added no live data files; "
            "nothing to cherry-pick"
        )
    ice_schema = _schema_for(meta, meta.get("current-schema-id", 0))
    part_fields = _partition_fields(meta, ice_schema)
    return _commit_snapshot(
        path,
        meta,
        ice_schema,
        part_fields,
        added_files=added,
        existing_entries=[],
        deleted_entries=[],
        carry_prior_manifests=True,
        operation="append",
        summary_extra={"cherry-picked-snapshot-id": str(snapshot_id)},
    )


# ---------------------------------------------------------------- writing


def _footer_bounds(md, prim: dict) -> tuple[list, list]:
    """Per-column min/max over all row groups of one parquet footer,
    spec-serialized as the manifest's k/v bound lists. ``prim`` maps
    column name -> (field-id, iceberg primitive type). Columns with no
    usable stats record no bound (readers keep such files)."""
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            st = col.statistics
            if name not in prim or st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            mins[name] = lo if name not in mins or lo < mins[name] else mins[name]
            maxs[name] = hi if name not in maxs or hi > maxs[name] else maxs[name]
    lower, upper = [], []
    for name, lo in mins.items():
        fid, typ = prim[name]
        lb = _encode_bound(typ, lo)
        ub = _encode_bound(typ, maxs[name])
        if lb is not None and ub is not None:
            lower.append({"key": fid, "value": lb})
            upper.append({"key": fid, "value": ub})
    return lower, upper


def _walk_staged_parquet(staging: str) -> list[tuple[str, dict]]:
    """(full path, {hive dir name: raw value}) for every staged parquet
    part file, however deep partitionBy nested it."""
    out = []
    for root, _dirs, names in os.walk(staging):
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            rel = os.path.relpath(root, staging)
            raw: dict[str, str] = {}
            if rel != ".":
                for seg in rel.split(os.sep):
                    k, _, v = seg.partition("=")
                    raw[k] = urllib.parse.unquote(v)
            out.append((os.path.join(root, n), raw))
    return out


def _default_sort_fields(
    meta: dict, ice_schema: dict
) -> tuple[list[str], int | None]:
    """(source column names, order-id) of the table's DEFAULT sort
    order (spec §Sort Orders) — ([], None) for the unsorted order 0.
    Identity-transform ascending top-level fields only (what this
    engine's writer mints); an out-of-subset order (transform/
    descending/nested fields — a foreign writer's shape) returns EMPTY
    rather than refusing: the spec makes sort orders advisory for
    writers, so staging unsorted files with a null sort_order_id stamp
    is legal and keeps appends/DML working on such tables (r11 review
    fix — the earlier refusal gated every write). The order-id is
    returned alongside so staged files stamp the table's ACTUAL
    default order id, not a literal 1 (r11 advice: a foreign table's
    default identity-asc order may carry any id)."""
    oid = meta.get("default-sort-order-id", 0)
    order = next(
        (o for o in meta.get("sort-orders", []) if o.get("order-id") == oid),
        None,
    )
    if order is None or not order.get("fields"):
        return [], None
    by_id = {f["id"]: f["name"] for f in ice_schema["fields"]}
    out = []
    for f in order["fields"]:
        name = by_id.get(f["source-id"])
        if (
            f.get("transform", "identity") != "identity"
            or f.get("direction", "asc") != "asc"
            or name is None
        ):
            return [], None  # out-of-subset order: stage unsorted (legal)
        out.append(name)
    return out, oid


def _stage_data_files(
    df: DataFrame,
    path: str,
    ice_schema: dict,
    part_fields: list[dict],
    sort_fields: tuple[list[str], int | None] | None = None,
) -> list[dict]:
    """Write df as parquet under data/<uuid>/ and return data_file
    dicts (path, counts, partition tuple, and spec-serialized
    per-column lower/upper bounds — all from the parquet footers the
    write already produced: driver-side metadata reads, same as the
    real client collects stats; no data re-scan). Partitioned tables
    stage with partitionBy (hive layout, one file set per partition
    value — the spec's one-partition-per-data-file invariant) and
    parse the tuple back from the dir names; IDENTITY source columns
    stay OUT of the data files and are injected from the manifests on
    read (identity-transform allowance). NON-identity transforms stage
    by a computed __ipt_<field-id> column (JVM built-ins; bucket is a
    vectorized pandas_udf) which partitionBy consumes — the SOURCE
    column stays IN the data files, as the spec requires."""
    import pyarrow.parquet as pq

    sort_fields, sort_order_id = sort_fields if sort_fields else ([], None)
    prim = {
        f["name"]: (f["id"], f["type"])
        for f in ice_schema["fields"]
        if isinstance(f["type"], str)
    }
    staging = os.path.join(path, _DATA_DIR, uuid.uuid4().hex)
    # INT96 (Spark's default parquet timestamp) carries NO column
    # statistics, which would silently disable timestamp bounds; write
    # staged files as TIMESTAMP_MICROS — the modern, stats-bearing
    # representation and what Iceberg's own writers emit. Session-conf
    # set/restore, same single-threaded driver contract as io.load_table.
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    stage_names: dict[int, str] = {}
    for pf in part_fields:
        if pf["transform"] == "identity":
            stage_names[pf["field_id"]] = pf["source_name"]
        else:
            name = f"__ipt_{pf['field_id']}"
            stage_names[pf["field_id"]] = name
            df = df.withColumn(
                name, _transform_col(pf, F.col(pf["source_name"]))
            )
    try:
        if sort_fields:
            # CLUSTERED staging (r11, the spec's sort-order write):
            # a range exchange on (partition cols, sort cols) gives
            # files DISJOINT sort-key ranges — what makes skip_ranges'
            # bounds pruning actually bite at scale — then an
            # in-partition sort tightens per-page stats. This is the
            # real writers' write.distribution-mode=range shape.
            cluster = [
                stage_names[pf["field_id"]] for pf in part_fields
            ] + list(sort_fields)
            df = df.repartitionByRange(*cluster).sortWithinPartitions(
                *cluster
            )
        w = df.write.mode("overwrite")
        if part_fields:
            w = w.partitionBy(*[stage_names[pf["field_id"]] for pf in part_fields])
        w.parquet(staging)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.parquet.outputTimestampType")
        else:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    out = []
    for full, raw in _walk_staged_parquet(staging):
        # one partitioned write job reuses the SAME part-file basename
        # in every partition dir; DML's affected-file probe keys on
        # basenames, so each staged file gets a fresh uuid name (the
        # Delta twin's rule, delta._stage_files)
        renamed = os.path.join(
            os.path.dirname(full), f"part-{uuid.uuid4().hex}.parquet"
        )
        os.rename(full, renamed)
        full = renamed
        md = pq.ParquetFile(full).metadata
        if md.num_rows == 0:
            continue  # empty part files add metadata, never data
        partition: dict[str, Any] = {}
        for pf in part_fields:
            rv = raw.get(stage_names[pf["field_id"]])
            if rv is None or rv == _HIVE_NULL:
                raise ValueError(
                    f"null partition value in column {pf['source_name']!r}: "
                    "this writer refuses null partition tuples "
                    "(filter or coalesce them first)"
                )
            partition[pf["name"]] = _hive_to_avro_partition(
                pf["result_type"], rv
            )
        lower, upper = _footer_bounds(md, prim)
        out.append(
            {
                "content": 0,
                "file_path": full,
                "file_format": "PARQUET",
                "partition": partition,
                "record_count": md.num_rows,
                "file_size_in_bytes": os.path.getsize(full),
                "lower_bounds": lower or None,
                "upper_bounds": upper or None,
                "sort_order_id": sort_order_id if sort_fields else None,
            }
        )
    return out


def _commit_snapshot(
    path: str,
    meta: dict,
    ice_schema: dict,
    part_fields: list[dict],
    added_files: list[dict],
    existing_entries: list[dict],
    deleted_entries: list[dict],
    carry_prior_manifests: bool,
    operation: str,
    summary_extra: dict[str, str] | None = None,
    added_delete_files: list[dict] | None = None,
    delete_files_unpartitioned_spec: bool = False,
    branch: str | None = None,
    carry_delete_manifests: bool = False,
    carry_data_manifests: bool = False,
    existing_delete_entries: list[dict] | None = None,
    deleted_delete_entries: list[dict] | None = None,
    extra_carried_manifests: list[dict] | None = None,
) -> int:
    """Write one manifest (ADDED + carried-EXISTING + DELETED entries),
    a manifest list, and claim the next metadata version — the shared
    commit primitive under write/compact/DML.

    ``branch`` (r9) commits to a NAMED BRANCH ref instead of main: the
    snapshot's parent and carried manifests come from the branch HEAD,
    the ref advances to the new snapshot, and main's
    current-snapshot-id / snapshot-log stay untouched (snapshot-log is
    the main branch's history per the spec). Tags refuse — they are
    immutable pins.

    ``meta`` is the PLANNING-time metadata (from _load_metadata); the
    put-if-absent claims ``meta['_loaded_version'] + 1``, so any commit
    that landed after planning — even during the staging Spark job —
    makes the claim fail with IcebergCommitConflict instead of silently
    dropping the concurrent writer's rows (the real rewrite-data-files'
    revalidate-before-commit, achieved here by never re-reading newer
    metadata between planning and claim).

    ``existing_entries``/``deleted_entries`` are resolved entries from
    _entries_for_snapshot: their original snapshot_id and sequence
    numbers are preserved (EXISTING keeps attribution; DELETED records
    the removed file's data sequence per the spec), which keeps
    expire_snapshots' reachability and the incremental reader's
    sequence selection exact across compaction/DML commits.

    FORMAT-VERSION 3 (r11): commits to v3 tables are first-class —
    manifests/manifest lists stamp the table's format-version, and the
    spec's row-lineage bookkeeping is maintained: the snapshot records
    ``first-row-id`` (= the metadata's ``next-row-id`` at commit), the
    new data manifest carries that as its explicit ``first_row_id``
    (manifest-list field 520; carried-forward manifests keep their
    original values, so append-only histories have stable lineage),
    and ``next-row-id`` advances by the rows the new manifest can
    assign (added + id-less-existing record counts). ADDED files'
    per-data-file first_row_id stays null — the spec's in-manifest
    inheritance assigns sequentially from the manifest's value —
    while EXISTING/DELETED entries carry their ORIGINAL assigned id
    EXPLICITLY (data_file field 142, stamped at resolution by
    _entries_and_deletes_for_snapshot), so a CoW rewrite or
    full-file-drop DV commit that moves carried files into a NEW
    manifest preserves their row ids per spec (r12; closed the
    r11-advice durability gap). Rows physically REWRITTEN into new
    files carry ids via the materialized ``_row_id`` column the DV
    DML writers stage (iceberg_dv).

    ``carry_data_manifests`` (r11, the DV-DML shape): carry the
    parent's DATA manifests verbatim while the delete state rebuilds —
    the mirror of ``carry_delete_manifests``. The rebuilt DELETE
    manifest holds ``added_delete_files`` (ADDED) plus
    ``existing_delete_entries`` (carried with original attribution)
    and drops ``deleted_delete_entries`` (DELETED status — superseded
    deletion vectors, per the spec's one-DV-per-data-file rule).
    ``extra_carried_manifests`` ride the new manifest list verbatim
    (untouched delete manifests the caller resolved itself)."""
    md = _metadata_dir(path)
    fv = meta.get("format-version", 1)
    fv_bytes = b"3" if fv >= 3 else b"2"
    now_ms = int(time.time() * 1000)
    snapshot_id = uuid.uuid4().int % (1 << 62)
    base_version = meta["_loaded_version"]
    seq = meta.get("last-sequence-number", 0) + 1

    branch_head: int | None = None
    if branch is not None and branch != "main":
        r = (meta.get("refs") or {}).get(branch)
        if r is None:
            raise ValueError(
                f"unknown branch {branch!r}; create it first with "
                "create_ref(kind='branch')"
            )
        if r.get("type") != "branch":
            raise ValueError(
                f"ref {branch!r} is a tag — tags are immutable pins; "
                "only branches accept commits"
            )
        branch_head = r["snapshot-id"]

    prior_manifests: list[dict] = []
    if branch_head is not None:
        if carry_prior_manifests:
            snap = _snapshot(meta, branch_head)
            _, _, prior_manifests = read_container(snap["manifest-list"])
        parent_id = branch_head
    else:
        if carry_prior_manifests and meta.get(
            "current-snapshot-id", -1
        ) not in (None, -1):
            snap = _snapshot(meta, None)
            _, _, prior_manifests = read_container(snap["manifest-list"])
        parent_id = meta.get("current-snapshot-id")
        if parent_id == -1:
            parent_id = None
    if (
        carry_delete_manifests
        and not carry_prior_manifests
        and parent_id is not None
    ):
        # DML on a MOR table (r10): the data manifests are rebuilt
        # (existing/deleted entries) but the parent's DELETE manifests
        # carry forward — their position deletes key on untouched
        # files' paths and their equality deletes scope by sequence
        # (< the rewrite's new seq), so rewritten rows are immune and
        # untouched files stay correctly filtered
        _, _, parent_ms = read_container(
            _snapshot(meta, parent_id)["manifest-list"]
        )
        prior_manifests = [m for m in parent_ms if m["content"] != 0]
    if (
        carry_data_manifests
        and not carry_prior_manifests
        and parent_id is not None
    ):
        # DV DML (r11): data files are untouched — the parent's DATA
        # manifests carry verbatim (keeping their lineage first_row_id)
        # while the delete manifest rebuilds below from the caller's
        # added/existing/deleted delete entries
        _, _, parent_ms = read_container(
            _snapshot(meta, parent_id)["manifest-list"]
        )
        prior_manifests = [m for m in parent_ms if m["content"] == 0]

    added_rows = sum(f["record_count"] for f in added_files)
    # v3 row lineage: this commit's assignable id range starts at the
    # table's next-row-id and covers only the rows that will INHERIT
    # ids from the new manifest — ADDED files (written with null
    # first_row_id) plus any existing entry whose id is still unknown
    # (pre-lineage history). EXISTING/DELETED entries resolved by
    # _entries_and_deletes_for_snapshot carry their ORIGINAL id
    # explicitly (data_file field 142) and consume nothing, which is
    # what keeps _row_id durable across manifest rewrites (r12).
    first_row_id = meta.get("next-row-id", 0) if fv >= 3 else None
    inheriting_rows = added_rows + sum(
        e["data_file"]["record_count"]
        for e in existing_entries
        if e["data_file"].get("first_row_id") is None
    )
    # MIXED-SPEC commits (r13): manifests are homogeneous per spec —
    # each carries ONE partition record schema, named by its
    # partition-spec-id. ADDED files always land under the DEFAULT
    # spec (rewrites re-stage there); EXISTING/DELETED entries written
    # under an OLD spec serialize into a manifest OF that spec, so
    # their partition records round-trip exactly (the corruption the
    # r12 _refuse_spec_evolution guard existed to prevent). The v3
    # lineage base runs cumulatively across the manifests in write
    # order, so in-manifest inheritance stays exact for pre-lineage
    # id-less entries wherever they land.
    default_sid = meta.get("default-spec-id", 0)
    ex_by_sid = _group_entries_by_spec(meta, existing_entries)
    del_by_sid = _group_entries_by_spec(meta, deleted_entries)
    sids = [default_sid] + sorted(
        (set(ex_by_sid) | set(del_by_sid)) - {default_sid}
    )
    new_manifests: list[dict] = []
    running_row_id = first_row_id
    for sid in sids:
        g_added = added_files if sid == default_sid else []
        g_ex = ex_by_sid.get(sid, [])
        g_del = del_by_sid.get(sid, [])
        g_entries = [
            {
                "status": _STATUS_ADDED,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": f,
            }
            for f in g_added
        ]
        g_entries += [
            {
                "status": _STATUS_EXISTING,
                "snapshot_id": e["snapshot_id"],
                "sequence_number": e["sequence_number"],
                "file_sequence_number": e["file_sequence_number"],
                "data_file": e["data_file"],
            }
            for e in g_ex
        ]
        g_entries += [
            {
                "status": _STATUS_DELETED,
                "snapshot_id": snapshot_id,
                "sequence_number": e["sequence_number"],
                "file_sequence_number": e["file_sequence_number"],
                "data_file": e["data_file"],
            }
            for e in g_del
        ]
        if not g_entries and (
            sid != default_sid
            or carry_data_manifests
            or carry_prior_manifests
            or len(sids) > 1
        ):
            continue  # empty old-spec group / carried-manifest commit
        g_pf = (
            part_fields
            if sid == default_sid
            else _partition_fields(meta, ice_schema, sid)
        )
        manifest_path = os.path.join(
            md, f"{uuid.uuid4().hex}-m{len(new_manifests)}.avro"
        )
        manifest_len = write_container(
            manifest_path,
            _manifest_entry_schema(g_pf),
            g_entries,
            meta={
                "schema": json.dumps(ice_schema).encode(),
                "partition-spec": json.dumps(
                    _spec_fields_by_id(meta, sid)
                ).encode(),
                "partition-spec-id": str(sid).encode(),
                "format-version": fv_bytes,
                "content": b"data",
            },
        )
        new_manifests.append(
            {
                "manifest_path": manifest_path,
                "manifest_length": manifest_len,
                "partition_spec_id": sid,
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": min(
                    [seq]
                    + [e["sequence_number"] for e in g_ex]
                    + [e["sequence_number"] for e in g_del]
                ),
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(g_added),
                "existing_files_count": len(g_ex),
                "deleted_files_count": len(g_del),
                "added_rows_count": sum(
                    f["record_count"] for f in g_added
                ),
                "existing_rows_count": sum(
                    e["data_file"]["record_count"] for e in g_ex
                ),
                "deleted_rows_count": sum(
                    e["data_file"]["record_count"] for e in g_del
                ),
                "first_row_id": running_row_id,
            }
        )
        if fv >= 3 and running_row_id is not None:
            running_row_id += sum(
                f["record_count"] for f in g_added
            ) + sum(
                e["data_file"]["record_count"]
                for e in g_ex
                if e["data_file"].get("first_row_id") is None
            )
    delete_manifests: list[dict] = []
    ex_dels = existing_delete_entries or []
    rm_dels = deleted_delete_entries or []
    if added_delete_files or ex_dels or rm_dels:
        # v2 row-level deletes: a separate DELETE manifest (content=1)
        # in the same atomic commit — its sequence number is what
        # scopes the deletes to data files with seq <= it.
        # GLOBAL deletes (equality files that apply table-wide, the
        # Flink-upsert shape) commit under an UNPARTITIONED spec per
        # the spec's scoping rule: find-or-register it in the
        # metadata's partition-specs (the mutation lands in new_meta
        # below) and type the manifest's r102 record empty.
        # MIXED-SPEC delete manifests (r14 — lifts the last
        # _refuse_spec_evolution caller): like data manifests, delete
        # manifests are spec-HOMOGENEOUS — partition-scoped delete
        # files serialize into a manifest OF the spec their referenced
        # data files were written under. Added delete files carry a
        # "_spec_id" side-channel hint (popped here, default spec when
        # absent); carried/removed delete entries group by their
        # resolved spec like data entries do.
        default_dm_sid = meta.get("default-spec-id", 0)
        if delete_files_unpartitioned_spec and part_fields:
            specs = list(meta.get("partition-specs", []))
            empty = next((sp for sp in specs if not sp.get("fields")), None)
            if empty is None:
                empty = {
                    "spec-id": max(sp["spec-id"] for sp in specs) + 1,
                    "fields": [],
                }
                meta["partition-specs"] = specs + [empty]
            added_by_sid = {
                empty["spec-id"]: list(added_delete_files or [])
            }
            exd_by_sid = {empty["spec-id"]: ex_dels} if ex_dels else {}
            rmd_by_sid = {empty["spec-id"]: rm_dels} if rm_dels else {}
            dm_sids = [empty["spec-id"]]
        else:
            added_by_sid = {}
            dm_default_fields = _default_spec_fields(meta)
            for f in added_delete_files or []:
                sid = f.pop("_spec_id", default_dm_sid)
                # collapse renumbered-identical specs to the default,
                # like _group_entries_by_spec (byte-compatible records)
                if sid != default_dm_sid and _spec_fields_by_id(
                    meta, sid
                ) == dm_default_fields:
                    sid = default_dm_sid
                added_by_sid.setdefault(sid, []).append(f)
            exd_by_sid = _group_entries_by_spec(meta, ex_dels)
            rmd_by_sid = _group_entries_by_spec(meta, rm_dels)
            dm_sids = [default_dm_sid] + sorted(
                (set(added_by_sid) | set(exd_by_sid) | set(rmd_by_sid))
                - {default_dm_sid}
            )
        for dm_spec_id in dm_sids:
            g_add = added_by_sid.get(dm_spec_id, [])
            g_ex = exd_by_sid.get(dm_spec_id, [])
            g_rm = rmd_by_sid.get(dm_spec_id, [])
            if not (g_add or g_ex or g_rm):
                continue
            if delete_files_unpartitioned_spec and part_fields:
                dm_part_fields: list[dict] = []
                dm_spec_fields: list[dict] = []
            elif dm_spec_id == default_dm_sid:
                dm_part_fields = part_fields
                dm_spec_fields = _default_spec_fields(meta)
            else:
                dm_part_fields = _partition_fields(
                    meta, ice_schema, dm_spec_id
                )
                dm_spec_fields = _spec_fields_by_id(meta, dm_spec_id)
            dm_entries = [
                {
                    "status": _STATUS_ADDED,
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": f,
                }
                for f in g_add
            ]
            dm_entries += [
                {
                    "status": _STATUS_EXISTING,
                    "snapshot_id": e["snapshot_id"],
                    "sequence_number": e["sequence_number"],
                    "file_sequence_number": e["file_sequence_number"],
                    "data_file": e["data_file"],
                }
                for e in g_ex
            ]
            dm_entries += [
                {
                    "status": _STATUS_DELETED,
                    "snapshot_id": snapshot_id,
                    "sequence_number": e["sequence_number"],
                    "file_sequence_number": e["file_sequence_number"],
                    "data_file": e["data_file"],
                }
                for e in g_rm
            ]
            # the v3 DV reference fields serialize whenever any entry
            # carries them (added DVs or carried/superseded DV
            # entries); non-DV entries write nulls
            dv_refs = any(
                e["data_file"].get("referenced_data_file") is not None
                for e in dm_entries
            )
            dm_path = os.path.join(
                md, f"{uuid.uuid4().hex}-d{len(delete_manifests)}.avro"
            )
            dm_len = write_container(
                dm_path,
                _manifest_entry_schema(dm_part_fields, dv_refs=dv_refs),
                dm_entries,
                meta={
                    "schema": json.dumps(ice_schema).encode(),
                    "partition-spec": json.dumps(dm_spec_fields).encode(),
                    "partition-spec-id": str(dm_spec_id).encode(),
                    "format-version": fv_bytes,
                    "content": b"deletes",
                },
            )
            delete_manifests.append(
                {
                    "manifest_path": dm_path,
                    "manifest_length": dm_len,
                    "partition_spec_id": dm_spec_id,
                    "content": 1,
                    "sequence_number": seq,
                    "min_sequence_number": min(
                        [seq]
                        + [e["sequence_number"] for e in g_ex]
                        + [e["sequence_number"] for e in g_rm]
                    ),
                    "added_snapshot_id": snapshot_id,
                    "added_files_count": len(g_add),
                    "existing_files_count": len(g_ex),
                    "deleted_files_count": len(g_rm),
                    "added_rows_count": sum(
                        f["record_count"] for f in g_add
                    ),
                    "existing_rows_count": sum(
                        e["data_file"]["record_count"] for e in g_ex
                    ),
                    "deleted_rows_count": sum(
                        e["data_file"]["record_count"] for e in g_rm
                    ),
                }
            )
    manifest_list = os.path.join(
        md, f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
    )
    write_container(
        manifest_list,
        _MANIFEST_FILE_SCHEMA,
        new_manifests
        + delete_manifests
        + list(extra_carried_manifests or [])
        + prior_manifests,
        meta={
            "snapshot-id": str(snapshot_id).encode(),
            "sequence-number": str(seq).encode(),
            "format-version": fv_bytes,
        },
    )

    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": manifest_list,
        "summary": {
            "operation": operation,
            "added-data-files": str(len(added_files)),
            "added-records": str(added_rows),
            # real-writer parity; the streaming source's
            # maxBytesPerTrigger admission reads this without a
            # manifest walk
            "added-files-size": str(
                sum(int(f.get("file_size_in_bytes", 0)) for f in added_files)
            ),
            # caller-supplied summary properties ride IN the atomic
            # commit (the streaming sink's exactly-once marker channel,
            # like the real Spark/Flink sinks' epoch/checkpoint ids)
            **{k: str(v) for k, v in (summary_extra or {}).items()},
        },
        "schema-id": meta.get("current-schema-id", 0),
    }
    if parent_id is not None:
        snapshot["parent-snapshot-id"] = parent_id
    if fv >= 3:
        snapshot["first-row-id"] = first_row_id

    new_meta = dict(meta)
    new_meta.pop("_loaded_version", None)
    new_meta["last-updated-ms"] = now_ms
    new_meta["last-sequence-number"] = seq
    if fv >= 3:
        new_meta["next-row-id"] = (first_row_id or 0) + inheriting_rows
    new_meta["snapshots"] = list(meta.get("snapshots", [])) + [snapshot]
    if branch_head is not None:
        # branch commit: advance the ref; main's head and history
        # (snapshot-log tracks the MAIN branch) stay untouched
        refs = dict(meta.get("refs") or {})
        refs[branch] = {**refs[branch], "snapshot-id": snapshot_id}
        new_meta["refs"] = refs
    else:
        new_meta["current-snapshot-id"] = snapshot_id
        new_meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
            {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
        ]

    _put_metadata_version(path, base_version + 1, new_meta)
    return snapshot_id


_PART_BY_RE = _re_mod.compile(
    r"^\s*(day|month|year|hour)\s*\(\s*(\w+)\s*\)\s*$"
    r"|^\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$"
)


def _parse_partition_by(s: str) -> tuple[str, str, int | None]:
    """One user partition_by entry -> (source column, spec transform
    string, param). Plain 'col' is identity; 'day(ts)', 'bucket(16,
    id)', 'truncate(4, name)' are the spec transforms (SQL DDL
    spelling)."""
    m = _PART_BY_RE.match(s)
    if m is None:
        return s, "identity", None
    if m.group(1) is not None:
        return m.group(2), m.group(1), None
    return m.group(5), f"{m.group(3)}[{m.group(4)}]", int(m.group(4))


def _new_table_metadata(
    path: str,
    df_schema: T.StructType,
    partition_by: list[str] | None,
    format_version: int = 2,
) -> tuple[dict, dict, list[dict]]:
    """Fresh metadata dict (version 0, not yet written) for a new
    table. ``format_version`` 3 stamps the v3 contract (row-lineage
    ``next-row-id`` starts at 0; _commit_snapshot maintains it).
    ``partition_by`` entries are either plain column names
    (identity spec) or transform calls — ``day(ts)``, ``month(ts)``,
    ``year(d)``, ``hour(ts)``, ``bucket(16, id)``, ``truncate(4, s)``
    — producing the spec transform over that source column. Partition
    field names follow the reference implementation's convention
    (``ts_day``, ``id_bucket``, ``s_trunc``)."""
    ice_schema, last_col = _schema_to_iceberg(df_schema)
    spec_fields = []
    for i, entry in enumerate(partition_by or []):
        col, transform, _param = _parse_partition_by(entry)
        kind, _ = _parse_transform(transform)
        src = next(
            (f for f in ice_schema["fields"] if f["name"] == col), None
        )
        if src is None:
            raise ValueError(f"partition column {col!r} not in schema")
        allowed = _TRANSFORM_SOURCES[kind]
        if not isinstance(src["type"], str) or src["type"] not in allowed:
            raise NotImplementedError(
                f"partition column {col!r} of transform {transform!r} must "
                f"be a top-level {'/'.join(allowed)} column, got "
                f"{src['type'] if isinstance(src['type'], str) else 'nested'}"
            )
        suffix = {
            "identity": "",
            "bucket": "_bucket",
            "truncate": "_trunc",
        }.get(kind, f"_{kind}")
        spec_fields.append(
            {
                "source-id": src["id"],
                "field-id": 1000 + i,
                "name": f"{col}{suffix}",
                "transform": transform,
            }
        )
    if format_version not in (2, 3):
        raise ValueError(
            f"format_version must be 2 or 3, got {format_version!r}"
        )
    meta = {
        "format-version": format_version,
        "table-uuid": str(uuid.uuid4()),
        "location": path,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": last_col,
        "schemas": [ice_schema],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "last-partition-id": 999 + len(spec_fields),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {},
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
        "last-sequence-number": 0,
        "_loaded_version": 0,
    }
    if format_version >= 3:
        meta["next-row-id"] = 0
    part_fields = _partition_fields(meta, ice_schema)
    return meta, ice_schema, part_fields


def write_iceberg(
    df: DataFrame,
    path: str,
    mode: str = "append",
    operation: str | None = None,
    partition_by: list[str] | None = None,
    summary_extra: dict[str, str] | None = None,
    branch: str | None = None,
    format_version: int | None = None,
    sort_by: list[str] | None = None,
) -> int:
    """Commit ``df`` as a new snapshot (``append`` keeps prior data
    live via the previous snapshot's manifests; ``overwrite`` starts a
    fresh file set). ``branch`` (r9) commits to a named BRANCH ref —
    append carries the BRANCH head's manifests, the ref advances, and
    main is untouched (read back with ``read_iceberg(ref=...)``);
    requires an existing table and an existing branch (create_ref
    kind='branch'); tags refuse. ``operation`` overrides the snapshot summary's
    operation label. ``partition_by`` (new tables only) creates an
    identity partition spec over the named int/long/string/date
    columns; appends to a partitioned table stage per-partition
    automatically from the table's spec — passing partition_by again
    must match it. ``format_version`` (r11) picks the table format for
    NEW tables: 2 (default) or 3 (row-lineage bookkeeping maintained;
    DV DML via iceberg_dv becomes available). Appends to an existing
    table follow ITS format-version — passing the parameter then must
    match it. ``sort_by`` (r11, new tables only) records the spec's
    SORT ORDER (identity-asc columns) and makes every write stage
    CLUSTERED: a range exchange on the sort key gives data files
    DISJOINT key ranges, so skip_ranges' bounds pruning eliminates
    whole files instead of overlapping everywhere — the scale lever
    for selective scans. Appends to a sorted table stage clustered
    automatically from the table's default order; passing sort_by
    again must match it. Returns the new snapshot id.

    Commit protocol (spec §Metadata): stage data parquet + one new
    manifest avro + a manifest list avro, then atomically claim
    vN+1.metadata.json with O_CREAT|O_EXCL — the same put-if-absent
    primitive as the Delta writer; a lost race raises
    IcebergCommitConflict (re-read, re-derive). version-hint.text is
    advisory and updated last (readers tolerate a stale hint)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    md = _metadata_dir(path)
    os.makedirs(md, exist_ok=True)
    exists = any(
        n.startswith("v") and n.endswith(".metadata.json")
        for n in os.listdir(md)
    )

    if exists:
        meta = _load_metadata(path)
        if (
            format_version is not None
            and meta.get("format-version", 1) != format_version
        ):
            raise ValueError(
                f"format_version={format_version} does not match the "
                f"existing table's {meta.get('format-version', 1)}; "
                "use upgrade_iceberg_v3 to upgrade in place"
            )
        ice_schema = _schema_for(meta, meta.get("current-schema-id", 0))
        part_fields = _partition_fields(meta, ice_schema)
        if _schema_to_spark(ice_schema) != df.schema:
            raise ValueError(
                "schema mismatch: iceberg writer does not evolve schemas; "
                f"table {_schema_to_spark(ice_schema).simpleString()} vs "
                f"df {df.schema.simpleString()}"
            )
        if partition_by is not None:
            have = [
                (
                    pf["source_name"],
                    pf["transform"]
                    + (f"[{pf['param']}]" if pf["param"] is not None else ""),
                )
                for pf in part_fields
            ]
            want = [_parse_partition_by(e)[:2] for e in partition_by]
            if want != have:
                raise ValueError(
                    f"partition_by {list(partition_by)} does not match the "
                    f"table's partition spec {have}; the spec is fixed at "
                    "table creation"
                )
    else:
        meta, ice_schema, part_fields = _new_table_metadata(
            path, df.schema, partition_by, format_version or 2
        )
        if sort_by:
            by_name = {
                f["name"]: f
                for f in ice_schema["fields"]
                if isinstance(f["type"], str)
            }
            missing = [c for c in sort_by if c not in by_name]
            if missing:
                raise ValueError(
                    f"sort_by columns not top-level primitives of the "
                    f"schema: {missing}"
                )
            meta["sort-orders"] = [
                {"order-id": 0, "fields": []},
                {
                    "order-id": 1,
                    "fields": [
                        {
                            "transform": "identity",
                            "source-id": by_name[c]["id"],
                            "direction": "asc",
                            "null-order": "nulls-first",
                        }
                        for c in sort_by
                    ],
                },
            ]
            meta["default-sort-order-id"] = 1

    sort_spec = _default_sort_fields(meta, ice_schema)
    if exists and sort_by is not None and list(sort_by) != sort_spec[0]:
        raise ValueError(
            f"sort_by {list(sort_by)} does not match the table's "
            f"default sort order {sort_spec[0]}; the order is fixed at "
            "table creation"
        )
    if branch is not None and not exists:
        raise ValueError("branch writes require an existing table")
    data_files = _stage_data_files(
        df, path, ice_schema, part_fields, sort_fields=sort_spec
    )
    return _commit_snapshot(
        path,
        meta,
        ice_schema,
        part_fields,
        added_files=data_files,
        existing_entries=[],
        deleted_entries=[],
        carry_prior_manifests=(mode == "append"),
        operation=operation or ("append" if mode == "append" else "overwrite"),
        summary_extra=summary_extra,
        branch=branch,
    )


# -------------------------------------------------------- maintenance ops


def compact_iceberg(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Bin-pack SMALL data files (the spec's rewrite-data-files
    maintenance op, Delta OPTIMIZE's Iceberg twin): within each
    partition, files under ``target_file_bytes`` — and only those —
    are read, rewritten as ~target-sized files, and committed as a
    ``replace`` snapshot whose manifest carries every untouched file
    forward as an EXISTING entry (original snapshot attribution and
    sequence numbers preserved). Already-compacted files are NOT
    rewritten: on a 100 TB table with a handful of stragglers this
    costs megabytes, not a full-table rewrite — the same shape as
    delta_dml.optimize_delta. Rows are unchanged — only layout — and
    time travel to pre-compaction snapshots still resolves (their
    manifests are untouched until expire_snapshots). Incremental
    append-scans crossing the replace snapshot refuse
    (read_iceberg_incremental's documented contract) rather than
    double-counting rewritten rows. A commit that raced a concurrent
    writer raises IcebergCommitConflict instead of dropping its rows
    (the planning-version put-if-absent in _commit_snapshot).

    Returns the new snapshot id, or the CURRENT snapshot id unchanged
    when no partition has two or more sub-target files."""
    meta = _load_metadata(path)
    snap = _snapshot(meta, None)
    # plan under the CURRENT schema (like DML): rewrites land in the
    # evolved shape (old files' added columns flow through as NULL)
    ice_schema = _schema_for(meta, meta.get("current-schema-id", 0))
    part_fields = _partition_fields(meta, ice_schema)
    spark_schema = _schema_to_spark(ice_schema)
    entries = _entries_for_snapshot(path, snap)
    # PARTITION EVOLUTION (r12 late): manifests are spec-homogeneous,
    # so a mixed-spec table compacts WITHIN the default spec — files
    # written under evolved-away specs ride their original manifests
    # verbatim into the new manifest list (their partition records are
    # never re-serialized, which is what made a blanket rewrite
    # unsafe). The usual post-evolution flow — evolve, keep appending,
    # compact the new layout's stragglers — works; old-spec files
    # compact only after a CoW rewrite moves them to the current spec.
    entries, carried_manifests = _split_foreign_spec_manifests(
        path, meta, snap, entries
    )
    # the rewrite scans by name; a renamed column in pre-rename files
    # would be rewritten as NULL — refuse, like DML (_dml_plan)
    _refuse_renamed_files(meta, entries, ice_schema, "compaction")

    groups: dict[tuple, list[dict]] = {}
    for e in entries:
        if e["data_file"]["file_size_in_bytes"] >= target_file_bytes:
            continue
        part = e["data_file"].get("partition") or {}
        key = tuple(part.get(pf["name"]) for pf in part_fields)
        groups.setdefault(key, []).append(e)

    rewritten: list[dict] = []
    added: list[dict] = []
    fv3 = meta.get("format-version", 1) >= 3
    for _key, small in sorted(
        groups.items(), key=lambda kv: tuple(map(str, kv[0]))
    ):
        if len(small) < 2:
            continue
        total = sum(e["data_file"]["file_size_in_bytes"] for e in small)
        n_out = max(1, -(-total // target_file_bytes))
        if fv3:
            # layout-only rewrite: rows MUST keep both lineage values
            # (spec §Row Lineage — compaction changes neither identity
            # nor last-update); materialize them into the new files
            df = _resolve_lineage(
                spark,
                small,
                _read_files(
                    spark,
                    [e["data_file"] for e in small],
                    _lineage_scan_schema(spark_schema),
                    part_fields,
                    with_path_pos=True,
                ),
            ).select(
                *[f.name for f in spark_schema.fields],
                _ROW_ID_COL,
                _LAST_UPDATED_COL,
            )
        else:
            df = _read_files(
                spark, [e["data_file"] for e in small], spark_schema,
                part_fields,
            )
        df = df.repartition(n_out)
        added += _stage_data_files(
            df, path, ice_schema, part_fields,
            sort_fields=_default_sort_fields(meta, ice_schema),
        )
        rewritten += small

    if not rewritten:
        return snap["snapshot-id"]
    rewritten_paths = {e["data_file"]["file_path"] for e in rewritten}
    kept = [
        e for e in entries if e["data_file"]["file_path"] not in rewritten_paths
    ]
    return _commit_snapshot(
        path,
        meta,
        ice_schema,
        part_fields,
        added_files=added,
        existing_entries=kept,
        deleted_entries=rewritten,
        carry_prior_manifests=False,
        operation="replace",
        extra_carried_manifests=carried_manifests,
    )


def expire_snapshots(
    path: str,
    keep_last: int = 1,
    older_than: Any | None = None,
) -> dict:
    """Expire old snapshots — the spec's expire-snapshots maintenance
    op, and the Iceberg twin of Delta's vacuum + expire_log pair rolled
    into one: snapshot entries leave the metadata (time travel to them
    refuses with the standard does-not-exist error), their manifest
    lists are deleted, and manifests/data files referenced ONLY by
    expired snapshots are physically removed. Anything still reachable
    from a kept snapshot is untouched (append chains share manifests
    across snapshots; the reachability diff is what keeps them safe).

    Kept: the newest ``keep_last`` snapshots by sequence number, PLUS
    the snapshot ``current-snapshot-id`` points at (a foreign writer's
    rollback can leave the current snapshot below the max sequence —
    expiring it would leave metadata pointing at nothing), PLUS — when
    ``older_than`` is given (datetime or epoch millis) — every
    snapshot at least that recent. The age guard is the real client's
    primary retention control, and it is what bounds the in-flight-
    reader race: deleting files only AFTER the metadata commit
    protects readers that resolve metadata later, but a reader that
    resolved the OLD metadata just before the commit may still be
    scanning an expired snapshot's files when they are removed.
    Retention (expire only snapshots older than every plausible
    in-flight scan) is the mitigation; keep_last alone does not close
    that race.

    Returns {"expired_snapshots": [...], "deleted_files": n}. The
    bookkeeping walks manifests of expired+kept snapshots driver-side
    — metadata-sized, like every other log walk here. Committed as a
    new metadata version via the same put-if-absent primitive."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    cutoff_ms: int | None = None
    if older_than is not None:
        if isinstance(older_than, _dt):
            ref = (
                older_than
                if older_than.tzinfo is not None
                else older_than.replace(tzinfo=_tz.utc)
            )
            cutoff_ms = (ref - _EPOCH_DT) // _timedelta(milliseconds=1)
        else:
            cutoff_ms = int(older_than)
    meta = _load_metadata(path)
    snaps = sorted(
        meta.get("snapshots", []), key=lambda s: s.get("sequence-number", 0)
    )
    current_id = meta.get("current-snapshot-id")
    keep_ids = {s["snapshot-id"] for s in snaps[-keep_last:]}
    if current_id is not None and current_id != -1:
        keep_ids.add(current_id)
    # named refs PIN their snapshots (the spec's ref retention: a tag
    # outlives the snapshot churn around it — drop_ref to release)
    keep_ids |= {
        r["snapshot-id"] for r in (meta.get("refs") or {}).values()
    }
    if cutoff_ms is not None:
        keep_ids |= {
            s["snapshot-id"] for s in snaps if s["timestamp-ms"] >= cutoff_ms
        }
    expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
    kept = [s for s in snaps if s["snapshot-id"] in keep_ids]
    if not expired:
        return {"expired_snapshots": [], "deleted_files": 0}

    def _reachable(
        snapshots: list[dict], include_deleted: bool
    ) -> tuple[set, set]:
        # KEPT reachability skips status=DELETED entries (r11): a
        # DELETED entry records a file removed AS OF that snapshot —
        # reads of the kept snapshot never open it, so its last live
        # reference is in expired history and it may reclaim (e.g. a
        # superseded deletion-vector Puffin file, a CoW-rewritten data
        # file). EXPIRED reachability keeps everything mentioned: more
        # candidates, and any still-live path survives via kept.
        manifests: set[str] = set()
        data: set[str] = set()
        for s in snapshots:
            _, _, mlist = read_container(s["manifest-list"])
            for m in mlist:
                manifests.add(m["manifest_path"])
                _, _, entries = read_container(m["manifest_path"])
                for e in entries:
                    if include_deleted or e["status"] != _STATUS_DELETED:
                        data.add(e["data_file"]["file_path"])
        return manifests, data

    exp_manifests, exp_data = _reachable(expired, include_deleted=True)
    kept_manifests, kept_data = _reachable(kept, include_deleted=False)

    new_meta = dict(meta)
    new_meta.pop("_loaded_version", None)
    new_meta["snapshots"] = kept
    new_meta["snapshot-log"] = [
        e
        for e in meta.get("snapshot-log", [])
        if e["snapshot-id"] in keep_ids
    ]
    _put_metadata_version(path, meta["_loaded_version"] + 1, new_meta)

    # physical deletion AFTER the metadata commit: readers that resolve
    # metadata from here on never see the expired snapshots; see the
    # docstring for the in-flight-reader race older_than mitigates
    deleted = 0
    for s in expired:
        try:
            os.remove(s["manifest-list"])
            deleted += 1
        except OSError:
            pass
    for p_ in (exp_manifests - kept_manifests) | (exp_data - kept_data):
        try:
            os.remove(p_)
            deleted += 1
        except OSError:
            pass
    return {
        "expired_snapshots": [s["snapshot-id"] for s in expired],
        "deleted_files": deleted,
    }


# ------------------------------------------------------ copy-on-write DML
# The Delta twin's contract (sources/delta_dml.py): an affected-file
# probe (one distributed scan + distinct on the file column — the
# driver holds only a file LIST), a rewrite of JUST the affected
# files, and one commit whose manifest records the rewrite as
# ADDED + carried-EXISTING + DELETED entries. Untouched files never
# rewrite, so DML cost tracks the matched files, not the table.
# Commits label their operation per the spec's summary values
# ("delete"/"overwrite"), which read_iceberg_incremental already
# refuses to cross — rewritten rows can never double-count.


def _entries_by_base(entries: list[dict]) -> dict[str, dict]:
    out: dict[str, dict] = {}
    for e in entries:
        base = e["data_file"]["file_path"].rsplit("/", 1)[-1]
        if base in out:  # uuid-named staging makes this unreachable
            raise ValueError(f"duplicate data-file basename {base!r}")
        out[base] = e
    return out


def _group_entries_by_spec(
    meta: dict, entries: list[dict]
) -> dict[int, list[dict]]:
    """Group resolved entries by their EFFECTIVE writing spec: the
    manifest's spec id, collapsed to the default when the two specs'
    field lists are identical (a spec id can change without the layout
    changing — e.g. evolve A->B->A registers a new id for the same
    fields; those entries read and re-serialize exactly under the
    default, so they need no branch of their own)."""
    default_sid = meta.get("default-spec-id", 0)
    default_fields = _default_spec_fields(meta)
    out: dict[int, list[dict]] = {}
    for e in entries:
        sid = e.get("spec_id", default_sid)
        if sid != default_sid and _spec_fields_by_id(
            meta, sid
        ) == default_fields:
            sid = default_sid
        out.setdefault(sid, []).append(e)
    return out


def _spec_groups(
    meta: dict, ice_schema: dict, entries: list[dict]
) -> list[tuple[int, list[dict], list[dict]]]:
    """``entries`` by effective writing spec (:func:`_group_entries_by_spec`),
    in spec-id order: (spec id, that spec's partition fields resolved
    against ``ice_schema``, its entries). After partition evolution old
    files carry old-shaped tuples, so every read, DML scan and
    row-change side reads each file under its OWN spec."""
    return [
        (sid, _partition_fields(meta, ice_schema, sid), grp)
        for sid, grp in sorted(_group_entries_by_spec(meta, entries).items())
    ]


def _read_entries(
    spark: SparkSession,
    meta: dict,
    ice_schema: dict,
    entries: list[dict],
    scan_schema: T.StructType,
    **kw: Any,
) -> DataFrame:
    """:func:`_read_files` over resolved ``entries``, each file read
    under its own writing spec: one branch per spec generation (never
    per file), unioned under the one table schema. ``kw`` passes
    through to _read_files."""
    if not entries:
        return _read_files(spark, [], scan_schema, [], **kw)
    return reduce(
        DataFrame.unionByName,
        [
            _read_files(spark, [e["data_file"] for e in grp], scan_schema, pf, **kw)
            for _sid, pf, grp in _spec_groups(meta, ice_schema, entries)
        ],
    )


class _DmlPlan(NamedTuple):
    meta: dict
    snap: dict
    ice_schema: dict
    part_fields: list[dict]
    spark_schema: T.StructType
    entries: list[dict]
    dels: list[dict]
    scan: DataFrame

    @property
    def columns(self) -> list[str]:
        return [f.name for f in self.spark_schema.fields]

    @property
    def lineage(self) -> tuple[str, str] | None:
        """v3 row lineage, which every rewrite carries (row_dml.carry)."""
        if self.meta.get("format-version", 1) >= 3:
            return (_ROW_ID_COL, _LAST_UPDATED_COL)
        return None


def _dml_plan(
    spark: SparkSession,
    path: str,
    ctx: str = "copy-on-write DML",
    with_file: bool = True,
    meta: dict | None = None,
) -> _DmlPlan:
    """The one Iceberg DML plan, copy-on-write (``with_file``: the scan
    carries each row's file basename) and deletion-vector alike. It
    plans under the CURRENT schema (like a current read): after
    add_column, old files scan NULL for the new field and rewrites
    land in the evolved shape — so SET/MERGE may reference evolved
    columns. Name projection here (same boundary as partitioned reads;
    self-written tables are exact — renames go through
    rename_column_iceberg's guards).

    Live position/equality deletes and deletion vectors apply to the
    scan through _row_delete_filter, so a matched row is live by
    construction and a rewrite can never resurrect a deleted one;
    copy-on-write commits carry the parent's delete manifests forward
    (rewritten rows are immune — higher sequence / removed paths —
    while untouched files stay filtered)."""
    if meta is None:
        meta = _load_metadata(path)
    snap = _snapshot(meta, None)
    ice_schema = _schema_for(meta, meta.get("current-schema-id", 0))
    part_fields = _partition_fields(meta, ice_schema)
    spark_schema = _schema_to_spark(ice_schema)
    entries, dels = _entries_and_deletes_for_snapshot(path, snap)
    _refuse_renamed_files(meta, entries, ice_schema, ctx)
    scan_filter = (
        _row_delete_filter(spark, meta, entries, dels, ice_schema)
        if dels
        else None
    )
    # v3: the DML scan reads under the lineage-extended schema and
    # carries path/position, so rewrites can MATERIALIZE each copied
    # row's _row_id/_last_updated_sequence_number (spec §Row Lineage —
    # a CoW rewrite must not change surviving rows' identity)
    fv3 = meta.get("format-version", 1) >= 3
    scan_schema = _lineage_scan_schema(spark_schema) if fv3 else spark_schema
    # MIXED-SPEC tables: after partition evolution the live set spans
    # spec generations; the DML scan applies the snapshot-read rule —
    # identity injection keys on each file's OWN writing spec, one
    # branch per spec GENERATION (not per file), unioned back under
    # the one table schema. Rewritten rows re-stage under the DEFAULT
    # spec (the real engines' row-level-operation contract), and
    # _commit_snapshot serializes carried old-spec entries into
    # per-spec manifests, so partition records never cross specs.
    scan = _read_entries(
        spark,
        meta,
        ice_schema,
        entries,
        scan_schema,
        with_file=with_file,
        scan_filter=scan_filter,
        with_path_pos=fv3,
    )
    if fv3:
        scan = _resolve_lineage(spark, entries, scan)
    return _DmlPlan(
        meta, snap, ice_schema, part_fields, spark_schema, entries, dels, scan
    )


def _stage_plan_rows(path: str, p: _DmlPlan, rows: DataFrame) -> list[dict]:
    """Stage DML output rows under the plan's default spec and sort."""
    return _stage_data_files(
        rows, path, p.ice_schema, p.part_fields,
        sort_fields=_default_sort_fields(p.meta, p.ice_schema),
    )


def _commit_rewrite(
    path: str,
    p: _DmlPlan,
    affected: list[str],
    added: list[dict],
    operation: str,
    summary_extra: dict[str, str] | None = None,
) -> int:
    """The copy-on-write commit: the ``affected`` files (basenames) leave
    as DELETED, every other live file carries as EXISTING, ``added``
    joins, and live delete manifests carry forward."""
    by_base = _entries_by_base(p.entries)
    hit_set = set(affected)
    return _commit_snapshot(
        path,
        p.meta,
        p.ice_schema,
        p.part_fields,
        added_files=added,
        existing_entries=[e for b, e in by_base.items() if b not in hit_set],
        deleted_entries=[by_base[b] for b in sorted(hit_set)],
        carry_prior_manifests=False,
        operation=operation,
        summary_extra=summary_extra,
        carry_delete_manifests=bool(p.dels),
    )


def _safe_promotion(w_type: Any, r_type: Any) -> bool:
    """The Iceberg spec's lossless primitive type promotions (Schema
    Evolution: int->long, float->double, decimal(P,S)->decimal(P',S)
    with P' > P — precision widens, scale is fixed). Anything else is
    not safe to widen on read."""
    if not isinstance(w_type, str) or not isinstance(r_type, str):
        return False  # nested types never promote
    if (w_type, r_type) in {("int", "long"), ("float", "double")}:
        return True
    if w_type.startswith("decimal(") and r_type.startswith("decimal("):
        try:
            wp, ws = map(int, w_type[len("decimal("):-1].split(","))
            rp, rs = map(int, r_type[len("decimal("):-1].split(","))
        except ValueError:
            return False
        return rs == ws and rp > wp
    return False


def _refuse_renamed_files(
    meta: dict, entries: list[dict], ice_schema: dict, ctx: str
) -> None:
    """Raise if any scanned file was written under a schema where a
    CURRENT field-id carried a different name (a name-projected scan
    would read NULLs for the renamed column, and a CoW rewrite would
    MATERIALIZE them) or a different TYPE (the scan declares the read
    type, so parquet pages of the writing type would fail — or worse,
    silently coerce — instead of widening; only _read_entries_projected
    implements the spec's safe promotions) — refusal over silent data
    loss."""
    by_id_cur = {f["id"]: f for f in ice_schema["fields"]}
    cur_sid = ice_schema.get("schema-id", 0)
    seen: set[int] = set()
    for e in entries:
        sid = _writing_schema_id(meta, e, cur_sid)
        if sid == cur_sid or sid in seen:
            continue
        seen.add(sid)
        for wf in _schema_for(meta, sid)["fields"]:
            cur = by_id_cur.get(wf["id"])
            if cur is None:
                continue
            if cur["name"] != wf["name"]:
                raise NotImplementedError(
                    f"field {wf['id']} was renamed {wf['name']!r} -> "
                    f"{cur['name']!r}; {ctx} projects by name and would "
                    "read (and materialize) NULLs for the renamed "
                    "column in files written under the old schema"
                )
            if cur["type"] != wf["type"]:
                raise NotImplementedError(
                    f"field {wf['id']} changed type {wf['type']!r} -> "
                    f"{cur['type']!r}; {ctx} scans under the read "
                    "schema and cannot widen files written under the "
                    "old type (plain unpartitioned reads support the "
                    "spec's safe promotions)"
                )


def delete_iceberg(spark: SparkSession, path: str, predicate: str) -> int:
    """DELETE FROM table WHERE predicate (SQL-null semantics: only
    rows where the predicate is TRUE are deleted), copy-on-write: only
    files containing at least one matching row rewrite; the commit is
    a ``delete`` snapshot carrying every untouched file forward.
    Returns the new snapshot id (the current one unchanged if nothing
    matched — no empty commit)."""
    p = _dml_plan(spark, path)
    cond = F.expr(predicate)
    affected = affected_files(p.scan.filter(cond), _FILE_COL)
    if not affected:
        return p.snap["snapshot-id"]
    kept = cow_delete(
        p.scan.filter(F.col(_FILE_COL).isin(affected)),
        p.columns, cond, p.lineage,
    )
    return _commit_rewrite(
        path, p, affected, _stage_plan_rows(path, p, kept), "delete"
    )


def delete_iceberg_positional(
    spark: SparkSession,
    path: str,
    predicate: str,
    max_matched_rows: int = 10_000_000,
) -> int:
    """MERGE-ON-READ DELETE: write v2 POSITION DELETE files
    ((file_path, pos) rows, sorted — the spec's delete-file shape)
    instead of rewriting data files. Cost ∝ MATCHED ROWS, never
    affected-file bytes — on a 100 TB table a point delete writes
    kilobytes where the CoW rewrite (delete_iceberg) rewrites every
    touched file; the trade is read-side work (every snapshot read
    anti-joins the pairs) until the deletes are compacted away.
    Matching uses `_metadata.row_index` for the in-file row position —
    the scan stays one distributed job with no row-number shuffle.

    Partitioned tables (r9): delete files are PARTITION-SCOPED per the
    spec — matched pairs route to their data file's partition tuple
    (driver-known log metadata) and ONE write job emits per-partition
    sorted delete files via partitionBy on a group ordinal; plan width
    is the number of live partition TUPLES (the MOR shape targets
    point/CDC deletes — for bulk deletes use CoW delete_iceberg).

    Boundaries (honest refusals, not wrong rows): the written parquet
    carries the spec's column NAMES (file_path, pos) without its
    reserved parquet field-ids (readers here and the name-based
    ecosystem read it; field-id-strict readers may not), and matches
    above ``max_matched_rows`` refuse pointing at CoW — each delete
    file sorts inside ONE task (the per-group sortWithinPartitions),
    and the read side rebuilds the full pair set, so the backlog must
    stay metadata-sized. SQL DELETE semantics: only rows where the
    predicate is TRUE are deleted. A no-match predicate commits
    nothing. Returns the (possibly unchanged) snapshot id."""
    import shutil

    import pyarrow.parquet as pq

    meta = _load_metadata(path)
    if meta.get("format-version", 1) >= 3:
        raise NotImplementedError(
            "position-delete parquet files are deprecated on "
            "format-version 3 tables; use iceberg_dv.delete_iceberg_dv "
            "(Puffin deletion vectors) instead"
        )
    snap = _snapshot(meta, None)
    ice_schema = _schema_for(meta, meta.get("current-schema-id", 0))
    part_fields = _partition_fields(meta, ice_schema)
    spark_schema = _schema_to_spark(ice_schema)
    entries, _dels = _entries_and_deletes_for_snapshot(path, snap)
    # existing deletes need not be applied before matching: a pair
    # re-recorded for an already-deleted row is idempotent under the
    # read-side anti-join
    _refuse_renamed_files(meta, entries, ice_schema, "positional delete")
    if not entries:
        return snap["snapshot-id"]
    # delete files are partition-scoped under the spec that scopes
    # their referenced data files: groups key on (effective writing
    # spec, partition tuple under that spec), and _commit_snapshot
    # serializes them into per-spec delete manifests. ONE adaptive scan
    # (one branch per spec generation, each read by partition_scan) does
    # the matching, so a 1,000-partition point delete plans a handful
    # of scan nodes; matched pairs route to their delete-file group by
    # a BROADCAST map on file path, which is driver-known log metadata.
    default_sid = meta.get("default-spec-id", 0)
    spec_pf: dict[int, list[dict]] = {}
    groups: dict[tuple, list[dict]] = {}
    for sid, pf_s, grp in _spec_groups(meta, ice_schema, entries):
        spec_pf[sid] = pf_s
        for e in grp:
            part = e["data_file"].get("partition") or {}
            key = (sid, tuple(part.get(pf["name"]) for pf in pf_s))
            groups.setdefault(key, []).append(e["data_file"])
    group_keys = sorted(
        groups, key=lambda k: (k[0], tuple(map(str, k[1])))
    )
    scan = _read_entries(
        spark, meta, ice_schema, entries, spark_schema, with_path_pos=True
    )
    grp_map = spark.createDataFrame(
        [
            (_norm_path(d["file_path"]), gi)
            for gi, key in enumerate(group_keys)
            for d in groups[key]
        ],
        "file_path string, __grp int",
    )
    matched = (
        scan.filter(F.expr(predicate))
        .select(
            F.col(_ABS_PATH_COL).alias("file_path"),
            F.col(_POS_COL).alias("pos"),
        )
        .join(F.broadcast(grp_map), "file_path")
    )
    staging = os.path.join(path, _DATA_DIR, uuid.uuid4().hex)
    (
        matched.repartition("__grp")
        .sortWithinPartitions("file_path", "pos")
        .write.mode("overwrite")
        .partitionBy("__grp")
        .parquet(staging)
    )
    try:
        staged = _walk_staged_parquet(staging)
        delete_files: list[dict] = []
        total = 0
        for full, raw in staged:
            md_ = pq.ParquetFile(full).metadata
            if md_.num_rows == 0:
                continue
            total += md_.num_rows
            gi = int(raw["__grp"])
            g_sid, g_key = group_keys[gi]
            final = os.path.join(
                os.path.dirname(full), f"delete-{uuid.uuid4().hex}.parquet"
            )
            os.rename(full, final)
            rec = {
                "content": 1,
                "file_path": final,
                "file_format": "PARQUET",
                "partition": dict(
                    zip(
                        [pf["name"] for pf in spec_pf[g_sid]],
                        g_key,
                    )
                ),
                "record_count": md_.num_rows,
                "file_size_in_bytes": os.path.getsize(final),
                "lower_bounds": None,
                "upper_bounds": None,
            }
            if g_sid != default_sid:
                rec["_spec_id"] = g_sid  # per-spec delete manifest
            delete_files.append(rec)
        if total == 0:
            shutil.rmtree(staging, ignore_errors=True)
            return snap["snapshot-id"]
        if total > max_matched_rows:
            shutil.rmtree(staging, ignore_errors=True)
            raise ValueError(
                f"predicate matched {total} rows > max_matched_rows "
                f"({max_matched_rows}); a delete backlog this size "
                "belongs to copy-on-write delete_iceberg, not MOR "
                "position deletes"
            )
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return _commit_snapshot(
        path,
        meta,
        ice_schema,
        part_fields,
        added_files=[],
        existing_entries=[],
        deleted_entries=[],
        carry_prior_manifests=True,
        operation="delete",
        added_delete_files=delete_files,
    )


def rewrite_position_deletes(spark: SparkSession, path: str) -> int:
    """Fold live row-level deletes (POSITION and EQUALITY) back into
    data files (the spec's rewrite-deletes maintenance op): only
    AFFECTED data files rewrite (minus their deleted rows); untouched
    files carry forward as EXISTING with their original attribution,
    and the new snapshot drops every delete manifest — restoring the
    table to the state CoW DML/compaction accept. Affected =
    position-pair files (exact) ∪ files whose sequence number any
    equality delete can reach (seq < delete seq — conservative: a
    reachable file rewrites even if no row matches, the trade for
    skipping a per-file probe pass). No-op when no deletes are live."""
    meta = _load_metadata(path)
    snap = _snapshot(meta, None)
    ice_schema = _schema_for(meta, meta.get("current-schema-id", 0))
    part_fields = _partition_fields(meta, ice_schema)
    spark_schema = _schema_to_spark(ice_schema)
    entries, dels = _entries_and_deletes_for_snapshot(path, snap)
    if not dels:
        return snap["snapshot-id"]
    _refuse_renamed_files(
        meta, entries, ice_schema, "rewrite-position-deletes"
    )
    pos = [d for d in dels if d["data_file"]["content"] == 1]
    eqs = [d for d in dels if d["data_file"]["content"] == 2]
    affected: set[str] = set()
    pairs = None
    if pos:
        pairs = _position_delete_pairs(spark, entries, pos)
        affected |= {
            r["__dpath"]
            for r in pairs.select("__dpath").distinct().collect()
        }
    if eqs:
        max_eq = max(int(d["sequence_number"]) for d in eqs)
        affected |= {
            _norm_path(e["data_file"]["file_path"])
            for e in entries
            if int(e["sequence_number"]) < max_eq
        }
    by_path = {
        _norm_path(e["data_file"]["file_path"]): e for e in entries
    }
    hit = [by_path[p] for p in sorted(affected) if p in by_path]
    keep = [
        e
        for e in entries
        if _norm_path(e["data_file"]["file_path"]) not in affected
    ]
    added: list[dict] = []
    if hit:
        # reuse the already-built pair frame: no second pass over the
        # delete files (review finding). _read_files applies the
        # filter per branch (identity partition values inject AFTER
        # it) and re-staging re-derives the partition tuples — the
        # r9 partitioned-table path.
        flt = _row_delete_filter(
            spark, meta, entries, dels, ice_schema, pos_pairs=pairs
        )
        fv3 = meta.get("format-version", 1) >= 3
        # mixed-spec live sets scan per spec generation (identity
        # injection under each file's own writing spec); the rewritten
        # survivors re-stage under the DEFAULT spec below, and the
        # untouched keep-entries serialize per-spec in _commit_snapshot
        remaining = _read_entries(
            spark,
            meta,
            ice_schema,
            hit,
            _lineage_scan_schema(spark_schema) if fv3 else spark_schema,
            scan_filter=flt,
            with_path_pos=fv3,
        )
        if fv3:
            # delete-fold is a layout rewrite of the SURVIVING rows:
            # both lineage values carry (r12, spec §Row Lineage)
            remaining = _resolve_lineage(spark, hit, remaining).select(
                *[f.name for f in spark_schema.fields],
                _ROW_ID_COL,
                _LAST_UPDATED_COL,
            )
        added = _stage_data_files(
            remaining, path, ice_schema, part_fields,
            sort_fields=_default_sort_fields(meta, ice_schema),
        )
    return _commit_snapshot(
        path,
        meta,
        ice_schema,
        part_fields,
        added_files=added,
        existing_entries=keep,
        deleted_entries=hit,
        carry_prior_manifests=False,
        operation="replace",
    )


def upsert_iceberg_mor(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
) -> int:
    """MERGE-ON-READ UPSERT — the streaming-CDC write shape (what the
    Flink Iceberg upsert sink commits): ONE snapshot carries (a) the
    source rows as new data files and (b) an EQUALITY DELETE file
    holding the source keys (content=2, equality_ids = the key
    columns' field ids). The spec's strict sequence rule does the
    merge: the delete (seq s) removes old versions in files with
    seq < s, while the batch's own data files (seq s) are untouched —
    so cost is ∝ BATCH SIZE and independent of table size (the CoW
    merge_iceberg rewrite is ∝ affected-file bytes), traded for
    read-side anti-joins until rewrite_position_deletes folds the
    backlog. Partitioned tables (r9): batch data files stage per
    partition as usual; the equality delete commits GLOBALLY under a
    registered unpartitioned spec (the spec's table-wide scope — an
    updated key's OLD version may live in a different partition than
    its new one, so partition-scoped deletes would miss it). Keys on
    identity partition SOURCE columns refuse (scan branches inject
    those values after the delete filter; use CoW merge_iceberg).
    Duplicate source keys refuse (an in-batch order would be
    arbitrary); empty batches commit nothing. Returns the (possibly
    unchanged) snapshot id.

    v3 ROW LINEAGE semantics (decided, r12): an equality upsert IS a
    delete + insert per the spec — the re-inserted version of a key is
    a NEW row and mints a FRESH ``_row_id`` (no identity carry across
    the equality delete); engines needing carried identity use the DV
    or CoW merge paths, which preserve it."""
    import shutil

    import pyarrow.parquet as pq

    meta = _load_metadata(path)
    snap = _snapshot(meta, None)
    ice_schema = _schema_for(meta, meta.get("current-schema-id", 0))
    part_fields = _partition_fields(meta, ice_schema)
    id_src = {pf["source_name"] for pf in _identity_fields(part_fields)}
    bad_keys = sorted(set(keys) & id_src)
    if bad_keys:
        raise NotImplementedError(
            f"MOR upsert keyed on identity partition column(s) "
            f"{bad_keys} is not supported (partition values inject "
            "AFTER the read-side delete filter); use merge_iceberg "
            "(copy-on-write)"
        )
    spark_schema = _schema_to_spark(ice_schema)
    tcols = [f.name for f in spark_schema.fields]
    if sorted(source.columns) != sorted(tcols):
        raise ValueError(
            f"source columns {sorted(source.columns)} != table's "
            f"{sorted(tcols)}"
        )
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    ids = []
    for k in keys:
        f = by_name.get(k)
        if f is None or not isinstance(f["type"], str):
            raise ValueError(
                f"upsert key {k!r} must be a top-level primitive column"
            )
        ids.append(f["id"])
    dup = (
        source.groupBy(*keys).count().filter("count > 1").limit(1).collect()
    )
    if dup:
        raise ValueError(
            "source has duplicate keys "
            f"(e.g. {tuple(dup[0][k] for k in keys)!r}); MOR upsert "
            "would be ambiguous"
        )
    source = source.select(*tcols)
    added = _stage_data_files(
        source, path, ice_schema, part_fields,
        sort_fields=_default_sort_fields(meta, ice_schema),
    )
    if not added:
        return snap["snapshot-id"]
    # the equality delete file: one sorted row per source key tuple
    staging = os.path.join(path, _DATA_DIR, uuid.uuid4().hex)
    source.select(*keys).distinct().orderBy(*keys).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    try:
        staged = [full for full, _ in _walk_staged_parquet(staging)]
        assert len(staged) == 1
        n_rows = pq.ParquetFile(staged[0]).metadata.num_rows
        final = os.path.join(staging, f"eq-delete-{uuid.uuid4().hex}.parquet")
        os.rename(staged[0], final)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    eq_file = {
        "content": 2,
        "file_path": final,
        "file_format": "PARQUET",
        "partition": {},
        "record_count": n_rows,
        "file_size_in_bytes": os.path.getsize(final),
        "lower_bounds": None,
        "upper_bounds": None,
        "equality_ids": ids,
    }
    return _commit_snapshot(
        path,
        meta,
        ice_schema,
        part_fields,
        added_files=added,
        existing_entries=[],
        deleted_entries=[],
        carry_prior_manifests=True,
        operation="overwrite",
        added_delete_files=[eq_file],
        delete_files_unpartitioned_spec=True,
    )


def update_iceberg(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    predicate: str | None = None,
) -> int:
    """UPDATE table SET col = expr, ... [WHERE predicate], copy-on-
    write. Expressions are SQL over the row's own columns (evaluated
    against the PRE-update row, like SQL UPDATE). Every partition
    SOURCE column — identity or transform — refuses (a real row-move
    rewrite is MERGE's job; the Delta twin refuses its partition
    columns the same way). Returns the new snapshot id."""
    p = _dml_plan(spark, path)
    check_set(
        set_exprs, p.columns, {pf["source_name"] for pf in p.part_fields}
    )
    cond = F.expr(predicate) if predicate is not None else F.lit(True)
    affected = affected_files(p.scan.filter(cond), _FILE_COL)
    if not affected:
        return p.snap["snapshot-id"]
    rewritten = cow_update(
        p.scan.filter(F.col(_FILE_COL).isin(affected)),
        p.spark_schema.fields, set_exprs, cond, p.lineage,
    )
    return _commit_rewrite(
        path, p, affected, _stage_plan_rows(path, p, rewritten), "overwrite"
    )


def merge_iceberg(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    when_matched: str = "update",
    insert_not_matched: bool = True,
    summary_extra: dict[str, str] | None = None,
) -> int:
    """MERGE INTO table USING source ON equality of ``keys``, copy-on-
    write — the Delta twin's contract exactly (row_dml.check_merge):

    ``when_matched``: 'update' (matched target rows take the source
    row's values — full-row upsert), 'delete' (matched rows removed),
    or 'none'. ``insert_not_matched``: source rows matching no target
    row are appended. Source must be duplicate-free on the keys (a
    target row matching two source rows is ambiguous — raises, same
    as the real MERGE). Returns the new snapshot id.

    Scale shape: the match probe is one distributed join of the
    target scan against the (usually far smaller, auto-broadcast)
    source keys; only files containing matches rewrite; inserts
    append; a partition-aligned key makes the probe partition-pruned
    at the parquet level and keeps rewrites inside their partitions."""
    p = _dml_plan(spark, path)
    source = check_merge(source, p.columns, keys, when_matched)
    cm = cow_merge(p.scan, _FILE_COL, source, keys, when_matched, p.lineage)
    added = _stage_plan_rows(path, p, cm.rewritten) if cm.affected else []
    if insert_not_matched:
        added += _stage_plan_rows(path, p, cm.inserts)
    if not added and not cm.affected:
        # a true no-op (nothing matched, nothing staged) commits
        # nothing — including no summary_extra marker. Safe for the
        # streaming upsert sink: replaying a no-op batch is another
        # no-op, and any LATER marker-bearing commit already covers
        # redelivery detection (batch_id <= last).
        return p.snap["snapshot-id"]
    return _commit_rewrite(
        path, p, cm.affected, added, "overwrite", summary_extra
    )


def last_committed_batch(path: str, app_id: str) -> int | None:
    """The highest streaming batch id durably committed for ``app_id``,
    read from snapshot summary properties (the marker channel the real
    Spark/Flink Iceberg sinks use — epoch / checkpoint ids live in the
    snapshot summary, atomically with the data commit). None if no
    snapshot carries the app's marker. Markers survive as long as
    their snapshots; expire_snapshots keeping >= 1 marker-bearing
    snapshot preserves idempotence across restarts (the same retention
    contract as Delta's txn actions surviving in the log)."""
    try:
        meta = _load_metadata(path)
    except FileNotFoundError:
        return None
    best: int | None = None
    for s in meta.get("snapshots", []):
        summ = s.get("summary", {})
        if summ.get("streaming-app-id") != app_id:
            continue
        try:
            b = int(summ.get("streaming-batch-id", ""))
        except ValueError:
            continue
        best = b if best is None or b > best else best
    return best


def remove_orphan_files(
    path: str,
    older_than_ms: int | None = None,
    retention_hours: float = 72.0,
) -> list[str]:
    """Delete files under the table location referenced by NO snapshot
    in the current metadata — the spec's remove-orphan-files
    maintenance op. Orphans are real in this engine: a commit that
    loses the put-if-absent race (IcebergCommitConflict) leaves its
    staged data parquet, manifest, and manifest list on disk, and a
    crashed writer leaves partial staging dirs.

    Safety is the AGE GUARD, exactly as in the real client: an
    in-flight commit stages files BEFORE claiming the metadata
    version, so a freshly staged file is indistinguishable from an
    orphan — only files modified before ``now - retention_hours``
    (or an explicit ``older_than_ms`` cutoff, epoch millis) are
    deleted; the default 72 h mirrors the real op's 3-day default.
    Driver-side listing + set difference over metadata-sized
    reference sets; returns the deleted paths."""
    meta = _load_metadata(path)
    referenced: set[str] = set()
    for s in meta.get("snapshots", []):
        referenced.add(s["manifest-list"])
        _, _, mlist = read_container(s["manifest-list"])
        for m in mlist:
            referenced.add(m["manifest_path"])
            _, _, entries = read_container(m["manifest_path"])
            for e in entries:
                referenced.add(e["data_file"]["file_path"])

    cutoff = (
        older_than_ms
        if older_than_ms is not None
        else int(time.time() * 1000) - int(retention_hours * 3600 * 1000)
    )
    deleted: list[str] = []
    data_root = os.path.join(path, _DATA_DIR)
    for root, _dirs, names in os.walk(data_root):
        for n in names:
            full = os.path.join(root, n)
            if full in referenced or not n.endswith(".parquet"):
                continue
            try:
                if os.path.getmtime(full) * 1000 >= cutoff:
                    continue
                os.remove(full)
                deleted.append(full)
            except OSError:
                continue
    md = _metadata_dir(path)
    for n in os.listdir(md):
        if not n.endswith(".avro"):
            continue  # metadata jsons and the hint are never orphans
        full = os.path.join(md, n)
        if full in referenced:
            continue
        try:
            if os.path.getmtime(full) * 1000 >= cutoff:
                continue
            os.remove(full)
            deleted.append(full)
        except OSError:
            continue
    # sweep now-empty staging dirs (cosmetic; listing stays clean)
    for root, dirs, names in os.walk(data_root, topdown=False):
        if root != data_root and not dirs and not names:
            try:
                os.rmdir(root)
            except OSError:
                pass
    return sorted(deleted)


# ------------------------------------------------------- schema evolution
# Metadata-only commits (spec §Schema Evolution): a new schema joins
# the `schemas` list under a bumped current-schema-id; data files are
# untouched. Reads resolve through field-id projection — old files
# scan NULL for added ids and keep serving renamed ids — and the
# writer's schema check pins appends to the NEW shape from then on.


def _put_metadata_version(path: str, new_version: int, new_meta: dict) -> None:
    """The one Iceberg commit point: put-if-absent claim of
    ``v<new_version>.metadata.json`` holding ``new_meta`` as given,
    then repoint the version hint. Raises IcebergCommitConflict if the
    version was already taken (a commit landed since planning)."""
    md = _metadata_dir(path)
    target = os.path.join(md, f"v{new_version}.metadata.json")
    if not put_if_absent(target, json.dumps(new_meta)):
        raise IcebergCommitConflict(
            f"metadata version {new_version} of {path} was committed "
            "concurrently; re-read the table and retry"
        )
    tmp_hint = os.path.join(md, f".{_VERSION_HINT}.{uuid.uuid4().hex}")
    with open(tmp_hint, "w", encoding="utf-8") as fh:
        fh.write(str(new_version))
    os.replace(tmp_hint, os.path.join(md, _VERSION_HINT))


def _claim_metadata_version(path: str, meta: dict, new_meta: dict) -> int:
    """Shared metadata-only commit primitive (schema evolution, refs):
    stamp ``last-updated-ms`` and commit ``meta['_loaded_version'] + 1``.
    Metadata-only commits never assign row ids, so v3 tables need no
    lineage bookkeeping here."""
    new_meta = dict(new_meta)
    new_meta.pop("_loaded_version", None)
    new_meta["last-updated-ms"] = int(time.time() * 1000)
    new_version = meta["_loaded_version"] + 1
    _put_metadata_version(path, new_version, new_meta)
    return new_version


def upgrade_iceberg_v3(path: str) -> int:
    """Upgrade a format-version 2 table to FORMAT-VERSION 3 in place
    (metadata-only commit, the spec's version-upgrade path): stamps
    ``format-version: 3`` and initializes the row-lineage counter
    (``next-row-id: 0`` — v2 never assigned row ids, so post-upgrade
    commits start the sequence; pre-upgrade snapshots carry no
    first-row-id, which v3 readers treat as lineage-less history).

    Refuses while live position-delete PARQUET files exist: v3
    deprecates them in favor of deletion vectors — run
    rewrite_position_deletes first (equality deletes stay valid in v3
    and carry through). Returns the new metadata version."""
    meta = _load_metadata(path)
    fv = meta.get("format-version", 1)
    if fv >= 3:
        return meta["_loaded_version"]
    if meta.get("current-snapshot-id", -1) not in (None, -1):
        _, dels = _entries_and_deletes_for_snapshot(
            path, _snapshot(meta, None)
        )
        pos_parquet = [
            d
            for d in dels
            if d["data_file"]["content"] == 1
            and d["data_file"]["file_format"].upper() == "PARQUET"
        ]
        if pos_parquet:
            raise NotImplementedError(
                "upgrade to format-version 3 with live position-delete "
                "parquet files: v3 deprecates them for deletion "
                "vectors — run rewrite_position_deletes first"
            )
    new_meta = dict(meta)
    new_meta["format-version"] = 3
    new_meta["next-row-id"] = 0
    return _claim_metadata_version(path, meta, new_meta)


def _evolve_schema(path: str, mutate) -> int:
    """Shared metadata-only schema commit: ``mutate(fields, meta)``
    edits a deep copy of the current schema's field list in place and
    may bump meta bookkeeping (last-column-id). Claims the next
    metadata version with the same put-if-absent primitive as data
    commits. Returns the new schema id."""
    meta = _load_metadata(path)
    cur = _schema_for(meta, meta.get("current-schema-id", 0))
    new_schema = json.loads(json.dumps(cur))
    new_schema["schema-id"] = (
        max(s.get("schema-id", 0) for s in meta["schemas"]) + 1
    )
    new_meta = dict(meta)
    new_meta.pop("_loaded_version", None)
    mutate(new_schema["fields"], new_meta)
    new_meta["schemas"] = list(meta["schemas"]) + [new_schema]
    new_meta["current-schema-id"] = new_schema["schema-id"]
    _claim_metadata_version(path, meta, new_meta)
    return new_schema["schema-id"]


def add_column_iceberg(path: str, name: str, ice_type: str) -> int:
    """ADD COLUMN (top-level, optional, primitive): existing data
    files scan as NULL for the new field-id (the projection's
    added-column rule — no file is touched); appends from now on must
    carry the column. The Iceberg twin of Delta's schema-evolution
    append path (lakehouse_delta_evolution_agg's shape)."""
    valid = {p for _, p in _PRIMITIVES} | {"timestamp", "timestamptz"}
    if ice_type not in valid:
        raise NotImplementedError(
            f"add_column supports primitive types {sorted(valid)}; "
            f"got {ice_type!r}"
        )

    def mutate(fields: list[dict], meta: dict) -> None:
        if any(f["name"] == name for f in fields):
            raise ValueError(f"column {name!r} already exists")
        fid = meta.get("last-column-id", len(fields)) + 1
        meta["last-column-id"] = fid
        # spec: added columns are always optional (required would make
        # every existing row invalid)
        fields.append(
            {"id": fid, "name": name, "required": False, "type": ice_type}
        )

    return _evolve_schema(path, mutate)


def update_partition_spec(path: str, partition_by: list[str]) -> int:
    """ALTER TABLE ... partition evolution (spec §Partition Evolution):
    install a NEW default partition spec — metadata-only, so a 100 TB
    table repartitions WITHOUT rewriting a byte. Existing files keep
    their original spec (manifests record partition-spec-id); new
    writes stage under the new layout; snapshot reads handle the mix
    per manifest spec (each group injects/prunes under its OWN spec —
    _read_entries_projected), and REWRITE paths (CoW DML, compaction,
    MOR deletes) conservatively refuse on mixed-spec live sets by name
    (re-serializing an old tuple under the new spec would corrupt it).

    ``partition_by`` takes the same entries as write_iceberg — plain
    columns (identity) or ``day(ts)``/``bucket(16, id)``/
    ``truncate(4, s)`` — and ``[]`` un-partitions (new files land
    flat). Per the spec's evolution rules, a field equivalent to one
    in ANY earlier spec (same source column + transform) REUSES its
    partition field id and name; genuinely new fields mint fresh ids
    above last-partition-id. Installing a spec identical to the
    current default is a no-op (no version burned). Returns the new
    spec id (or the current one on no-op)."""
    meta = _load_metadata(path)
    ice_schema = _schema_for(meta, meta.get("current-schema-id", 0))
    specs = list(meta.get("partition-specs", []))
    existing_by_key: dict[tuple[int, str], dict] = {}
    for sp in specs:
        for pf in sp.get("fields", []):
            existing_by_key.setdefault(
                (pf["source-id"], pf["transform"]), pf
            )
    last_pid = meta.get(
        "last-partition-id",
        max(
            [999]
            + [
                pf["field-id"]
                for sp in specs
                for pf in sp.get("fields", [])
            ]
        ),
    )
    new_fields: list[dict] = []
    for entry in partition_by:
        col, transform, _param = _parse_partition_by(entry)
        kind, _ = _parse_transform(transform)
        src = next(
            (f for f in ice_schema["fields"] if f["name"] == col), None
        )
        if src is None:
            raise ValueError(f"partition column {col!r} not in schema")
        allowed = _TRANSFORM_SOURCES[kind]
        if not isinstance(src["type"], str) or src["type"] not in allowed:
            raise NotImplementedError(
                f"partition column {col!r} of transform {transform!r} "
                f"must be a top-level {'/'.join(allowed)} column"
            )
        prior = existing_by_key.get((src["id"], transform))
        if prior is not None:
            new_fields.append(dict(prior))  # spec rule: reuse id+name
            continue
        suffix = {
            "identity": "",
            "bucket": "_bucket",
            "truncate": "_trunc",
        }.get(kind, f"_{kind}")
        last_pid += 1
        new_fields.append(
            {
                "source-id": src["id"],
                "field-id": last_pid,
                "name": f"{col}{suffix}",
                "transform": transform,
            }
        )
    cur_default = _default_spec_fields(meta)
    if new_fields == cur_default:
        return meta.get("default-spec-id", 0)  # no-op
    # an existing spec with the exact field list is re-defaulted
    # instead of duplicated
    for sp in specs:
        if sp.get("fields", []) == new_fields:
            new_sid = sp["spec-id"]
            break
    else:
        new_sid = max((sp["spec-id"] for sp in specs), default=-1) + 1
        specs = specs + [{"spec-id": new_sid, "fields": new_fields}]
    new_meta = dict(meta)
    new_meta.pop("_loaded_version", None)
    new_meta["partition-specs"] = specs
    new_meta["default-spec-id"] = new_sid
    new_meta["last-partition-id"] = last_pid
    _claim_metadata_version(path, meta, new_meta)
    return new_sid


def _split_foreign_spec_manifests(
    path: str, meta: dict, snap: dict, entries: list[dict]
) -> tuple[list[dict], list[dict]]:
    """Partition a snapshot's live state for a default-spec-scoped
    manifest rewrite (compaction, rewrite_manifests): returns
    (entries written under the DEFAULT spec — safe to re-serialize,
    DATA-manifest-list records of every other spec — carried verbatim
    via _commit_snapshot's extra_carried_manifests, their partition
    records untouched). Works because manifests are spec-HOMOGENEOUS
    (partition-spec-id is a manifest-level field). A non-default spec
    id whose FIELD LIST equals the default's (renumbered identical
    spec) counts as default — re-serialization is byte-compatible."""
    default_sid = meta.get("default-spec-id", 0)
    fields = {
        sp.get("spec-id", 0): sp.get("fields", [])
        for sp in meta.get("partition-specs", [])
    }

    def _is_default(sid: int) -> bool:
        return sid == default_sid or fields.get(sid) == fields.get(
            default_sid
        )

    own = [e for e in entries if _is_default(e.get("spec_id", default_sid))]
    if len(own) == len(entries):
        return entries, []
    _, _, manifests = read_container(snap["manifest-list"])
    carried = [
        m
        for m in manifests
        if m["content"] == 0
        and not _is_default(m.get("partition_spec_id", 0))
    ]
    return own, carried


def drop_column_iceberg(path: str, name: str) -> int:
    """DROP COLUMN: metadata-only — the field leaves the current
    schema, its id is never reused (last-column-id only grows), and
    every data file keeps its physical bytes; field-id projection
    simply stops requesting the id, so no file is touched at any
    table size. Completes the add/rename/drop evolution trio.

    Refusals, each by name:
    * a partition SOURCE field (any spec transform reads it — the
      layout depends on the column);
    * a SORT ORDER field (the declared per-file order would dangle;
      replace the sort order first);
    * an IDENTIFIER field (schema `identifier-field-ids` — the
      table's declared row identity);
    * a field referenced by LIVE equality delete files
      (`equality_ids` scope rows by the column's values — dropping it
      would orphan their semantics; rewrite or fold the deletes
      first; this is the one check that walks the current snapshot's
      delete manifests, still driver-side metadata);
    * the only remaining column.

    Re-adding a same-named column later gets a FRESH id, so old files
    read NULL for it (never the dropped column's bytes) — the spec's
    id-based safety this engine's projection already implements."""
    meta = _load_metadata(path)
    cur = _schema_for(meta, meta.get("current-schema-id", 0))
    hit = [f for f in cur["fields"] if f["name"] == name]
    if not hit:
        raise ValueError(f"column {name!r} not in schema")
    fid = hit[0]["id"]
    if len(cur["fields"]) == 1:
        raise ValueError("cannot DROP the table's only column")
    for spec in meta.get("partition-specs", []) or [
        {"fields": meta.get("partition-spec", [])}
    ]:
        for pf in spec.get("fields", []):
            if pf.get("source-id") == fid:
                raise ValueError(
                    f"cannot DROP partition source column {name!r} "
                    f"(spec field {pf.get('name')!r} transforms it)"
                )
    for so in meta.get("sort-orders", []):
        for sf in so.get("fields", []):
            if sf.get("source-id") == fid:
                raise ValueError(
                    f"cannot DROP sort-order column {name!r} (sort "
                    f"order {so.get('order-id')} declares it); replace "
                    "the sort order first"
                )
    if fid in (cur.get("identifier-field-ids") or []):
        raise ValueError(
            f"cannot DROP identifier field {name!r} (schema "
            "identifier-field-ids — the table's declared row identity)"
        )
    if meta.get("current-snapshot-id") not in (None, -1):
        snap = _snapshot(meta, None)
        _, dels = _entries_and_deletes_for_snapshot(path, snap)
        for d in dels:
            eq_ids = d["data_file"].get("equality_ids") or []
            if fid in eq_ids:
                raise ValueError(
                    f"cannot DROP column {name!r}: live equality "
                    "delete files key on it (equality_ids); rewrite "
                    "or fold the deletes first"
                )

    def mutate(fields: list[dict], new_meta: dict) -> None:
        fields[:] = [f for f in fields if f["name"] != name]

    return _evolve_schema(path, mutate)


def rename_column_iceberg(path: str, old: str, new: str) -> int:
    """RENAME COLUMN: metadata-only — the field keeps its id, so every
    existing data file keeps serving the column through field-id
    projection (reads group files by their WRITING schema and alias
    the old name to the new one, _read_entries_projected).

    Partitioned tables (r9 late, lifting the r7 refusal): safe on both
    sides of the spec's indirection —

    * manifest partition RECORDS key by the SPEC FIELD name, which a
      column rename never touches (spec fields are immutable; only
      the schema field renames), so historical tuples keep decoding;
    * `_partition_fields` resolves spec field -> CURRENT column by
      source-id, so injection/pruning/table_partitions all surface
      the new name, and pre-rename scan branches inject under the
      WRITING schema's source name before aliasing (the r8 foreign-
      rename machinery — own renames ride the identical path).

    Rewrite paths (DML, compaction, incremental) keep their standing
    conservative refusal over files written under the old name."""

    def mutate(fields: list[dict], meta: dict) -> None:
        hit = [f for f in fields if f["name"] == old]
        if not hit:
            raise ValueError(f"column {old!r} not in schema")
        if any(f["name"] == new for f in fields):
            raise ValueError(f"column {new!r} already exists")
        hit[0]["name"] = new

    return _evolve_schema(path, mutate)


def rewrite_manifests(spark: SparkSession, path: str) -> int:
    """Manifest compaction (the spec's rewrite-manifests maintenance
    op): collapse the current snapshot's manifest LIST — which grows
    one manifest per append, so a 10k-append chain costs 10k avro
    reads per planning walk — into a single manifest of EXISTING
    entries with every file's original attribution and sequence
    numbers preserved. Data files are untouched (zero Spark jobs;
    driver-side metadata only), rows identical, expire/incremental
    semantics exact (preserved sequence numbers are what keeps them
    so). Commits a ``replace`` snapshot via the same planning-version
    put-if-absent as every other commit; incremental scans crossing
    it refuse, the standard conservative contract for non-append
    snapshots. Returns the new snapshot id (unchanged when the list
    already holds a single manifest)."""
    meta = _load_metadata(path)
    snap = _snapshot(meta, None)
    _, _, manifests = read_container(snap["manifest-list"])
    if len(manifests) <= 1:
        return snap["snapshot-id"]
    ice_schema = _schema_for(meta, meta.get("current-schema-id", 0))
    part_fields = _partition_fields(meta, ice_schema)
    entries = _entries_for_snapshot(path, snap)
    # mixed-spec tables collapse the DEFAULT spec's manifests and
    # carry evolved-away specs' manifests verbatim (spec-homogeneous
    # manifests make this exact — see _split_foreign_spec_manifests)
    entries, carried_manifests = _split_foreign_spec_manifests(
        path, meta, snap, entries
    )
    if not entries and len(carried_manifests) == len(
        [m for m in manifests if m["content"] == 0]
    ):
        return snap["snapshot-id"]  # nothing collapsible
    return _commit_snapshot(
        path,
        meta,
        ice_schema,
        part_fields,
        added_files=[],
        existing_entries=entries,
        deleted_entries=[],
        carry_prior_manifests=False,
        operation="replace",
        extra_carried_manifests=carried_manifests,
    )


def _partition_rows(path: str) -> tuple[list[tuple], list]:
    """The .partitions metadata table CONTENT, driver-side: (rows,
    StructFields) — one row per (spec, partition tuple) of the CURRENT
    snapshot with live file/row counts, answered entirely from the
    manifests (driver-side metadata, no data scan), like the real
    client's partitions table. Partition
    values come back as their source types (dates decoded from epoch
    days). Unpartitioned tables return a single all-table totals row
    (no partition columns). MOR tables work (r11): the counts are
    PHYSICAL file-level stats exactly as the real partitions table
    reports them — row-level deletes do not subtract (they are delete
    files, not edits to data-file record counts).

    MIXED-SPEC tables work (r13, lifting the r12 refusal) the way the
    real partitions table does: the row shape is the UNION of every
    live spec's surfaced fields (a spec's own fields hold values, the
    rest read null) plus a ``spec_id`` column attributing each row to
    its writing spec — old-generation tuples keep their own row
    identity instead of lumping into a null-keyed default-spec row.
    Two specs surfacing the same field name with different stored
    types refuse by name (no honest unified column exists)."""
    meta = _load_metadata(path)
    snap = _snapshot(meta, None)
    ice_schema = _schema_for(
        meta, snap.get("schema-id", meta.get("current-schema-id", 0))
    )
    entries, _dels = _entries_and_deletes_for_snapshot(path, snap)
    by_spec = _group_entries_by_spec(meta, entries)
    default_sid = meta.get("default-spec-id", 0)
    sids = sorted(set(by_spec) | {default_sid})
    pf_by_sid = {
        sid: _partition_fields(meta, ice_schema, sid) for sid in sids
    }

    def _surfaced(pf: dict) -> str:
        # identity fields surface under the SOURCE column name/type;
        # transform fields under the spec field name with the
        # transform's stored result type (day ordinals, bucket ids,
        # truncated values)
        return (
            pf["source_name"]
            if pf["transform"] == "identity"
            else pf["name"]
        )

    cols: list[tuple[str, str]] = []  # (surfaced name, result_type)
    col_types: dict[str, str] = {}
    for sid in [default_sid] + [s for s in sids if s != default_sid]:
        for pf in pf_by_sid[sid]:
            nm = _surfaced(pf)
            if nm in col_types:
                if col_types[nm] != pf["result_type"]:
                    raise NotImplementedError(
                        f"partition field {nm!r} stores type "
                        f"{pf['result_type']!r} under spec {sid} but "
                        f"{col_types[nm]!r} under another live spec; "
                        "no honest unified column exists"
                    )
                continue
            col_types[nm] = pf["result_type"]
            cols.append((nm, pf["result_type"]))

    agg: dict[tuple, list[int]] = {}
    for sid in sids:
        own = {_surfaced(pf): pf["name"] for pf in pf_by_sid[sid]}
        for e in by_spec.get(sid, []):
            part = e["data_file"].get("partition") or {}
            key = (sid,) + tuple(
                part.get(own[nm]) if nm in own else None
                for nm, _t in cols
            )
            cur = agg.setdefault(key, [0, 0, 0])
            cur[0] += 1
            cur[1] += e["data_file"]["record_count"]
            cur[2] += e["data_file"]["file_size_in_bytes"]
    rows = [
        tuple(
            None
            if v is None
            else _avro_partition_to_python(t, v)
            for (_nm, t), v in zip(cols, key[1:])
        )
        + (key[0], n_files, n_rows, n_bytes)
        for key, (n_files, n_rows, n_bytes) in sorted(
            agg.items(), key=lambda kv: tuple(map(str, kv[0]))
        )
    ]
    fields = [
        T.StructField(nm, _iceberg_to_spark_type(t), True)
        for nm, t in cols
    ] + [
        T.StructField("spec_id", T.LongType(), False),
        T.StructField("n_files", T.LongType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
    return rows, fields


def partition_infos(path: str) -> list[dict]:
    """Driver-side twin of :func:`table_partitions`: the same one-row-
    per-(spec, partition tuple) content as plain dicts keyed by the
    surfaced column names (+ spec_id/n_files/n_rows/n_bytes). For
    callers that only pick or validate partition values (the pruning
    probes): the rows are computed from driver-resident manifests
    either way, so there is no reason to round-trip them through a
    createDataFrame -> collect Spark job (r15, guide §5 — same policy
    as snapshot_infos/timeline_infos/history_infos)."""
    rows, fields = _partition_rows(path)
    names = [f.name for f in fields]
    return [dict(zip(names, r)) for r in rows]


def table_partitions(spark: SparkSession, path: str) -> DataFrame:
    """Queryable-frame wrapper over :func:`_partition_rows` — the
    .partitions metadata table shape (see the docstring there)."""
    rows, fields = _partition_rows(path)
    return spark.createDataFrame(rows, T.StructType(fields))


def forge_v3_dv_commit(path: str, deletes: dict[str, list[int]]) -> int:
    """FIXTURE/TEST writer (the Delta write_dv_file twin): upgrade an
    UNPARTITIONED v2 table this engine wrote to FORMAT-VERSION 3 and
    attach Puffin deletion vectors — forging the commit a v3-era
    foreign writer (Spark 4 + Iceberg 1.8, table spec v3 §Deletion
    vectors) would produce, so the read path can be tested and graded
    against it without a real v3 writer in the container.

    ``deletes``: {data file path (as stored in the manifest) ->
    row positions to delete}. One Puffin file holds one
    deletion-vector-v1 blob per referenced file; the delete manifest's
    entries carry the spec's referenced_data_file / content_offset /
    content_size_in_bytes (field-ids 143/144/145) so readers locate
    blobs without parsing the Puffin footer, plus (on partitioned
    tables, r10) each referenced file's partition tuple as the spec
    requires. Returns the new snapshot id. Since r11 production v3
    writes exist (upgrade_iceberg_v3 + iceberg_dv's DML family); this
    helper stays as the FOREIGN-shaped fixture — it writes the
    metadata JSON directly, bypassing the engine's commit path, so
    tests exercise the reader against a commit the engine did NOT
    author."""
    from sparkstreamingtwitter_presidential_spark.sources.puffin import (
        serialize_dv_blob,
        write_puffin,
    )

    meta = _load_metadata(path)
    part_fields = _partition_fields(
        meta, _schema_for(meta, meta.get("current-schema-id", 0))
    )
    snap = _snapshot(meta, None)
    entries, dels = _entries_and_deletes_for_snapshot(path, snap)
    if dels:
        raise NotImplementedError(
            "forge_v3_dv_commit on a table already carrying deletes"
        )
    by_path = {e["data_file"]["file_path"]: e for e in entries}
    unknown = sorted(set(deletes) - set(by_path))
    if unknown:
        raise ValueError(f"deletes name unknown data files: {unknown[:3]}")

    md = _metadata_dir(path)
    now_ms = int(time.time() * 1000)
    snapshot_id = uuid.uuid4().int % (1 << 62)
    seq = meta.get("last-sequence-number", 0) + 1
    ice_schema = _schema_for(meta, meta.get("current-schema-id", 0))

    puffin_path = os.path.join(
        path, _DATA_DIR, f"dv-{uuid.uuid4().hex}.puffin"
    )
    os.makedirs(os.path.dirname(puffin_path), exist_ok=True)
    ordered = sorted(deletes)
    blob_metas = write_puffin(
        puffin_path,
        [
            {
                "type": "deletion-vector-v1",
                "payload": serialize_dv_blob(deletes[p]),
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "properties": {
                    "referenced-data-file": p,
                    "cardinality": str(len(set(deletes[p]))),
                },
            }
            for p in ordered
        ],
    )
    dv_files = [
        {
            "content": 1,
            "file_path": puffin_path,
            "file_format": "PUFFIN",
            # spec: a DV entry carries its referenced file's partition
            "partition": dict(
                by_path[p]["data_file"].get("partition") or {}
            ),
            "record_count": len(set(deletes[p])),
            "file_size_in_bytes": os.path.getsize(puffin_path),
            "lower_bounds": None,
            "upper_bounds": None,
            "equality_ids": None,
            "referenced_data_file": p,
            "content_offset": m["offset"],
            "content_size_in_bytes": m["length"],
        }
        for p, m in zip(ordered, blob_metas)
    ]
    sch = _manifest_entry_schema(part_fields, dv_refs=True)
    dm_entries = [
        {
            "status": _STATUS_ADDED,
            "snapshot_id": snapshot_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": f,
        }
        for f in dv_files
    ]
    dm_path = os.path.join(md, f"{uuid.uuid4().hex}-dv.avro")
    dm_len = write_container(
        dm_path,
        sch,
        dm_entries,
        meta={
            "schema": json.dumps(ice_schema).encode(),
            "partition-spec": json.dumps(_default_spec_fields(meta)).encode(),
            "partition-spec-id": str(meta.get("default-spec-id", 0)).encode(),
            "format-version": b"3",
            "content": b"deletes",
        },
    )
    dv_manifest = {
        "manifest_path": dm_path,
        "manifest_length": dm_len,
        "partition_spec_id": meta.get("default-spec-id", 0),
        "content": 1,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(dv_files),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(f["record_count"] for f in dv_files),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    _, _, prior_manifests = read_container(snap["manifest-list"])
    manifest_list = os.path.join(
        md, f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
    )
    write_container(
        manifest_list,
        _MANIFEST_FILE_SCHEMA,
        [dv_manifest] + list(prior_manifests),
        meta={
            "snapshot-id": str(snapshot_id).encode(),
            "sequence-number": str(seq).encode(),
            "format-version": b"3",
        },
    )
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "parent-snapshot-id": snap["snapshot-id"],
        "timestamp-ms": now_ms,
        "manifest-list": manifest_list,
        "summary": {"operation": "delete"},
        "schema-id": meta.get("current-schema-id", 0),
    }
    new_meta = dict(meta)
    new_meta["format-version"] = 3
    # v3 requires row-lineage bookkeeping from real writers; the forge
    # stamps the field so readers see a spec-complete v3 metadata file
    new_meta["next-row-id"] = 0
    new_meta["last-sequence-number"] = seq
    new_meta["snapshots"] = list(meta.get("snapshots", [])) + [snapshot]
    new_meta["current-snapshot-id"] = snapshot_id
    new_meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
        {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
    ]
    return _claim_metadata_version(path, meta, new_meta) and snapshot_id
