"""Minimal native Delta Lake reader/writer over the PUBLIC transaction-
log protocol (delta.io PROTOCOL.md) — no jars, no external deps.

The container lacks the delta-spark jar (`sources/lakehouse.py` probes
and raises), but the Delta *protocol* is just files: a `_delta_log/`
directory of ordered JSON commits (and optional parquet checkpoints)
whose `add`/`remove` actions name the live parquet data files. Replaying
that log needs only the filesystem and JSON; the data files are plain
parquet Spark already reads. So this module implements the real thing:

  read_delta(spark, path, version=None)   snapshot (with time travel)
  write_delta(df, path, mode=...)         append / overwrite commits
  delta_history(path)                     commit metadata per version

Protocol coverage (reader version 1 writes, reads through version 3's
columnMapping / deletionVectors / v2Checkpoint): JSON commits, parquet
checkpoints + `_last_checkpoint`
(persisting unexpired remove tombstones, r8), V2 CHECKPOINT reads (r9 —
uuid-named json/parquet manifest + `_sidecars/` parquet file actions,
the modern Databricks default), `metaData.schemaString`
(applied, so reads are schema-stable even over evolving files),
partition columns (values live in the log, NOT the data files),
`remove` tombstones, time travel by version AND timestamp
(`timestampAsOf`, r8), RESTORE to a version (r8), COLUMN MAPPING reads
(name/id modes — physical-name scans aliased to the logical schema,
r8; writes/DML/streaming/evolution work through the mapping since
r10, staging physical names + parquet field ids), DELETION VECTOR
reads (r9 — inline/on-disk descriptors decoded via sources/delta_dv.py
and applied as a broadcast anti-join on `_metadata` file/row-index;
since r10 DML/OPTIMIZE/RESTORE are DV-aware and the keyed change
diff applies each side's own DV state),
and `txn` (appId, version) actions — the protocol's idempotent-
streaming-writer marker (consumed by streaming/delta_sink.py). Tables
requiring any OTHER reader feature (type widening, ...) raise
NotImplementedError naming the feature rather than returning wrong
rows.

Commit atomicity uses O_CREAT|O_EXCL on the next `%020d.json`, the
protocol's put-if-absent primitive: correct on POSIX / HDFS-like stores;
on S3-style object stores real deployments interpose a commit
coordinator (documented limitation, same as open-source delta-rs).

Scale notes: log replay is O(#actions since checkpoint) driver-side
metadata work — the same cost the real Delta client pays; data stays
distributed (partition values are log metadata, not file content, and
are injected by the shared adaptive scan in `partition_scan.py`).
Statistics-based file skipping (per-file min/max) is the one read-path
optimization not implemented; filters still prune via parquet
row-group stats.
"""

from __future__ import annotations

import json
import os
import re as _re
import time
import urllib.parse
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import reduce
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from sparkstreamingtwitter_presidential_spark.sources import partition_scan
from sparkstreamingtwitter_presidential_spark.sources._fs import put_if_absent
from sparkstreamingtwitter_presidential_spark.sources.changefeed import (
    derive,
    insert_rows,
    range_union,
    require_keys,
)
from sparkstreamingtwitter_presidential_spark.sources.partition_scan import (
    _norm_path,
    _norm_path_col,
)

_LOG_DIR = "_delta_log"
_LAST_CHECKPOINT = "_last_checkpoint"
# how long remove tombstones stay in checkpoints (mirrors the real
# protocol's delta.deletedFileRetentionDuration default of 7 days).
# Must be >= the vacuum retention in use: vacuum's untracked-file
# sweep trusts checkpoints to carry every tombstone younger than the
# vacuum window (see vacuum_delta).
TOMBSTONE_RETENTION_HOURS = 168.0
MAX_SUPPORTED_READER_VERSION = 1


def _log_path(table_path: str) -> str:
    return os.path.join(table_path, _LOG_DIR)


def _version_of(fname: str, suffix: str) -> int | None:
    stem = fname[: -len(suffix)]
    if fname.endswith(suffix) and len(stem) == 20 and stem.isdigit():
        return int(stem)
    return None


@dataclass
class _Snapshot:
    version: int = -1
    schema: StructType | None = None
    partition_columns: list[str] = field(default_factory=list)
    # path -> add action dict (the live file set)
    files: dict[str, dict[str, Any]] = field(default_factory=dict)
    # appId -> highest committed txn version (protocol `txn` actions;
    # the idempotent-streaming-writer primitive)
    transactions: dict[str, int] = field(default_factory=dict)
    # raw protocol/metaData actions, retained verbatim so DML commits
    # and checkpoint writes can re-emit them unchanged
    protocol_action: dict[str, Any] | None = None
    metadata_action: dict[str, Any] | None = None
    # path -> remove action (tombstones seen during replay, newest
    # deletionTimestamp wins). Checkpoints PERSIST these (the real
    # protocol stores unexpired tombstones in checkpoints) so that
    # vacuum's retention guard survives write_checkpoint + expire_log:
    # without them, an expired remove would make a recently-tombstoned
    # file look untracked and lose its retention protection.
    tombstones: dict[str, dict[str, Any]] = field(default_factory=dict)
    # domain -> domainMetadata action body (PROTOCOL.md §Domain
    # Metadata; r12 — carries the row-tracking rowIdHighWaterMark).
    # Last writer wins; removed=true deletes the domain. Checkpoints
    # persist these (losing the watermark after log expiry would make
    # a later commit REUSE row ids).
    domain_metadata: dict[str, dict[str, Any]] = field(default_factory=dict)


def _apply_action(snap: _Snapshot, action: dict[str, Any]) -> None:
    if "protocol" in action:
        pr = action["protocol"]
        v = pr.get("minReaderVersion", 1)
        feats = set(pr.get("readerFeatures") or [])
        # reader v2 IS column mapping; v3 lists features — we read
        # columnMapping (name/id modes, see read_delta), deletionVectors
        # (anti-join application, see _dv_filter), and v2Checkpoint
        # (manifest + sidecars, see _v2_checkpoint_actions), and
        # refuse everything else (type widening, timestampNtz, ...)
        if v == 2 or (
            v == 3
            and feats
            <= {"columnMapping", "deletionVectors", "v2Checkpoint"}
        ):
            pass
        elif v > MAX_SUPPORTED_READER_VERSION:
            raise NotImplementedError(
                f"table requires reader protocol {v} "
                f"(features {sorted(feats)}); this native reader "
                f"supports version {MAX_SUPPORTED_READER_VERSION} plus "
                "columnMapping"
            )
        snap.protocol_action = pr
    elif "metaData" in action:
        md = action["metaData"]
        snap.schema = StructType.fromJson(json.loads(md["schemaString"]))
        snap.partition_columns = list(md.get("partitionColumns", []))
        snap.metadata_action = md
    elif "add" in action:
        # adds may carry a deletionVector descriptor (reader v3's
        # deletionVectors feature); plain snapshot reads APPLY it
        # (_dv_filter), every rewrite/maintenance path calls
        # a named refusal instead of silently resurrecting deleted rows
        snap.files[action["add"]["path"]] = action["add"]
    elif "remove" in action:
        r = action["remove"]
        snap.files.pop(r["path"], None)
        prev = snap.tombstones.get(r["path"])
        if prev is None or int(r.get("deletionTimestamp", 0)) >= int(
            prev.get("deletionTimestamp", 0)
        ):
            snap.tombstones[r["path"]] = r
    elif "txn" in action:
        t = action["txn"]
        prev = snap.transactions.get(t["appId"], -1)
        snap.transactions[t["appId"]] = max(prev, int(t["version"]))
    elif "domainMetadata" in action:
        dm = action["domainMetadata"]
        if dm.get("removed"):
            snap.domain_metadata.pop(dm["domain"], None)
        else:
            snap.domain_metadata[dm["domain"]] = dm


def _norm_cp_action(key: str, body: dict[str, Any]) -> dict[str, Any]:
    """Normalize one checkpoint-stored action: real writers store
    map-typed fields (add.partitionValues, metaData.configuration,
    commitInfo maps) as parquet MAP, which pyarrow materializes as a
    LIST OF (k, v) PAIRS — convert back to dicts so downstream
    `.get(col)` lookups behave identically to JSON-commit replay."""
    for f in ("partitionValues", "configuration", "tags"):
        v = body.get(f)
        if isinstance(v, list):
            body = {**body, f: dict(v)}
    return {key: body}


def _checkpoint_actions(cp_file: str) -> list[dict[str, Any]]:
    """Read a classic single-file parquet checkpoint via pyarrow (no
    JVM needed for metadata): one row per action, struct columns."""
    import pyarrow.parquet as pq

    rows = pq.read_table(cp_file).to_pylist()
    out = []
    for row in rows:
        for key in (
            "protocol", "metaData", "add", "remove", "txn",
            "domainMetadata",
        ):
            if row.get(key) is not None:
                out.append(_norm_cp_action(key, row[key]))
    return out


_V2_CHECKPOINT_RE = _re.compile(
    r"^(\d{20})\.checkpoint\.[0-9a-fA-F-]{8,}\.(json|parquet)$"
)


def _v2_checkpoint_actions(
    log_dir: str, cp_name: str
) -> list[dict[str, Any]]:
    """Read a V2 CHECKPOINT (PROTOCOL.md §V2 Spec Checkpoints — the
    v2Checkpoint reader feature, default for modern Databricks
    tables): a top-level manifest named
    ``<version>.checkpoint.<uuid>.{json,parquet}`` carrying
    protocol/metaData/txn (and possibly add/remove) actions plus
    ``sidecar`` actions whose files — parquet under
    ``_delta_log/_sidecars/`` — hold the add/remove file actions. The
    manifest's ``checkpointMetadata`` action is bookkeeping (version +
    tags) and is consumed here, not replayed. Driver-side metadata
    reads, same as the classic checkpoint path."""
    import pyarrow.parquet as pq

    full = os.path.join(log_dir, cp_name)
    raw_rows: list[dict[str, Any]]
    if cp_name.endswith(".json"):
        raw_rows = []
        with open(full) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    raw_rows.append(json.loads(line))
    else:
        raw_rows = pq.read_table(full).to_pylist()
    out: list[dict[str, Any]] = []
    sidecars: list[str] = []
    for row in raw_rows:
        for key in (
            "protocol", "metaData", "add", "remove", "txn",
            "domainMetadata",
        ):
            if row.get(key) is not None:
                out.append(_norm_cp_action(key, row[key]))
        sc = row.get("sidecar")
        if sc is not None:
            sidecars.append(sc["path"])
        # checkpointMetadata: presence is the v2 marker; nothing to
        # replay from it
    for name in sidecars:
        sc_path = (
            name
            if "/" in name and os.path.isabs(name)
            else os.path.join(log_dir, "_sidecars", os.path.basename(name))
        )
        for row in pq.read_table(sc_path).to_pylist():
            for key in ("add", "remove"):
                if row.get(key) is not None:
                    out.append(_norm_cp_action(key, row[key]))
    return out


def _replay_log(table_path: str, version: int | None) -> _Snapshot:
    log_dir = _log_path(table_path)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a Delta table (no {_LOG_DIR}): {table_path}")
    names = os.listdir(log_dir)
    commits = {
        v: n for n in names if (v := _version_of(n, ".json")) is not None
    }
    checkpoints = {
        v: n
        for n in names
        if (v := _version_of(n, ".checkpoint.parquet")) is not None
    }
    # V2 checkpoints (uuid-named manifest + sidecars) coexist with
    # classic ones; at the same version either is complete — prefer
    # classic (single file, no sidecar reads)
    v2_checkpoints = {
        int(m.group(1)): n
        for n in names
        if (m := _V2_CHECKPOINT_RE.match(n)) is not None
    }

    snap = _Snapshot()
    start = 0
    # A checkpoint collapses every commit <= its version; prefer the
    # newest one at-or-below the requested version.
    usable = [
        v
        for v in set(checkpoints) | set(v2_checkpoints)
        if version is None or v <= version
    ]
    if usable:
        cp_v = max(usable)
        if cp_v in checkpoints:
            cp_actions = _checkpoint_actions(
                os.path.join(log_dir, checkpoints[cp_v])
            )
        else:
            cp_actions = _v2_checkpoint_actions(
                log_dir, v2_checkpoints[cp_v]
            )
        for action in cp_actions:
            _apply_action(snap, action)
        snap.version = cp_v
        start = cp_v + 1

    todo = sorted(v for v in commits if v >= start)
    if version is not None:
        if version not in commits and not (usable and version <= snap.version):
            raise ValueError(
                f"version {version} does not exist for table {table_path}"
            )
        todo = [v for v in todo if v <= version]
    for v in todo:
        with open(os.path.join(log_dir, commits[v])) as f:
            for line in f:
                line = line.strip()
                if line:
                    _apply_action(snap, json.loads(line))
        snap.version = v
    if snap.version < 0:
        raise FileNotFoundError(f"empty Delta log: {table_path}")
    if snap.schema is None:
        raise ValueError(f"Delta log has no metaData action: {table_path}")
    return snap


def _ts_norm(bound: Any, stat: Any) -> Any:
    """Timestamp stats are ISO-8601 'T'-separated strings, but the
    natural SQL literal is space-separated ('2024-01-01 00:00:00').
    Since 'T' > ' ' lexicographically, comparing the raw forms can
    PROVE a file out of range when it isn't — so normalize a
    space-separated string bound to 'T'-form whenever the stat it is
    compared against is 'T'-form."""
    if (
        isinstance(bound, str)
        and isinstance(stat, str)
        and len(bound) > 10
        and bound[10] == " "
        and len(stat) > 10
        and stat[10] == "T"
    ):
        return bound[:10] + "T" + bound[11:]
    return bound


def file_skips(
    add: dict[str, Any], ranges: dict[str, tuple[Any, Any]]
) -> bool:
    """True iff the add action's `stats` PROVE no row can satisfy the
    conjunctive ranges (col in [lo, hi]; None = open end). Advisory:
    missing/partial stats keep the file — skipping may only ever remove
    files, never rows a filter would keep. Mixed bound/stat types (e.g.
    a numeric bound against string stats on an externally written
    table) prove nothing and keep the file; space-separated timestamp
    bounds are normalized to the stats' ISO 'T'-form before comparing."""
    raw = add.get("stats")
    if not raw:
        return False
    try:
        st = json.loads(raw)
    except (TypeError, ValueError):
        return False
    mins, maxs = st.get("minValues", {}), st.get("maxValues", {})
    for col, (lo, hi) in ranges.items():
        fmin, fmax = mins.get(col), maxs.get(col)
        if fmin is None or fmax is None:
            continue
        try:
            if lo is not None and fmax < _ts_norm(lo, fmax):
                return True
            if hi is not None and fmin > _ts_norm(hi, fmin):
                return True
        except TypeError:
            continue
    return False


def _column_mapping(snap: _Snapshot) -> dict[str, str] | None:
    """logical name -> PHYSICAL name for top-level fields when the
    table uses column mapping (delta.columnMapping.mode name|id —
    reader v2/v3's feature; Databricks-default tables). None when
    unmapped. Physical names come from each field's
    `delta.columnMapping.physicalName` metadata in schemaString; data
    files and add.partitionValues use the physical names."""
    md = snap.metadata_action or {}
    mode = (md.get("configuration") or {}).get("delta.columnMapping.mode")
    if mode in (None, "none"):
        return None
    if mode not in ("name", "id"):
        raise NotImplementedError(
            f"columnMapping mode {mode!r} is not supported"
        )
    assert snap.schema is not None
    out: dict[str, str] = {}
    for f in snap.schema.fields:
        phys = (f.metadata or {}).get("delta.columnMapping.physicalName")
        if not phys:
            raise NotImplementedError(
                f"column-mapped table field {f.name!r} lacks "
                "delta.columnMapping.physicalName metadata"
            )
        out[f.name] = phys
    return out


def _mapping_field_ids(snap: _Snapshot) -> dict[str, int]:
    """logical name -> delta.columnMapping.id for top-level fields
    (empty when unmapped or ids absent). Staged parquet for mapped
    tables carries these as parquet field ids (Spark's
    parquet.field.id StructField metadata +
    spark.sql.parquet.fieldId.write.enabled, default on), which is
    what makes the files resolvable by ID-MODE readers — the real
    writer emits them in both mapping modes."""
    md = snap.metadata_action or {}
    if (md.get("configuration") or {}).get("delta.columnMapping.mode") in (
        None,
        "none",
    ):
        return {}
    out: dict[str, int] = {}
    for f in snap.schema.fields if snap.schema is not None else []:
        fid = (f.metadata or {}).get("delta.columnMapping.id")
        if fid is not None:
            out[f.name] = int(fid)
    return out


def _refuse_unenforced_writer_contracts(
    snap: _Snapshot, ctx: str, emits_removes: bool
) -> None:
    """A foreign table can carry WRITER-side contracts. CHECK
    constraints and column invariants are EVALUATED since r10, and
    GENERATED columns since r11 (_enforce_row_contracts validates
    provided values NULL-safe-equal their generation expression;
    write_delta derives absent ones — both gated to the deterministic
    builtin subset, _refuse_nondeterministic_generation). What remains
    here refuses by NAME: the append-only property when the operation
    emits removes (plain appends are exactly what that property
    permits). ROW TRACKING is MAINTAINED since r12-late across every
    write path — appends/CoW DML/OPTIMIZE via _assign_row_tracking
    (fresh baseRowId/defaultRowCommitVersion from the
    rowIdHighWaterMark domain metadata) with rewrites materializing
    carried ids, DV deletes by carrying the re-added action verbatim,
    DV update/merge and REORG via the same materialized carry.
    Content-based, not version-number-based (the protocol's writer
    versions only imply feature SUPPORT, the metadata says what is in
    force)."""
    md = snap.metadata_action or {}
    cfg = md.get("configuration") or {}
    if emits_removes and cfg.get("delta.appendOnly") == "true":
        raise NotImplementedError(
            f"{ctx}: table is delta.appendOnly=true — an operation "
            "emitting remove actions would violate the table's "
            "declared contract (appends are allowed)"
        )


_ROW_TRACKING_DOMAIN = "delta.rowTracking"


def _row_tracking_active(snap: _Snapshot) -> bool:
    """True when the table declares the rowTracking writer feature or
    the enabling property — every commit must then maintain row ids
    (PROTOCOL.md §Row Tracking)."""
    feats = set((snap.protocol_action or {}).get("writerFeatures") or [])
    cfg = (snap.metadata_action or {}).get("configuration") or {}
    return (
        "rowTracking" in feats
        or cfg.get("delta.enableRowTracking") == "true"
    )


def _row_id_high_water(snap: _Snapshot) -> int:
    """The highest row id ever assigned (domain metadata
    rowIdHighWaterMark; -1 on a freshly-enabled table). Ids are never
    reused — RESTORE keeps the domain untouched, so the watermark
    survives table rollbacks (PROTOCOL.md §Row ID high-water mark)."""
    dm = snap.domain_metadata.get(_ROW_TRACKING_DOMAIN)
    if dm is None:
        return -1
    try:
        return int(json.loads(dm["configuration"])["rowIdHighWaterMark"])
    except (KeyError, ValueError, TypeError):
        raise NotImplementedError(
            "unparseable delta.rowTracking domain metadata: "
            f"{dm.get('configuration')!r}"
        ) from None


def _rt_materialized_names(snap: _Snapshot, ctx: str) -> tuple[str, str]:
    """The configured physical names for materialized row id / commit
    version columns. A row-tracked table must declare both before any
    rewrite can preserve ids — refuse by name otherwise (the real
    writer sets them at enablement; enable_row_tracking does too)."""
    cfg = (snap.metadata_action or {}).get("configuration") or {}
    mat_id = cfg.get("delta.rowTracking.materializedRowIdColumnName")
    mat_ver = cfg.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    )
    if not mat_id or not mat_ver:
        raise NotImplementedError(
            f"{ctx}: row-tracked table does not configure "
            "delta.rowTracking.materialized*ColumnName — a rewrite "
            "could not preserve row ids; set both properties (or "
            "enable via enable_row_tracking, which does)"
        )
    return mat_id, mat_ver


def _assign_row_tracking(
    snap: _Snapshot,
    actions: list[dict[str, Any]],
    commit_version: int,
    backfill: bool = False,
) -> list[dict[str, Any]]:
    """Assign fresh ``baseRowId``/``defaultRowCommitVersion`` to every
    add action in ``actions`` that lacks them and append the advanced
    ``rowIdHighWaterMark`` domain metadata — the writer obligation of
    PROTOCOL.md §Row Tracking. Fresh id ranges are claimed per file
    from the watermark using the add's numRecords stats (every file
    this engine stages carries them; a statless add refuses — guessing
    a range could collide). Files re-added with an existing baseRowId
    (RESTORE, checkpoint round-trips) pass through untouched.

    A row-tracked table MISSING the watermark domain metadata refuses
    by name (r12 review fix): its adds may already carry ids a
    non-conformant writer assigned, and claiming from -1 would mint
    COLLIDING ids — silent lineage corruption. ``backfill=True``
    (enable_row_tracking, which owns the feature transition) is the
    one caller allowed to start the watermark."""
    dm_present = _ROW_TRACKING_DOMAIN in snap.domain_metadata
    if not dm_present and not backfill:
        raise NotImplementedError(
            "row-tracked table carries no delta.rowTracking domain "
            "metadata (rowIdHighWaterMark) — fresh id ranges cannot "
            "be claimed safely; repair the watermark (or re-enable "
            "via enable_row_tracking on a feature-less copy)"
        )
    hw = _row_id_high_water(snap)
    out: list[dict[str, Any]] = []
    for a in actions:
        add = a.get("add")
        if add is not None and add.get("baseRowId") is None:
            stats = add.get("stats")
            n = None
            if stats:
                try:
                    n = int(json.loads(stats)["numRecords"])
                except (KeyError, ValueError, TypeError):
                    n = None
            if n is None:
                raise NotImplementedError(
                    "row-tracked commit: staged file "
                    f"{add.get('path')!r} lacks numRecords stats — "
                    "cannot claim a fresh row-id range"
                )
            add = dict(add)
            add["baseRowId"] = hw + 1
            add["defaultRowCommitVersion"] = commit_version
            hw += n
            a = {"add": add}
        out.append(a)
    out.append(
        {
            "domainMetadata": {
                "domain": _ROW_TRACKING_DOMAIN,
                "configuration": json.dumps({"rowIdHighWaterMark": hw}),
                "removed": False,
            }
        }
    )
    return out


def _row_contract_exprs(
    configuration: dict | None, schema: StructType | None
) -> list[tuple[str, str]]:
    """(name, SQL expression) for every row-level writer contract the
    table declares: CHECK constraints (`delta.constraints.*` config)
    and legacy column invariants (`delta.invariants` field metadata,
    the {"expression": {"expression": sql}} JSON shape)."""
    cfg = configuration or {}
    out = [
        (k[len("delta.constraints."):], v)
        for k, v in sorted(cfg.items())
        if k.startswith("delta.constraints.")
    ]
    if schema is not None:
        for f in schema.fields:
            inv = (f.metadata or {}).get("delta.invariants")
            if not inv:
                continue
            try:
                expr = json.loads(inv)["expression"]["expression"]
            except (ValueError, KeyError, TypeError):
                raise NotImplementedError(
                    f"unparseable delta.invariants on column "
                    f"{f.name!r}: {inv!r}"
                ) from None
            out.append((f"invariant({f.name})", expr))
    return out


def _generated_exprs(schema: StructType | None) -> list[tuple[str, str]]:
    """(column name, generation SQL) for every GENERATED column the
    schema declares (`delta.generationExpression` field metadata —
    Delta PROTOCOL.md §Generated Columns)."""
    out: list[tuple[str, str]] = []
    for f in schema.fields if schema is not None else []:
        gen = (f.metadata or {}).get("delta.generationExpression")
        if gen:
            out.append((f.name, gen))
    return out


def _identity_fields(
    schema: StructType | None,
) -> list[tuple[str, dict[str, Any]]]:
    """(column name, field metadata) for every IDENTITY column the
    schema declares (`delta.identity.start` / `.step` /
    `.highWaterMark` / `.allowExplicitInsert` field metadata — Delta
    PROTOCOL.md §Identity Columns). A field carrying ANY of the keys
    is identity (the real writer always stamps start+step+allow;
    highWaterMark appears after the first generation)."""
    out: list[tuple[str, dict[str, Any]]] = []
    for f in schema.fields if schema is not None else []:
        md = f.metadata or {}
        if any(k.startswith("delta.identity.") for k in md):
            out.append((f.name, md))
    return out


def _assign_identity_values(
    df: DataFrame, specs: list[tuple[str, int, int, int | None]]
) -> tuple[DataFrame, dict[str, int], DataFrame]:
    """Generate values for identity columns ABSENT from ``df`` —
    shuffle-free, all columns in one pass: persist the incoming frame
    (freezing its partitioning), count rows per partition (ONE
    metadata-sized job — n_partitions rows to the driver), then assign
    ``base + step * (exclusive_prefix_offset + local_position)``
    map-only via mapInPandas. No Exchange appears; the plan scales as
    a plain map over however the frame arrives, the same shape as
    operators/scale.global_row_numbers minus the range sort (identity
    values carry NO ordering contract — uniqueness + step arithmetic
    only, per the protocol: "values ... are not guaranteed to be
    consecutive").

    ``specs``: (name, start, step, high_water_mark|None). The first
    generated value is ``hw + step`` (or ``start`` on a virgin
    column); negative steps count down, and the returned new
    watermark is the LAST assigned value — the furthest point in step
    direction, per spec."""
    from pyspark.sql import types as T

    frozen = df.persist()
    counts = (
        frozen.groupBy(F.spark_partition_id().alias("__pid"))
        .count()
        .collect()
    )
    sizes = {r["__pid"]: r["count"] for r in counts}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    n = acc
    bases = {
        name: (start if hw is None else hw + step)
        for name, start, step, hw in specs
    }
    steps = {name: step for name, _s, step, _h in specs}
    # an empty frame assigns nothing: no watermark to record (avoids
    # stamping start - step on a virgin column)
    new_hw = (
        {
            name: bases[name] + steps[name] * (n - 1)
            for name, *_ in specs
        }
        if n > 0
        else {}
    )
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField(name, T.LongType(), False)
            for name, *_ in specs
        ]
    )
    keep = [f.name for f in df.schema.fields]
    tagged = frozen.withColumn("__pid", F.spark_partition_id())

    def assign(batches):
        import numpy as np

        local = 0
        off = None
        for b in batches:
            if len(b) == 0:
                continue
            if off is None:
                off = offsets[int(b["__pid"].iloc[0])]
            out = b[keep].copy()
            k0 = off + local
            positions = np.arange(k0, k0 + len(b), dtype=np.int64)
            for name in bases:
                out[name] = bases[name] + steps[name] * positions
            local += len(b)
            yield out

    # third element: the persisted handle — callers unpersist it once
    # the assigned frame has been materialized (staged to parquet)
    return tagged.mapInPandas(assign, schema=out_schema), new_hw, frozen


def _md_with_identity_watermarks(
    md: dict[str, Any], hw_updates: dict[str, int]
) -> dict[str, Any]:
    """A metaData action body with `delta.identity.highWaterMark`
    advanced for the named fields (schemaString round-trip; all other
    metadata preserved)."""
    schema = StructType.fromJson(json.loads(md["schemaString"]))
    fields = []
    for f in schema.fields:
        if f.name in hw_updates:
            fmd = dict(f.metadata or {})
            fmd["delta.identity.highWaterMark"] = hw_updates[f.name]
            f = StructField(f.name, f.dataType, f.nullable, fmd)
        fields.append(f)
    return {**md, "schemaString": StructType(fields).json()}


#: session/time-context builtins: Catalyst marks them deterministic
#: (foldable per query), but a generated value computed at the ORIGINAL
#: write time would legitimately differ from a re-evaluation now — so
#: they are outside the subset this writer evaluates.
_TIME_CONTEXT_RE = _re.compile(
    r"\b(current_date|current_timestamp|now|localtimestamp|"
    r"current_timezone|session_window)\b"
    r"|\bunix_timestamp\s*\(\s*\)",
    _re.IGNORECASE,
)


def _refuse_nondeterministic_generation(
    df: DataFrame, col: str, gen: str, ctx: str
) -> None:
    """Gate a generation expression to Spark's DETERMINISTIC builtin
    subset before evaluating it (r11 — previously every generated
    column refused): session/time-context functions refuse by the
    blocklist above, and anything Catalyst itself marks
    non-deterministic (rand, uuid, monotonically_increasing_id, ...)
    refuses via the analyzed plan's expression flags. Outside-subset
    expressions keep the named refusal — never a silently-wrong
    derived value."""
    if _TIME_CONTEXT_RE.search(gen):
        raise NotImplementedError(
            f"{ctx}: generated column {col!r} uses a session/time-"
            f"context function ({gen!r}) — its value depends on the "
            "original write's clock/zone, which this writer cannot "
            "reproduce; outside the deterministic subset"
        )
    try:
        analyzed = (
            df.select(F.expr(gen).alias("__gen"))
            ._jdf.queryExecution()
            .analyzed()
        )
    except Exception as exc:  # unresolvable against the row schema
        raise NotImplementedError(
            f"{ctx}: generation expression {gen!r} of column {col!r} "
            f"does not analyze against the table schema ({exc}); "
            "refusing rather than guessing"
        ) from None
    exprs = analyzed.expressions()
    for i in range(exprs.length()):
        if not exprs.apply(i).deterministic():
            raise NotImplementedError(
                f"{ctx}: generation expression {gen!r} of column "
                f"{col!r} is non-deterministic — outside the subset "
                "this writer evaluates"
            )


def _recompute_generated(snap: _Snapshot, df: DataFrame, ctx: str) -> DataFrame:
    """Re-derive every GENERATED column on a DML-staged frame (r11
    review fix — the real writer's behavior: UPDATE/MERGE recompute
    generated columns whose sources changed rather than validating the
    stale pre-DML value, which would misdiagnose a legitimate update
    as a constraint violation). Deterministic-subset gated; a frame
    with no generated columns passes through untouched. Plain appends
    keep validate-or-derive semantics in _enforce_row_contracts /
    write_delta instead."""
    gens = _generated_exprs(snap.schema)
    if not gens:
        return df
    by_name = {f.name: f for f in (snap.schema.fields if snap.schema else [])}
    for col, gen in gens:
        _refuse_nondeterministic_generation(df, col, gen, ctx)
        df = df.withColumn(col, F.expr(gen).cast(by_name[col].dataType))
    return df


def _enforce_row_contracts(snap: _Snapshot, df: DataFrame, ctx: str) -> None:
    """EVALUATE the table's CHECK constraints / invariants on rows
    about to be staged (r10 — previously a blanket refusal): a row
    violates when the expression is FALSE (SQL CHECK semantics — NULL
    passes). One filter+limit(1) probe per constrained write; tables
    without contracts cost nothing. Violations raise BEFORE any file
    stages, naming the constraint and a sample row — the real writer's
    InvariantViolationException shape. Rewrites validate COPIED rows
    too (the real writer's behavior — a legacy-invalid row surfaces on
    the first rewrite that touches it, never silently re-commits).

    GENERATED columns (r11): a provided value must NULL-SAFE-EQUAL its
    generation expression re-evaluated on the row (`col <=> (expr)` —
    the protocol's writer obligation expressed as a row predicate,
    same probe); expressions outside the deterministic builtin subset
    refuse by name instead of risking a wrong verdict."""
    exprs = _row_contract_exprs(
        (snap.metadata_action or {}).get("configuration"), snap.schema
    )
    for col, gen in _generated_exprs(snap.schema):
        if col not in df.columns:
            continue  # write_delta derives absent generated columns
        _refuse_nondeterministic_generation(df, col, gen, ctx)
        exprs.append((f"generated({col})", f"`{col}` <=> ({gen})"))
    if not exprs:
        return
    cond = None
    for _name, sql in exprs:
        ok = F.coalesce(F.expr(sql), F.lit(True))
        cond = ok if cond is None else (cond & ok)
    bad = df.filter(~cond).limit(1).collect()
    if not bad:
        return
    # rare path: name the violated constraint(s) with per-expr probes
    names = [
        name
        for name, sql in exprs
        if df.filter(~F.coalesce(F.expr(sql), F.lit(True)))
        .limit(1)
        .collect()
    ]
    raise ValueError(
        f"{ctx}: rows violate the table's declared CHECK constraint/"
        f"invariant(s) {names or [n for n, _ in exprs]} — e.g. "
        f"{bad[0].asDict()}; refusing to commit unvalidated rows"
    )


# driver-side pair budget for DV application: the pair set tracks the
# table's DELETE BACKLOG (sum of DV cardinalities), never its row
# count. At or below it, descriptors decode DRIVER-side into a
# broadcast build (cheap, no extra job). Above it (r10 — previously a
# named refusal) the decode moves EXECUTOR-side: descriptors (bounded
# metadata) ship to tasks, the pure-Python codec expands them into a
# distributed (file, row_index) frame, and AQE picks broadcast vs
# shuffled anti-join from the materialized size — a 100 TB table with
# a billion-row backlog never builds a driver list.
_DV_PAIRS_DRIVER_MAX = 2_000_000


def _dv_filter(spark: SparkSession, path: str, snap: _Snapshot):
    """None when no live add carries a deletionVector; otherwise a
    closure applying rows-minus-DV to a RAW parquet scan (see
    _dv_filter_for)."""
    return _dv_filter_for(
        spark,
        path,
        [
            (p, a["deletionVector"])
            for p, a in sorted(snap.files.items())
            if a.get("deletionVector")
        ],
    )


def dv_pairs_frame(
    spark: SparkSession,
    path: str,
    keyed: list[tuple[str, dict]],
    cols: str,
) -> DataFrame:
    """(key, row_index) frame of every deleted row in ``keyed``'s
    deletion-vector descriptors — the ONE implementation of the
    driver-vs-executor decode split (r10 review finding: two copies
    had drifted apart). Under _DV_PAIRS_DRIVER_MAX total cardinality
    the descriptors decode driver-side into a BROADCAST LocalRelation
    (createDataFrame has no size stats — without the hint the static
    planner picks SortMergeJoin); above it they ship to executors
    (one task per slice, sidecars read from the table's shared
    storage) and AQE sizes the join. ``keyed``: (join key, descriptor)
    — callers pick the key space (normalized absolute path for raw
    scans, file basename for the DML scan). ``cols``: the two-column
    DDL naming the key and position columns."""
    from sparkstreamingtwitter_presidential_spark.sources.delta_dv import (
        dv_row_indexes,
    )

    total = sum(int(dv.get("cardinality", 0)) for _k, dv in keyed)
    if total <= _DV_PAIRS_DRIVER_MAX:
        pairs = []
        for k, dv in keyed:
            for ri in dv_row_indexes(path, dv):
                pairs.append((k, ri))
        return F.broadcast(spark.createDataFrame(pairs, cols))
    abs_table = os.path.abspath(path)
    desc_rows = [(k, json.dumps(dv)) for k, dv in keyed]

    def _decode(row):
        # runs on executors: pure-Python codec, sidecar reads from
        # the table path (shared storage, same reachability contract
        # as the data files themselves)
        from sparkstreamingtwitter_presidential_spark.sources.delta_dv import (
            dv_row_indexes as _dvri,
        )

        dv = json.loads(row[1])
        for ri in _dvri(abs_table, dv):
            yield (row[0], ri)

    n_slices = max(1, min(len(desc_rows), 256))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(desc_rows, n_slices).flatMap(_decode),
        cols,
    )


def _dv_filter_for(
    spark: SparkSession, path: str, dv_adds: list[tuple[str, dict]]
):
    """None when ``dv_adds`` is empty; otherwise a closure applying
    rows-minus-DV to a RAW parquet scan (must run while `_metadata` is
    still reachable, i.e. directly on the scan before any join/alias).
    Small backlogs decode driver-side (delta_dv.dv_row_indexes —
    bounded metadata, CRC-checked) into a broadcast (file, row_index)
    build side; backlogs above _DV_PAIRS_DRIVER_MAX decode
    executor-side (one task per slice of descriptors, sidecars read
    from the table's shared storage). The probe side anti-joins on
    `_metadata.file_path`/`row_index`, the Iceberg position-delete
    reader's proven shape. ``dv_adds``: (relative path, descriptor) —
    callers pick the SNAPSHOT whose vector state applies (the current
    one for reads, a commit's own sides for change derivation)."""
    if not dv_adds:
        return None
    build = dv_pairs_frame(
        spark,
        path,
        [
            (
                _norm_path(
                    os.path.abspath(
                        os.path.join(path, urllib.parse.unquote(p))
                    )
                ),
                dv,
            )
            for p, dv in dv_adds
        ],
        "__dpath string, __dpos long",
    )

    def apply(scan: DataFrame) -> DataFrame:
        before = scan.columns
        out = (
            scan.withColumn(
                "__scan_path", _norm_path_col(F.col("_metadata.file_path"))
            )
            .withColumn("__scan_pos", F.col("_metadata.row_index"))
            .join(
                build,
                (F.col("__scan_path") == build["__dpath"])
                & (F.col("__scan_pos") == build["__dpos"]),
                "left_anti",
            )
        )
        return out.select(*before)

    return apply


def _partition_groups(
    path: str, snap: _Snapshot, files: dict[str, dict[str, Any]]
) -> dict[tuple, list[str]]:
    """Absolute paths of ``files`` (relative path -> add or cdc action)
    grouped by the action's partition tuple. Mapped tables key
    partitionValues by PHYSICAL name; a logical-keyed fallback accepts
    lenient foreign writers."""
    mapping = _column_mapping(snap)
    phys = (lambda c: mapping[c]) if mapping else (lambda c: c)
    groups: dict[tuple, list[str]] = {}
    for p, a in files.items():
        pv = a.get("partitionValues", {})
        key = tuple(pv.get(phys(c), pv.get(c)) for c in snap.partition_columns)
        groups.setdefault(key, []).append(
            os.path.join(path, urllib.parse.unquote(p))
        )
    return groups


def _read_adds(
    spark: SparkSession,
    path: str,
    snap: _Snapshot,
    files: dict[str, dict[str, Any]],
    hook: Callable[[DataFrame], DataFrame] | None = None,
    extra_phys: Sequence[StructField] = (),
) -> DataFrame:
    """The rows of the data (or cdc) files ``files`` (relative path ->
    add or cdc action) under ``snap``'s LOGICAL schema: the files
    grouped by partition tuple, read by :func:`partition_scan.scan`
    under the PHYSICAL column names they store (the log's partition
    values are authoritative), then aliased back to logical.

    ``hook`` runs on each RAW scan, while ``_metadata`` is reachable —
    the deletion-vector filter, or tag columns (which it appends and
    the output keeps last). ``extra_phys`` fields are read from the
    files verbatim and kept after the table columns."""
    schema = snap.schema
    assert schema is not None
    if not files:
        return spark.createDataFrame(
            [], StructType(list(schema.fields) + list(extra_phys))
        )
    mapping = _column_mapping(snap)
    phys = (lambda c: mapping[c]) if mapping else (lambda c: c)
    df = partition_scan.scan(
        spark,
        _partition_groups(path, snap, files),
        StructType(
            [StructField(phys(f.name), f.dataType, f.nullable) for f in schema.fields]
            + list(extra_phys)
        ),
        [phys(c) for c in snap.partition_columns],
        hook,
    )
    if not mapping:
        return df
    return df.select(
        *[F.col(phys(f.name)).alias(f.name) for f in schema.fields],
        *df.columns[len(schema.fields):],
    )


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    skip_ranges: dict[str, tuple[Any, Any]] | None = None,
    timestamp: Any | None = None,
) -> DataFrame:
    """Snapshot read of a Delta table (optionally a past ``version``).

    Data columns come from the parquet files under the log's declared
    schema; partition columns come from the log's ``partitionValues``
    (cast to the declared types) through the adaptive partitioned scan
    (:func:`_read_adds`, :mod:`partition_scan`).

    ``skip_ranges`` ({col: (lo, hi)}, None = open end) prunes files by
    the log's per-file min/max `stats` BEFORE Spark ever lists them —
    the metadata-side skipping the real client does. It is advisory and
    conservative (files without stats are kept) and does NOT replace
    the row filter: callers still apply `.filter(...)`; the win is that
    on a clustered table (optimize_delta cluster_by) a selective range
    touches a few files instead of every file. Timestamp bounds are
    ISO-8601 strings (lexicographic == chronological).

    ``timestamp`` (datetime or epoch millis) is `timestampAsOf` time
    travel: resolves to the latest version committed at-or-before it
    (version_at_timestamp); mutually exclusive with ``version``."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass either version or timestamp, not both")
        version = version_at_timestamp(path, timestamp)
    snap = _replay_log(path, version)
    if skip_ranges:
        # mapped tables store stats under PHYSICAL names — translate
        # the user's logical-keyed ranges through the mapping before
        # comparing (r9; previously mapped tables skipped skipping
        # entirely). Unknown logical names pass through unchanged and
        # prove nothing, same as any unknown column.
        mapping = _column_mapping(snap) or {}
        eff_ranges = {mapping.get(c, c): rng for c, rng in skip_ranges.items()}
        snap.files = {
            p: a
            for p, a in snap.files.items()
            if not file_skips(a, eff_ranges)
        }
    return _read_adds(
        spark, path, snap, snap.files, hook=_dv_filter(spark, path, snap)
    )


def delta_row_changes(
    spark: SparkSession,
    path: str,
    version: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Row-level change feed for ONE commit — the CDC read-side
    complement of the DML write path (delta_dml) and the upsert sink
    (streaming/delta_upsert): what the commit DID to each key, stamped
    ``_commit_version``. The key contract and output shape are
    :mod:`changefeed`'s; a pure OPTIMIZE (``dataChange: false``) emits
    nothing and a pure append is all inserts.

    Two formulations, spec-ordered (PROTOCOL.md §Change Data Files):

    * A commit carrying ``cdc`` actions is read from THOSE exclusively
      — the writer materialized the exact change rows under
      ``_change_data/`` (this engine's own DML does when
      ``delta.enableChangeDataFeed=true``; foreign CDF writers
      always do). ``keys`` is not needed and not validated here, and
      live deletion vectors don't matter (cdc files are
      self-contained).
    * Otherwise the changes are DERIVED by a keyed diff of the files
      the commit removed against the files it added (both with
      ``dataChange: true``), each side under its own deletion-vector
      state. Passing ``keys`` on a pure append derives too (and so
      validates them). Cost scales with the commit's touched files,
      never the table.
    """
    # Retention contract: row changes need the commit's own JSON
    # actions. They remain readable for ANY retained commit — including
    # ones below a checkpoint (a checkpoint collapses replay, it does
    # not delete commits) — and are permanently gone once the JSON is
    # expired (expire_log / external cleanup), refused here by name
    # BEFORE replay so the error states the contract, not a replay
    # detail.
    commit_file = os.path.join(_log_path(path), f"{version:020d}.json")
    if not os.path.exists(commit_file):
        raise ValueError(
            f"commit {version} of {path} is not available as a JSON delta "
            "(expired by log retention / vacuumed) — row changes need the "
            "per-commit actions"
        )
    cur = _replay_log(path, version)
    assert cur.schema is not None
    cols = [f.name for f in cur.schema.fields]
    stamp = F.lit(int(version)).cast("long")
    adds: dict[str, dict[str, Any]] = {}
    removed_paths: list[str] = []
    cdc_actions: dict[str, dict[str, Any]] = {}
    with open(commit_file) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if "add" in action and action["add"].get("dataChange", True):
                adds[action["add"]["path"]] = action["add"]
            elif "remove" in action and action["remove"].get("dataChange", True):
                removed_paths.append(action["remove"]["path"])
            elif "cdc" in action:
                cdc_actions[action["cdc"]["path"]] = action["cdc"]

    if cdc_actions:
        # PROTOCOL.md §Change Data Files: when a version carries cdc
        # actions, change readers MUST use them EXCLUSIVELY for that
        # version — the writer materialized the exact change rows
        # (with `_change_type`), so no diff (and no key contract) is
        # needed, and DVs on the snapshot don't matter: the cdc files
        # are self-contained. Column-mapped tables store cdc files
        # under PHYSICAL names, like data files.
        return _read_adds(
            spark,
            path,
            cur,
            cdc_actions,
            extra_phys=[StructField("_change_type", StringType(), False)],
        ).withColumn("_commit_version", stamp)

    def _read(actions: dict[str, dict[str, Any]]) -> DataFrame:
        # each SIDE applies its own actions' deletion-vector state
        # (r10 late): the old side reads rows visible at v-1 (prev
        # snapshot's descriptors), the new side rows visible at v —
        # so a DV-attach commit derives exact 'delete' rows and a DV
        # update derives exact pre/post pairs, no CDF needed
        dv_apply = _dv_filter_for(
            spark,
            path,
            [
                (p, a["deletionVector"])
                for p, a in sorted(actions.items())
                if a.get("deletionVector")
            ],
        )
        return _read_adds(spark, path, cur, actions, hook=dv_apply)

    if not removed_paths and keys is None:
        # INSERT-ONLY commit (pure append): snapshot-level DVs are
        # irrelevant (a vector committed at-or-before ``version`` can
        # only reference files from EARLIER commits; a same-commit DV
        # attach is a remove+re-add, which lands in the diff path).
        # This is how the real table_changes serves append commits
        # without cdc files.
        return insert_rows(_read(adds), cols, "_commit_version", stamp)
    require_keys(
        keys,
        cols,
        f"commit {version} rewrites files (removes with dataChange) and "
        "carries no cdc actions",
    )
    removed: dict[str, dict[str, Any]] = {}
    if removed_paths:
        prev = _replay_log(path, version - 1)
        lost = [p for p in removed_paths if p not in prev.files]
        if lost:
            raise ValueError(
                f"commit {version} removes files absent from version "
                f"{version - 1}: {lost[:3]} — log is inconsistent"
            )
        removed = {p: prev.files[p] for p in removed_paths}
    return derive(_read(removed), _read(adds), keys, cols, "_commit_version", stamp)


def delta_table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Row-level changes for every commit in ``(from_version,
    to_version]`` — the real client's ``table_changes`` TVF shape:
    the union of :func:`delta_row_changes` over the range, each row
    stamped with its ``_commit_version`` (a rewrite commit in the
    range raises without ``keys``). Pure-metadata commits (SET
    TBLPROPERTIES, OPTIMIZE's dataChange:false rewrites) emit
    nothing. Cost ∝ the range's changed rows, never the table —
    commits are read independently, so a poll's plan width is
    O(commits in range)."""
    end = _replay_log(path, to_version)
    if from_version > end.version:
        raise ValueError(
            f"from_version {from_version} > table version {end.version}"
        )
    log_dir = _log_path(path)
    frames: list[DataFrame] = []
    for v in range(from_version + 1, end.version + 1):
        commit_file = os.path.join(log_dir, f"{v:020d}.json")
        if not os.path.exists(commit_file):
            raise ValueError(
                f"commit {v} of {path} is not available as a JSON delta "
                "(expired by log retention) — table_changes needs the "
                "per-commit actions for the whole range"
            )
        with open(commit_file) as f:
            has_change = any(
                "cdc" in a
                or any(
                    k in a and a[k].get("dataChange", True)
                    for k in ("add", "remove")
                )
                for a in (json.loads(line) for line in f if line.strip())
            )
        if has_change:
            frames.append(delta_row_changes(spark, path, v, keys=keys))
    return range_union(
        spark, frames, lambda: end.schema, "_commit_version", LongType()
    )


def set_delta_properties(path: str, props: dict[str, str]) -> int:
    """ALTER TABLE SET TBLPROPERTIES: one metadata-only commit merging
    ``props`` into the table's configuration. Enabling
    ``delta.enableChangeDataFeed`` also raises the protocol so foreign
    clients know the contract: legacy writer < 4 bumps to 4 (the
    feature's legacy version), a table-features protocol gains
    ``changeDataFeed`` in writerFeatures. Returns the new version.
    Driver-only — no Spark job."""
    if props.get("delta.enableRowTracking") == "true":
        # the property alone would leave the table enabled WITHOUT the
        # protocol feature, materialized names, backfill, or watermark
        # — an unmaintainable half-state every later write would refuse
        raise ValueError(
            "delta.enableRowTracking needs the full enablement commit "
            "(protocol upgrade + backfill + rowIdHighWaterMark); use "
            "enable_row_tracking(spark, path)"
        )
    snap = _replay_log(path, None)
    assert snap.metadata_action is not None
    md = dict(snap.metadata_action)
    cfg = dict(md.get("configuration") or {})
    cfg.update(props)
    actions: list[dict[str, Any]] = []
    if props.get("delta.enableInCommitTimestamps") == "true" and not (
        (snap.metadata_action.get("configuration") or {}).get(
            "delta.enableInCommitTimestamps"
        )
        == "true"
    ):
        # ICT enablement (PROTOCOL.md §In-Commit Timestamps): the
        # protocol gains the inCommitTimestamp writer feature (table-
        # features form, legacy-implied sets carried), and the
        # provenance properties record WHERE the reliable clock starts
        # — readers must not trust ICT semantics for versions before
        # the enablement version. The enablement timestamp must equal
        # the enablement commit's own inCommitTimestamp, so compute it
        # here from the same parent commit_actions will see.
        pr = dict(
            snap.protocol_action
            or {"minReaderVersion": 1, "minWriterVersion": 2}
        )
        if pr.get("writerFeatures") is None:
            legacy = _LEGACY_WRITER_FEATURES.get(
                pr.get("minWriterVersion", 2), []
            )
            pr["writerFeatures"] = sorted(set(legacy))
            pr["minWriterVersion"] = 7
            if pr.get("minReaderVersion", 1) >= 3:
                pr.setdefault(
                    "readerFeatures",
                    _LEGACY_READER_FEATURES.get(
                        pr.get("minReaderVersion", 1), []
                    ),
                )
        if "inCommitTimestamp" not in pr["writerFeatures"]:
            pr["writerFeatures"] = sorted(
                set(pr["writerFeatures"]) | {"inCommitTimestamp"}
            )
        actions.append({"protocol": pr})
        enable_version = snap.version + 1
        parent = _parent_commit_ms(path, enable_version)
        ict = max(int(time.time() * 1000), (parent or 0) + 1)
        cfg["delta.inCommitTimestampEnablementVersion"] = str(
            enable_version
        )
        cfg["delta.inCommitTimestampEnablementTimestamp"] = str(ict)
    md["configuration"] = cfg
    if cfg.get("delta.enableChangeDataFeed") == "true":
        pr = dict(
            snap.protocol_action
            or {"minReaderVersion": 1, "minWriterVersion": 2}
        )
        if pr.get("writerFeatures") is not None:
            if "changeDataFeed" not in pr["writerFeatures"]:
                pr["writerFeatures"] = sorted(
                    set(pr["writerFeatures"]) | {"changeDataFeed"}
                )
                actions.append({"protocol": pr})
        elif pr.get("minWriterVersion", 2) < 4:
            pr["minWriterVersion"] = 4
            actions.append({"protocol": pr})
    actions.append({"metaData": md})
    return commit_actions(
        path,
        snap.version,
        actions,
        "SET TBLPROPERTIES",
        {"properties": json.dumps(props)},
        snapshot=snap,
    )


def add_check_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT name CHECK (expr): VALIDATES the
    constraint against every EXISTING row first (one distributed
    filter + limit(1) probe — the real writer's full-scan check; a
    violating row refuses with a sample, so a table can never hold a
    constraint its data already breaks), then commits the
    `delta.constraints.<name>` property, bumping a legacy writer
    protocol below 3 to 3 (checkConstraints' legacy version) or adding
    the feature to a table-features protocol. NULL passes, per SQL
    CHECK semantics. Returns the new version."""
    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"constraint name {name!r} must be an identifier")
    snap = _replay_log(path, None)
    assert snap.metadata_action is not None
    cfg = dict(snap.metadata_action.get("configuration") or {})
    key = f"delta.constraints.{name}"
    if key in cfg:
        raise ValueError(f"constraint {name!r} already exists: {cfg[key]!r}")
    bad = (
        read_delta(spark, path)
        .filter(~F.coalesce(F.expr(expr), F.lit(True)))
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"cannot ADD CONSTRAINT {name!r}: existing row violates "
            f"CHECK ({expr}) — e.g. {bad[0].asDict()}"
        )
    md = dict(snap.metadata_action)
    cfg[key] = expr
    md["configuration"] = cfg
    actions: list[dict[str, Any]] = []
    pr = dict(
        snap.protocol_action or {"minReaderVersion": 1, "minWriterVersion": 2}
    )
    if pr.get("writerFeatures") is not None:
        if "checkConstraints" not in pr["writerFeatures"]:
            pr["writerFeatures"] = sorted(
                set(pr["writerFeatures"]) | {"checkConstraints"}
            )
            actions.append({"protocol": pr})
    elif pr.get("minWriterVersion", 2) < 3:
        pr["minWriterVersion"] = 3
        actions.append({"protocol": pr})
    actions.append({"metaData": md})
    return commit_actions(
        path,
        snap.version,
        actions,
        "ADD CONSTRAINT",
        {"name": name, "expr": expr},
        snapshot=snap,
    )


def drop_check_constraint(path: str, name: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT: remove the
    `delta.constraints.<name>` property (metadata-only; the protocol
    keeps declaring checkConstraints support, matching the real
    writer). Unknown names raise. Returns the new version."""
    snap = _replay_log(path, None)
    assert snap.metadata_action is not None
    cfg = dict(snap.metadata_action.get("configuration") or {})
    key = f"delta.constraints.{name}"
    if key not in cfg:
        have = sorted(
            k[len("delta.constraints."):]
            for k in cfg
            if k.startswith("delta.constraints.")
        )
        raise ValueError(f"unknown constraint {name!r} (have {have})")
    del cfg[key]
    md = dict(snap.metadata_action)
    md["configuration"] = cfg
    return commit_actions(
        path,
        snap.version,
        [{"metaData": md}],
        "DROP CONSTRAINT",
        {"name": name},
        snapshot=snap,
    )


def _refuse_contract_references(
    snap: _Snapshot, col: str, ctx: str, skip_own_field: bool = False
) -> None:
    """Refuse a column rename/drop while a declared contract's SQL
    text references the column by name — CHECK constraints
    (`delta.constraints.*`), generation expressions, and column
    invariants store raw SQL, so a metadata-only name change would
    silently break them for every client (the real writer blocks
    these too). ``skip_own_field`` exempts the named column's OWN
    field metadata (a dropped column's invariant/generation dies with
    it)."""
    pat = _re.compile(rf"\b{_re.escape(col)}\b", _re.IGNORECASE)
    md = snap.metadata_action or {}
    for k, v in (md.get("configuration") or {}).items():
        if k.startswith("delta.constraints.") and pat.search(str(v)):
            raise ValueError(
                f"{ctx}: CHECK constraint {k!r} references column "
                f"{col!r}; drop the constraint first"
            )
    for f in snap.schema.fields if snap.schema is not None else []:
        if skip_own_field and f.name == col:
            continue
        fmd = f.metadata or {}
        gen = fmd.get("delta.generationExpression")
        if gen and pat.search(gen):
            raise ValueError(
                f"{ctx}: generated column {f.name!r}'s expression "
                f"references {col!r}"
            )
        inv = fmd.get("delta.invariants")
        if inv and pat.search(str(inv)):
            raise ValueError(
                f"{ctx}: column invariant on {f.name!r} references "
                f"{col!r}"
            )


def _require_mapping_for_ddl(snap: _Snapshot, ctx: str) -> None:
    if _column_mapping(snap) is None:
        raise NotImplementedError(
            f"{ctx} requires column mapping — physical names decouple "
            "data files from logical names, making the change "
            "metadata-only; an unmapped table would need a full "
            "rewrite (recreate with write_delta(column_mapping="
            "'name'))"
        )


def rename_column_delta(path: str, old: str, new: str) -> int:
    """ALTER TABLE ... RENAME COLUMN old TO new — metadata-only on a
    column-mapped table (the physicalName stays put, so NO data file
    rewrites: the rename is one metaData commit regardless of table
    size). Non-mapped tables refuse by name (the real writer's rule —
    without mapping, parquet column names ARE the logical names).
    Partition columns rename too (metaData.partitionColumns holds
    logical names; add.partitionValues keys are PHYSICAL and stay
    valid). Refuses while a CHECK constraint, generation expression,
    or invariant references the old name (their stored SQL would
    silently break). Returns the new version."""
    snap = _replay_log(path, None)
    _require_mapping_for_ddl(snap, "RENAME COLUMN")
    assert snap.schema is not None
    names = [f.name for f in snap.schema.fields]
    if old not in names:
        raise ValueError(f"unknown column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    _refuse_contract_references(snap, old, "RENAME COLUMN")
    fields = [
        StructField(new, f.dataType, f.nullable, f.metadata)
        if f.name == old
        else f
        for f in snap.schema.fields
    ]
    assert snap.metadata_action is not None
    md = dict(snap.metadata_action)
    md["schemaString"] = StructType(fields).json()
    if old in (md.get("partitionColumns") or []):
        md["partitionColumns"] = [
            new if c == old else c for c in md["partitionColumns"]
        ]
    return commit_actions(
        path,
        snap.version,
        [{"metaData": md}],
        "RENAME COLUMN",
        {"oldColumnPath": old, "newColumnPath": new},
        snapshot=snap,
    )


def drop_column_delta(path: str, col: str) -> int:
    """ALTER TABLE ... DROP COLUMN — metadata-only on a column-mapped
    table: the field leaves the logical schema, data files keep the
    physical column (unreadable dead bytes until a rewrite), and NO
    data moves — one metaData commit regardless of table size.
    Non-mapped tables refuse by name. Partition columns cannot drop
    (the layout depends on them); the last column cannot drop; a
    CHECK constraint or ANOTHER column's generation expression
    referencing the column refuses (the dropped column's own
    invariant/generation dies with it). Returns the new version."""
    snap = _replay_log(path, None)
    _require_mapping_for_ddl(snap, "DROP COLUMN")
    assert snap.schema is not None
    names = [f.name for f in snap.schema.fields]
    if col not in names:
        raise ValueError(f"unknown column {col!r} (have {names})")
    if col in snap.partition_columns:
        raise ValueError(
            f"cannot DROP partition column {col!r}; the directory "
            "layout and add.partitionValues depend on it"
        )
    if len(names) == 1:
        raise ValueError("cannot DROP the table's only column")
    _refuse_contract_references(
        snap, col, "DROP COLUMN", skip_own_field=True
    )
    fields = [f for f in snap.schema.fields if f.name != col]
    assert snap.metadata_action is not None
    md = dict(snap.metadata_action)
    md["schemaString"] = StructType(fields).json()
    return commit_actions(
        path,
        snap.version,
        [{"metaData": md}],
        "DROP COLUMNS",
        {"columns": [col]},
        snapshot=snap,
    )


# Legacy protocol versions imply fixed feature sets (PROTOCOL.md
# "Table Features" appendix); converting to the table-features form
# must list them explicitly or foreign writers would stop honoring
# them. Shared with delta_dml's deletionVectors upgrade.
_LEGACY_READER_FEATURES: dict[int, list[str]] = {1: [], 2: ["columnMapping"]}
_LEGACY_WRITER_FEATURES: dict[int, list[str]] = {
    1: [],
    2: ["appendOnly", "invariants"],
    3: ["appendOnly", "invariants", "checkConstraints"],
    4: [
        "appendOnly", "invariants", "checkConstraints",
        "changeDataFeed", "generatedColumns",
    ],
    5: [
        "appendOnly", "invariants", "checkConstraints",
        "changeDataFeed", "generatedColumns", "columnMapping",
    ],
    6: [
        "appendOnly", "invariants", "checkConstraints",
        "changeDataFeed", "generatedColumns", "columnMapping",
        "identityColumns",
    ],
}


def enable_row_tracking(spark: SparkSession, path: str) -> int:
    """ALTER TABLE ... SET delta.enableRowTracking = true (PROTOCOL.md
    §Row Tracking — the r12 write side): ONE commit that

    * upgrades the protocol to the table-features form
      (minWriterVersion 7) with ``rowTracking`` + ``domainMetadata``
      added and every legacy-implied feature listed explicitly;
    * sets ``delta.enableRowTracking`` and mints the two materialized
      physical column names (what rewrites stamp carried ids under);
    * BACKFILLS: re-adds every live file with a freshly assigned
      ``baseRowId``/``defaultRowCommitVersion`` (dataChange: false —
      a metadata-only layout commit, streaming readers skip it) and
      records the ``rowIdHighWaterMark`` domain metadata.

    Subsequent appends and CoW DML maintain ids automatically
    (_assign_row_tracking); read ids back with
    delta_dml.read_delta_rows. Returns the new version."""
    snap = _replay_log(path, None)
    assert snap.metadata_action is not None
    if _row_tracking_active(snap):
        return snap.version  # idempotent
    pr = dict(
        snap.protocol_action or {"minReaderVersion": 1, "minWriterVersion": 2}
    )
    if pr.get("writerFeatures") is not None:
        feats = set(pr["writerFeatures"])
    else:
        w = int(pr.get("minWriterVersion", 2))
        legacy = _LEGACY_WRITER_FEATURES.get(w)
        if legacy is None:
            raise NotImplementedError(
                f"cannot convert legacy writer version {w} to the "
                "table-features protocol form (unknown implied set)"
            )
        feats = set(legacy)
    pr["minWriterVersion"] = 7
    pr["writerFeatures"] = sorted(feats | {"rowTracking", "domainMetadata"})
    md = dict(snap.metadata_action)
    cfg = dict(md.get("configuration") or {})
    cfg["delta.enableRowTracking"] = "true"
    cfg["delta.rowTracking.materializedRowIdColumnName"] = (
        f"_row-id-col-{uuid.uuid4()}"
    )
    cfg["delta.rowTracking.materializedRowCommitVersionColumnName"] = (
        f"_row-commit-version-col-{uuid.uuid4()}"
    )
    md["configuration"] = cfg
    actions: list[dict[str, Any]] = [{"protocol": pr}, {"metaData": md}]
    version = snap.version + 1
    for p in sorted(snap.files):
        add = dict(snap.files[p])
        add["dataChange"] = False
        actions.append({"add": add})
    actions = _assign_row_tracking(snap, actions, version, backfill=True)
    return commit_actions(
        path, snap.version, actions, "SET TBLPROPERTIES",
        {"properties": json.dumps({"delta.enableRowTracking": "true"})},
        snapshot=snap,
    )


def table_version(path: str) -> int:
    """Latest committed version of the table."""
    return _replay_log(path, None).version


def version_at_timestamp(path: str, ts: Any) -> int:
    """Resolve timestamp-based time travel (`timestampAsOf`): the
    LATEST version whose commit timestamp is <= ``ts`` (datetime —
    naive treated as UTC — or epoch millis), per the real client's
    rule. Commit timestamps come from each commit's commitInfo
    (falling back to the json file's mtime for foreign commits
    without one, the protocol's documented fallback) and are
    MONOTONIZED first — each version's timestamp becomes
    max(prev + 1, its own), the real client's adjustment — so a
    foreign log with out-of-order commitInfo timestamps (clock skew
    between writers, mtime fallbacks) resolves to the same version
    delta-spark would pick instead of a version-order-violating one
    (ADVICE r8). Raises if every commit is newer than ``ts``."""
    from datetime import datetime as _dtt
    from datetime import timezone as _tzz

    if isinstance(ts, _dtt):
        ref = ts if ts.tzinfo is not None else ts.replace(tzinfo=_tzz.utc)
        ts_ms = int(ref.timestamp() * 1000)
    else:
        ts_ms = int(ts)
    log_dir = _log_path(path)
    stamped: list[tuple[int, int]] = []  # (version, raw commit ms)
    for n in sorted(os.listdir(log_dir)):
        v = _version_of(n, ".json")
        if v is None:
            continue
        commit_ms: int | None = None
        with open(os.path.join(log_dir, n)) as f:
            for line in f:
                line = line.strip()
                if line:
                    action = json.loads(line)
                    if "commitInfo" in action:
                        ci = action["commitInfo"]
                        # inCommitTimestamp (the ICT writer feature) is
                        # the protocol's authoritative clock when
                        # present — already writer-monotonized; the
                        # wall-clock `timestamp` is the fallback
                        commit_ms = ci.get(
                            "inCommitTimestamp", ci.get("timestamp")
                        )
        if commit_ms is None:
            commit_ms = int(
                os.path.getmtime(os.path.join(log_dir, n)) * 1000
            )
        stamped.append((v, commit_ms))
    best: int | None = None
    prev_ms: int | None = None
    for v, commit_ms in sorted(stamped):
        if prev_ms is not None and commit_ms <= prev_ms:
            commit_ms = prev_ms + 1
        prev_ms = commit_ms
        if commit_ms <= ts_ms and (best is None or v > best):
            best = v
    if best is None:
        raise ValueError(
            f"no commit of {path} at or before the requested timestamp "
            "(the earliest readable commit is newer, or the log below "
            "it was expired)"
        )
    return best


def restore_delta(spark: SparkSession, path: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF v: commit a new version whose
    live file set equals version ``v``'s — adds back files ``v`` had
    that the head dropped, removes files the head has that ``v``
    lacked. History is PRESERVED (restore is one more commit, not a
    rewind): time travel to the pre-restore head still works, and the
    restored-to files must still exist (a vacuum that reclaimed them
    makes the restore fail loudly at scan time, the real client's
    documented caveat). Metadata-only: no data files move. Returns the
    new version."""
    head = _replay_log(path, None)
    target = _replay_log(path, version)
    now_ms = int(time.time() * 1000)
    actions: list[dict[str, Any]] = []
    for p_, a in target.files.items():
        cur = head.files.get(p_)
        if cur is None:
            actions.append({"add": {**a, "dataChange": True}})
        elif cur.get("deletionVector") != a.get("deletionVector"):
            # DV-aware restore (r10 — previously a named refusal): a
            # path live in BOTH versions with different vector states
            # re-adds the TARGET's descriptor via remove+re-add, so
            # rows the head's newer vector deleted come back exactly.
            # Replaced sidecars are vacuum-exempt (.bin never swept),
            # so the target's vector is still on disk.
            actions.append(
                {
                    "remove": {
                        "path": p_,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
            actions.append({"add": {**a, "dataChange": True}})
    for p_ in head.files:
        if p_ not in target.files:
            actions.append(
                {
                    "remove": {
                        "path": p_,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
    if not actions:
        return head.version  # already identical: no empty commit
    return commit_actions(
        path,
        head.version,
        actions,
        "RESTORE",
        {"version": str(version)},
        snapshot=head,
    )


def clone_delta(
    path: str, dst: str, version: int | None = None
) -> int:
    """SHALLOW CLONE (`CREATE TABLE dst SHALLOW CLONE src [VERSION AS
    OF v]`): author a NEW table at ``dst`` whose version-0 commit
    re-adds the source snapshot's live files by ABSOLUTE path — a
    zero-copy, metadata-only fork (O(live files) driver work, no data
    bytes move), the cheap way to branch a 100 TB table for an
    experiment. The protocol's allowance is add.path being "relative
    ... or an absolute path" (PROTOCOL.md §Add File and Remove File);
    this engine writes url-encoded absolute filesystem paths, the
    local-FS twin of the real writer's absolute URIs (consistent with
    the repo's single-writer local-FS commit contract).

    What carries: protocol verbatim; metaData with a FRESH table id
    (two tables must not share identity) and createdTime; every live
    add with partitionValues/stats/size/row-tracking fields verbatim
    and `dataChange: true` (the rows are new TO THIS TABLE's readers);
    deletion vectors — inline ("i") and absolute ("p") verbatim,
    relative ("u") re-anchored as absolute "p" descriptors into the
    source's storage (offset/size/cardinality unchanged, so decode and
    CRC still verify); domainMetadata (notably delta.rowTracking's
    rowIdHighWaterMark, so appends to the clone mint non-colliding
    row ids). What does NOT carry: `txn` app ids (a clone is a new
    sink — replaying a streaming writer against it must not be
    deduped by the source's markers; the real CLONE drops them too)
    and tombstones (dead files are not part of the fork).

    After cloning, the tables diverge freely: source commits are
    invisible to the clone and vice versa. Writes/DML on the clone
    stage new files under ``dst`` (relative adds mix with the absolute
    ones); vacuum_delta on the clone never reclaims source files (the
    table-root guard). The real caveat carries too: VACUUM on the
    SOURCE can reclaim files the clone still references — the clone
    then fails loudly at scan time. Returns the clone's version (0).
    """
    snap = _replay_log(path, version)
    if snap.metadata_action is None:
        raise ValueError(f"source {path} has no metaData action")
    dst_log = _log_path(dst)
    if os.path.isdir(dst_log) and any(
        _version_of(n, ".json") is not None for n in os.listdir(dst_log)
    ):
        raise ValueError(f"destination {dst} is already a Delta table")
    from sparkstreamingtwitter_presidential_spark.sources.delta_dv import (
        _dv_abs_path,
    )

    src_abs = os.path.abspath(path)
    now_ms = int(time.time() * 1000)
    actions: list[dict[str, Any]] = []
    if snap.protocol_action is not None:
        actions.append({"protocol": snap.protocol_action})
    clone_md = {
        **snap.metadata_action,
        "id": str(uuid.uuid4()),
        "createdTime": now_ms,
    }
    cfg = dict(clone_md.get("configuration") or {})
    if _ict_enabled_cfg(cfg):
        # the clone's reliable clock starts at ITS version 0 — source
        # enablement provenance would point into a history the clone
        # does not have (the real CLONE re-bases these too)
        cfg["delta.inCommitTimestampEnablementVersion"] = "0"
        cfg["delta.inCommitTimestampEnablementTimestamp"] = str(now_ms)
        clone_md["configuration"] = cfg
    actions.append({"metaData": clone_md})
    for dm in snap.domain_metadata.values():
        actions.append({"domainMetadata": dm})
    for p_, a in sorted(snap.files.items()):
        fs_path = urllib.parse.unquote(p_)
        if not os.path.isabs(fs_path):
            fs_path = os.path.join(src_abs, fs_path)
        add = {
            **a,
            "path": urllib.parse.quote(fs_path, safe="/"),
            "dataChange": True,
        }
        dv = add.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            add["deletionVector"] = {
                **dv,
                "storageType": "p",
                "pathOrInlineDv": _dv_abs_path(src_abs, dv),
            }
        actions.append({"add": add})
    os.makedirs(dst_log, exist_ok=True)
    return commit_actions(
        dst,
        -1,
        actions,
        "CLONE",
        {
            "sourceTable": src_abs,
            "sourceVersion": str(snap.version),
            "isShallow": "true",
        },
    )


def delta_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Rows APPENDED in commits ``(from_version, to_version]`` — the
    incremental-consumption primitive a streaming reader polls (the same
    contract as delta-spark's streaming source / Trigger.AvailableNow):

    * ``add`` actions with ``dataChange: true`` in the range are read;
      partition values are injected from each add's own log entry.
    * Commits whose adds all carry ``dataChange: false`` (OPTIMIZE
      compactions) contribute NOTHING — the rows they rewrite were
      already delivered by their original append commits.
    * A ``remove`` with ``dataChange: true`` in the range (DELETE /
      UPDATE / MERGE rewrote data) raises ValueError: an append-only
      consumer cannot represent a retraction (delta-spark fails the
      same way without ignoreChanges=true); consumers that can handle
      it should re-read the snapshot instead.

    Cost: O(actions in range) driver-side metadata + a distributed scan
    of only the NEW files — at 100 TB a poll touches megabytes, not the
    table. Each output row carries ``_commit_version`` so a consumer
    can checkpoint its high-water mark (resume = pass it back as
    ``from_version``). Requires the JSON commits in the range to still
    exist (checkpoints collapse SNAPSHOT state, not per-commit deltas)
    — i.e. poll within the log-retention window, the same constraint
    the real streaming source has."""
    end = _replay_log(path, to_version)  # validates to_version exists
    # Mapped tables read under the physical names (_read_adds). DVs
    # need no blanket refusal (r9 late): a DV attach IN RANGE is a
    # remove+re-add and raises on the remove below; vectors on files
    # OUTSIDE the range cannot reference the range's new adds, which
    # are the only files this read scans.
    if from_version > end.version:
        raise ValueError(
            f"from_version {from_version} > table version {end.version}"
        )
    schema = end.schema
    assert schema is not None
    log_dir = _log_path(path)
    commits = {
        v: n
        for n in os.listdir(log_dir)
        if (v := _version_of(n, ".json")) is not None
        and from_version < v <= end.version
    }
    new_adds: dict[int, dict[str, dict[str, Any]]] = {}
    for v in sorted(commits):
        with open(os.path.join(log_dir, commits[v])) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "add" in action and action["add"].get("dataChange", True):
                    if action["add"].get("deletionVector"):
                        raise ValueError(
                            f"commit {v} of {path} attaches a deletion "
                            "vector (row-level DELETE); append-only "
                            "change reads cannot represent retractions "
                            "— re-read the snapshot"
                        )
                    new_adds.setdefault(v, {})[action["add"]["path"]] = action["add"]
                elif "remove" in action and action["remove"].get(
                    "dataChange", True
                ):
                    raise ValueError(
                        f"commit {v} of {path} rewrites data (DELETE/"
                        "UPDATE/MERGE); append-only change reads cannot "
                        "represent retractions — re-read the snapshot"
                    )

    if not new_adds:
        empty = StructType(
            schema.fields + [StructField("_commit_version", LongType())]
        )
        return spark.createDataFrame([], empty)
    # one read per commit: the version is log metadata, stamped as a
    # literal like partition values
    return reduce(
        DataFrame.unionByName,
        [
            _read_adds(spark, path, end, files).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
            for v, files in sorted(new_adds.items())
        ],
    )


def last_txn_version(path: str, app_id: str) -> int | None:
    """Highest `txn` version committed for ``app_id`` (None if the
    table doesn't exist yet or the app never committed). This is the
    protocol's idempotent-writer handshake: a streaming sink asks it
    before committing a replayed batch."""
    try:
        snap = _replay_log(path, None)
    except FileNotFoundError:
        return None
    return snap.transactions.get(app_id)


def delta_history(path: str) -> list[dict[str, Any]]:
    """commitInfo (plus version) for each JSON commit, newest first."""
    log_dir = _log_path(path)
    out = []
    for n in sorted(os.listdir(log_dir), reverse=True):
        v = _version_of(n, ".json")
        if v is None:
            continue
        info: dict[str, Any] = {"version": v}
        with open(os.path.join(log_dir, n)) as f:
            for line in f:
                line = line.strip()
                if line:
                    action = json.loads(line)
                    if "commitInfo" in action:
                        info.update(action["commitInfo"])
        out.append(info)
    return out


_HISTORY_DDL = (
    "version long, timestamp timestamp, operation string, "
    "predicate string, operation_parameters string, n_adds long, "
    "n_removes long, data_change boolean, txn_app_id string, "
    "txn_version long, engine_info string"
)


def describe_detail(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE DETAIL as a one-row frame — the table-inspection
    surface the real client exposes: format, table id, location,
    createdTime / lastModified (epoch ms), partition columns, live
    numFiles / sizeInBytes (log-derived — no file stats are listed),
    table properties as canonical JSON, the protocol's min
    reader/writer versions, and the table-features lists when the
    protocol declares them. Driver-side: one log replay, no Spark
    job beyond building the single-row frame."""
    snap = _replay_log(path, None)
    md = snap.metadata_action or {}
    pr = snap.protocol_action or {}
    last_modified = 0
    log_dir = _log_path(path)
    for n in os.listdir(log_dir):
        if _version_of(n, ".json") is not None:
            last_modified = max(
                last_modified,
                int(os.path.getmtime(os.path.join(log_dir, n)) * 1000),
            )
    row = (
        "delta",
        md.get("id"),
        os.path.abspath(path),
        int(md["createdTime"]) if md.get("createdTime") else None,
        last_modified,
        list(snap.partition_columns),
        len(snap.files),
        sum(int(a.get("size", 0)) for a in snap.files.values()),
        json.dumps(md.get("configuration") or {}, sort_keys=True),
        int(pr.get("minReaderVersion", 1)),
        int(pr.get("minWriterVersion", 1)),
        sorted(pr.get("readerFeatures") or []),
        sorted(pr.get("writerFeatures") or []),
    )
    return spark.createDataFrame(
        [row],
        "format string, id string, location string, created_at long, "
        "last_modified long, partition_columns array<string>, "
        "num_files long, size_in_bytes long, properties string, "
        "min_reader_version int, min_writer_version int, "
        "reader_features array<string>, writer_features array<string>",
    )


def describe_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY as a queryable frame: one row per RETAINED
    JSON commit — version, commit timestamp, operation +
    operationParameters (with the common ``predicate`` parameter
    surfaced as its own column; the full map as canonical JSON),
    add/remove action counts, whether the commit changed data
    (any add/remove with ``dataChange: true`` — an OPTIMIZE is
    ``false``), and the idempotence ``txn`` marker (appId, version)
    when the commit carries one (streaming upsert commits do).

    Retention contract (same as DESCRIBE HISTORY on the real client):
    history reaches exactly as far back as the per-commit JSON files.
    A checkpoint does NOT truncate it — only ``expire_log`` (or an
    external cleanup) does, and from then on older commits are gone
    from history and from ``delta_row_changes`` alike.

    Cost: driver-side parse of the retained commit files — metadata,
    one row each, bounded by log retention; the frame is built with
    createDataFrame like any other metadata frame."""
    log_dir = _log_path(path)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a Delta table (no {_LOG_DIR}): {path}")
    rows = []
    for n in sorted(os.listdir(log_dir)):
        v = _version_of(n, ".json")
        if v is None:
            continue
        info: dict[str, Any] = {}
        n_adds = n_removes = 0
        data_change = False
        txn_app_id, txn_version = None, None
        with open(os.path.join(log_dir, n)) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "commitInfo" in action:
                    info = action["commitInfo"]
                elif "add" in action:
                    n_adds += 1
                    data_change = data_change or action["add"].get(
                        "dataChange", True
                    )
                elif "remove" in action:
                    n_removes += 1
                    data_change = data_change or action["remove"].get(
                        "dataChange", True
                    )
                elif "txn" in action:
                    txn_app_id = action["txn"].get("appId")
                    txn_version = action["txn"].get("version")
        params = info.get("operationParameters") or {}
        ts_ms = info.get("timestamp")
        rows.append(
            (
                v,
                # tz-AWARE: a naive datetime would be re-interpreted in
                # the session timezone by createDataFrame, shifting the
                # stored instant on any non-UTC session
                datetime.fromtimestamp(ts_ms / 1000.0, tz=timezone.utc)
                if ts_ms is not None
                else None,
                info.get("operation"),
                params.get("predicate"),
                json.dumps(params, sort_keys=True, separators=(",", ":")),
                n_adds,
                n_removes,
                data_change,
                txn_app_id,
                txn_version,
                info.get("engineInfo"),
            )
        )
    return spark.createDataFrame(rows, _HISTORY_DDL)


def history_infos(path: str) -> list[dict]:
    """Driver-side commit chronology — (version, operation) per
    RETAINED JSON commit, version-ordered. For callers that only
    validate the operation sequence: the log is driver-resident, so
    there is no Spark job and no per-action fold here (those belong to
    :func:`describe_history`, the queryable frame). An r15
    optimization: query paths used to pay a createDataFrame→collect
    round trip per staging validation."""
    log_dir = _log_path(path)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a Delta table (no {_LOG_DIR}): {path}")
    out = []
    for n in sorted(os.listdir(log_dir)):
        v = _version_of(n, ".json")
        if v is None:
            continue
        op = None
        with open(os.path.join(log_dir, n)) as f:
            for line in f:
                if '"commitInfo"' not in line:
                    continue
                action = json.loads(line)
                if "commitInfo" in action:
                    op = action["commitInfo"].get("operation")
                    break
        out.append({"version": v, "operation": op})
    return out


def expire_log(path: str, keep_from: int) -> list[int]:
    """Delete per-commit JSON files with version < ``keep_from`` and
    return the deleted versions — the engine's log-retention primitive
    (the real client's logRetentionDuration cleanup, keyed by version
    instead of age so tests and callers are deterministic).

    Safety: requires a checkpoint at version >= keep_from - 1, because
    replaying the LATEST snapshot must never need an expired commit.
    After expiry, time travel to versions below the checkpoint and
    ``delta_row_changes`` for expired commits are permanently gone
    (both refuse with clear errors) — that is the documented retention
    trade, identical to the real system's VACUUM/log-cleanup
    semantics."""
    log_dir = _log_path(path)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a Delta table (no {_LOG_DIR}): {path}")
    names = os.listdir(log_dir)
    checkpoints = [
        v
        for n in names
        if (v := _version_of(n, ".checkpoint.parquet")) is not None
    ] + [
        # V2 spec checkpoints bound replay exactly like classic ones
        int(m.group(1))
        for n in names
        if (m := _V2_CHECKPOINT_RE.match(n)) is not None
    ]
    if not checkpoints or max(checkpoints) < keep_from - 1:
        raise ValueError(
            f"cannot expire commits below {keep_from}: no checkpoint at "
            f"version >= {keep_from - 1} (latest snapshot replay would "
            "need the expired commits — write_checkpoint first)"
        )
    deleted = []
    for n in names:
        v = _version_of(n, ".json")
        if v is not None and v < keep_from:
            os.remove(os.path.join(log_dir, n))
            deleted.append(v)
    return sorted(deleted)


class DeltaCommitConflict(RuntimeError):
    """Another writer claimed the target version. The caller's snapshot
    is stale: re-read and re-derive the actions (optimistic concurrency,
    same contract as the real Delta client's conflict checker — which we
    deliberately do NOT blind-retry for DML, since a remove computed
    against a stale file set could tombstone a file a concurrent commit
    already rewrote)."""


def _ict_enabled_cfg(cfg: dict[str, Any] | None) -> bool:
    return (cfg or {}).get("delta.enableInCommitTimestamps") == "true"


def _parent_commit_ms(path: str, version: int) -> int | None:
    """The parent commit's clock reading for ICT monotonization: its
    commitInfo.inCommitTimestamp when stamped, else its wall-clock
    commitInfo timestamp, else the json file's mtime (the protocol's
    fallback chain). None when the parent json is gone (expired log —
    the child stamps from its own clock; max() keeps monotonicity over
    whatever is still readable)."""
    if version <= 0:
        return None
    f = os.path.join(_log_path(path), f"{version - 1:020d}.json")
    if not os.path.isfile(f):
        return None
    ms: int | None = None
    with open(f) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            a = json.loads(line)
            if "commitInfo" in a:
                ci = a["commitInfo"]
                ms = ci.get("inCommitTimestamp", ci.get("timestamp"))
    if ms is None:
        ms = int(os.path.getmtime(f) * 1000)
    return int(ms)


def commit_actions(
    path: str,
    read_version: int,
    actions: list[dict[str, Any]],
    operation: str,
    operation_parameters: dict[str, Any] | None = None,
    snapshot: _Snapshot | None = None,
) -> int:
    """Atomically commit ``actions`` as version ``read_version + 1``.

    The protocol's put-if-absent primitive (O_CREAT|O_EXCL): if the
    version file already exists, a concurrent writer won — raise
    DeltaCommitConflict instead of retrying, because actions derived
    from a stale snapshot (DML removes, optimize compactions) are not
    safe to replay against a moved table. Append-only writers that ARE
    safe to retry (write_delta) keep their own loop.

    ``snapshot`` (r12, ICT): the caller's already-replayed snapshot,
    consulted for `delta.enableInCommitTimestamps` without a second
    log replay. When the table (or a metaData action IN this commit —
    the enablement shape) carries the flag, the commit stamps
    `commitInfo.inCommitTimestamp = max(now, parent's clock + 1)`
    (PROTOCOL.md §In-Commit Timestamps) and commitInfo moves FIRST in
    the action list, the spec's requirement for ICT commits. Without
    ``snapshot`` an ICT check replays the log only when the commit
    itself carries no metaData."""
    version = read_version + 1
    ci = {
        "timestamp": int(time.time() * 1000),
        "operation": operation,
        "operationParameters": operation_parameters or {},
        "engineInfo": "sparkstreamingtwitter-presidential-spark native-delta",
    }
    cfg: dict[str, Any] | None = None
    has_md = False
    for a in actions:
        if "metaData" in a:
            cfg = a["metaData"].get("configuration")
            has_md = True
    if not has_md:
        if snapshot is not None:
            cfg = (snapshot.metadata_action or {}).get("configuration")
        elif read_version >= 0:
            cfg = (
                _replay_log(path, None).metadata_action or {}
            ).get("configuration")
    if _ict_enabled_cfg(cfg):
        parent = _parent_commit_ms(path, version)
        ict = max(ci["timestamp"], (parent or 0) + 1)
        if (
            cfg is not None
            and cfg.get("delta.inCommitTimestampEnablementVersion")
            == str(version)
        ):
            # the ENABLEMENT commit: its stamped clock must equal the
            # recorded delta.inCommitTimestampEnablementTimestamp
            # (set_delta_properties computed both from the same parent)
            ict = max(
                int(cfg["delta.inCommitTimestampEnablementTimestamp"]),
                (parent or 0) + 1,
            )
        ci["inCommitTimestamp"] = ict
        actions = [{"commitInfo": ci}] + list(actions)
    else:
        actions = list(actions) + [{"commitInfo": ci}]
    payload = "\n".join(json.dumps(a, separators=(",", ":")) for a in actions)
    commit_file = os.path.join(_log_path(path), f"{version:020d}.json")
    if not put_if_absent(commit_file, payload + "\n"):
        raise DeltaCommitConflict(
            f"version {version} of {path} was committed concurrently; "
            "re-read the table and re-derive the operation"
        )
    return version


def write_checkpoint(path: str, v2: bool = False) -> int:
    """Write a checkpoint of the CURRENT snapshot plus
    ``_last_checkpoint``, and return the checkpointed version. Bounds
    log-replay cost: the next reader bootstraps from the checkpoint and
    replays only later commits — O(1) metadata instead of O(#commits),
    which is what keeps a long-lived streaming table's read-side
    metadata cost flat (the real client checkpoints every 10 commits
    for the same reason).

    ``v2=False`` (default): the classic single-file parquet form,
    round-tripping through _checkpoint_actions. ``v2=True`` (r10 — the
    read side landed r9): the V2 SPEC CHECKPOINT form modern
    Databricks tables default to — a json manifest named
    ``<version>.checkpoint.<uuid>.json`` carrying checkpointMetadata,
    protocol/metaData/txn, and ``sidecar`` pointers, with the
    add/remove FILE actions in parquet sidecars under
    ``_delta_log/_sidecars/`` — round-tripping through
    _v2_checkpoint_actions. The split is what scales: at 100 TB the
    file actions dominate and sidecars shard them into
    independently-readable parquet, while the manifest stays tiny."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = _replay_log(path, None)
    # add actions carry their deletionVector descriptors through the
    # checkpoint verbatim (r9 late — pyarrow infers the struct from
    # the dicts; non-DV adds read back with the field null, which
    # .get() treats exactly like absence), so a long-lived MOR table
    # can compact its log without resurrecting deleted rows. Pinned by
    # test_checkpoint_preserves_dvs.
    keys = ("protocol", "metaData", "add", "remove", "txn", "domainMetadata")

    def _strip_empty(obj: Any) -> Any:
        """Drop empty-dict fields recursively: pyarrow cannot write a
        zero-field struct to parquet, and every such field
        (metaData.configuration, unpartitioned partitionValues,
        format.options) is read back via .get(..., default) anyway."""
        if isinstance(obj, dict):
            out = {k: _strip_empty(v) for k, v in obj.items()}
            return {k: v for k, v in out.items() if v != {}}
        return obj

    def _row(key: str, value: dict[str, Any]) -> dict[str, Any]:
        return {k: (_strip_empty(value) if k == key else None) for k in keys}

    rows = []
    if snap.protocol_action is None or snap.metadata_action is None:
        raise ValueError(f"snapshot of {path} lacks protocol/metaData")
    rows.append(_row("protocol", snap.protocol_action))
    rows.append(_row("metaData", snap.metadata_action))
    for p in sorted(snap.files):
        rows.append(_row("add", snap.files[p]))
    # persist UNEXPIRED remove tombstones (the real protocol keeps
    # them in checkpoints until deletedFileRetentionDuration passes):
    # after expire_log drops the JSON commits, these rows are what
    # keeps vacuum's retention guard aware of recent deletes. Expired
    # tombstones (older than the retention default) are pruned here,
    # exactly the real checkpoint writer's behavior — their files are
    # already past every reader's window.
    cutoff = int(time.time() * 1000) - int(
        TOMBSTONE_RETENTION_HOURS * 3600 * 1000
    )
    for p in sorted(snap.tombstones):
        if p in snap.files:
            continue  # re-added path: the add row is authoritative
        r = snap.tombstones[p]
        if int(r.get("deletionTimestamp", 0)) >= cutoff:
            rows.append(_row("remove", r))
    for app_id, v in sorted(snap.transactions.items()):
        rows.append(_row("txn", {"appId": app_id, "version": v}))
    for dom in sorted(snap.domain_metadata):
        rows.append(_row("domainMetadata", snap.domain_metadata[dom]))
    if v2:
        log_dir = _log_path(path)
        sc_dir = os.path.join(log_dir, "_sidecars")
        os.makedirs(sc_dir, exist_ok=True)
        file_rows = [
            {k: r[k] for k in ("add", "remove")}
            for r in rows
            if r.get("add") is not None or r.get("remove") is not None
        ]
        top_rows = [
            r
            for r in rows
            if r.get("add") is None and r.get("remove") is None
        ]
        sidecars: list[dict[str, Any]] = []
        if file_rows:
            sc_name = f"{uuid.uuid4().hex}.parquet"
            sc_path = os.path.join(sc_dir, sc_name)
            pq.write_table(pa.Table.from_pylist(file_rows), sc_path)
            sidecars.append(
                {
                    "sidecar": {
                        "path": sc_name,
                        "sizeInBytes": os.path.getsize(sc_path),
                        "modificationTime": int(time.time() * 1000),
                    }
                }
            )
        manifest = [
            {"checkpointMetadata": {"version": snap.version}},
            *(
                {k: v_ for k, v_ in r.items() if v_ is not None}
                for r in top_rows
            ),
            *sidecars,
        ]
        cp_name = f"{snap.version:020d}.checkpoint.{uuid.uuid4().hex}.json"
        with open(os.path.join(log_dir, cp_name), "w") as f:
            for a in manifest:
                f.write(json.dumps(a, separators=(",", ":")) + "\n")
        with open(os.path.join(log_dir, _LAST_CHECKPOINT), "w") as f:
            json.dump(
                {
                    "version": snap.version,
                    "size": len(rows),
                    "sizeInBytes": os.path.getsize(
                        os.path.join(log_dir, cp_name)
                    ),
                    "v2Checkpoint": {"path": cp_name},
                },
                f,
            )
        return snap.version
    table = pa.Table.from_pylist(rows)
    cp_file = os.path.join(_log_path(path), f"{snap.version:020d}.checkpoint.parquet")
    pq.write_table(table, cp_file)
    with open(os.path.join(_log_path(path), _LAST_CHECKPOINT), "w") as f:
        json.dump({"version": snap.version, "size": len(rows)}, f)
    return snap.version


def _file_stats(parquet_path: str, metadata: Any | None = None) -> str | None:
    """Per-file column statistics as the protocol's `stats` JSON string
    (numRecords / minValues / maxValues / nullCount) read from the
    parquet footer the writer ALREADY produced — no data re-scan, just
    metadata. ``metadata`` (a pyarrow FileMetaData) skips re-parsing a
    footer the caller already opened (_stage_files reads it once for
    the empty-file check). Non-primitive and unparseable columns are
    simply omitted (stats are advisory: a reader that can't prove
    exclusion keeps the file)."""
    import datetime

    import pyarrow.parquet as pq

    def _json_safe(v: Any) -> Any:
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, (bool, int, float, str)) or v is None:
            return v
        return None

    try:
        md = metadata if metadata is not None else pq.ParquetFile(parquet_path).metadata
        mins: dict[str, Any] = {}
        maxs: dict[str, Any] = {}
        nulls: dict[str, int] = {}
        bad: set[str] = set()  # any row group without stats poisons the col
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name or name in bad:  # nested: top-level only
                    continue
                st = col.statistics
                if st is not None and st.null_count is not None:
                    nulls[name] = nulls.get(name, 0) + st.null_count
                lo = _json_safe(st.min) if st and st.has_min_max else None
                hi = _json_safe(st.max) if st and st.has_min_max else None
                if lo is None or hi is None:
                    # no min/max (e.g. all-NULL column): nullCount above
                    # is still valid; only the range is unknown
                    bad.add(name)
                    continue
                if name not in mins:
                    mins[name], maxs[name] = lo, hi
                else:
                    mins[name] = min(mins[name], lo)
                    maxs[name] = max(maxs[name], hi)
        for name in bad:
            mins.pop(name, None)
            maxs.pop(name, None)
        return json.dumps(
            {
                "numRecords": md.num_rows,
                "minValues": mins,
                "maxValues": maxs,
                "nullCount": nulls,
            },
            separators=(",", ":"),
        )
    except Exception:  # noqa: BLE001 - stats are best-effort metadata
        return None


def _stage_files(
    df: DataFrame, table_path: str, partition_by: list[str]
) -> list[dict[str, Any]]:
    """Write df's parquet under the table root (via a scratch dir →
    rename, so half-written files never look live) and return add
    actions (each carrying footer-derived `stats` for file skipping).
    Partition values are recovered from the key=value dirs the
    partitioned write produces."""
    scratch = os.path.join(table_path, f".tmp-{uuid.uuid4().hex}")
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(scratch)
    adds = []
    now = int(time.time() * 1000)
    import pyarrow.parquet as _pq

    for root, _dirs, files in os.walk(scratch):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            src = os.path.join(root, fn)
            md = _pq.ParquetFile(src).metadata
            if md.num_rows == 0:
                continue  # empty part files add metadata, never data
            rel_dir = os.path.relpath(root, scratch)
            pv: dict[str, str | None] = {}
            if rel_dir != ".":
                for seg in rel_dir.split(os.sep):
                    k, _, v = seg.partition("=")
                    pv[k] = (
                        None
                        if v == "__HIVE_DEFAULT_PARTITION__"
                        else urllib.parse.unquote(v)
                    )
            new_name = f"part-{uuid.uuid4().hex}.parquet"
            rel_path = (
                os.path.join(rel_dir, new_name) if rel_dir != "." else new_name
            )
            dst = os.path.join(table_path, rel_path)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
            add: dict[str, Any] = {
                "path": rel_path.replace(os.sep, "/"),
                "partitionValues": pv,
                "size": os.path.getsize(dst),
                "modificationTime": now,
                "dataChange": True,
            }
            stats = _file_stats(dst, metadata=md)
            if stats is not None:
                add["stats"] = stats
            adds.append({"add": add})
    import shutil

    shutil.rmtree(scratch, ignore_errors=True)
    return adds


def write_delta(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
    column_mapping: str | None = None,
    configuration: dict[str, str] | None = None,
    identity: dict[str, dict[str, Any]] | None = None,
) -> int:
    """Commit df to a Delta table at ``path``; returns the new version.

    ``mode``: 'append' adds files; 'overwrite' also tombstones every
    previously-live file. First commit (version 0) writes protocol +
    metaData. Commit uses O_CREAT|O_EXCL put-if-absent with retry, so
    two local writers cannot claim the same version.

    ``txn``: optional ``(app_id, version)`` recorded as a protocol
    `txn` action — the idempotence marker an at-least-once streaming
    writer pairs with :func:`last_txn_version` to skip replayed
    batches (see streaming/delta_sink.py).

    ``merge_schema``: when the incoming frame carries NEW columns, emit
    an updated ``metaData`` action whose schema is the union (existing
    fields first, new fields appended) — the protocol's schema-evolution
    mechanism. Old data files simply lack the new columns; readers scan
    them under the declared schema and fill nulls, so no rewrite
    happens. Without the flag, a schema mismatch raises (delta-spark's
    default, protecting against accidental drift).

    ``column_mapping`` (r9): ``"name"`` on the CREATING write enables
    name-mode column mapping — each top-level field gets a generated
    physical name (``col-<uuid>``) recorded in the schemaString's
    field metadata, data files store the physical names, and the
    protocol bumps to reader v2 / writer v5 (the real writer's
    versions for the feature). Appends and overwrites to mapped
    tables (own or foreign) stage under the physical names
    automatically; schema EVOLUTION on mapped tables refuses (it
    would need new physical ids — use the writing engine that owns
    the table). Top-level fields only, matching the read support.

    ``configuration`` (r9): table properties recorded in the CREATING
    commit's metaData (e.g. ``{"delta.enableChangeDataFeed": "true"}``
    — which also bumps the protocol to writer 4, the feature's legacy
    version, and makes every later DML commit stage change-data files
    under ``_change_data/``; see delta_dml). Fixed at creation here —
    use :func:`set_delta_properties` to change an existing table.

    ``identity`` (r12): declare IDENTITY columns on the CREATING write
    (PROTOCOL.md §Identity Columns; legacy writer version 6) —
    ``{col: {"start": 1, "step": 1, "allow_explicit_insert": False}}``.
    A declared column ABSENT from the frame is GENERATED (shuffle-free:
    one per-partition count job + a map-only assignment —
    `_assign_identity_values`); present values are accepted only under
    ``allow_explicit_insert`` (GENERATED BY DEFAULT) and refuse under
    GENERATED ALWAYS — on this engine's own tables AND on foreign
    tables declaring the metadata (previously a silent contract
    violation). Generation advances `delta.identity.highWaterMark` in
    the SAME commit's metaData; explicitly inserted values do NOT move
    the watermark (the real writer's `ALTER TABLE ... SYNC IDENTITY`
    boundary — collisions after explicit inserts are the documented
    caveat there too). A commit conflict during a generating append
    aborts instead of retrying (the values were derived from a stale
    watermark, mirroring the row-tracking rule).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if column_mapping not in (None, "name"):
        raise NotImplementedError(
            f"column_mapping mode {column_mapping!r} is not supported "
            "(name mode only; id mode differs only in metadata this "
            "writer does not emit)"
        )
    partition_by = list(partition_by or [])
    log_dir = _log_path(path)
    os.makedirs(log_dir, exist_ok=True)

    existing: _Snapshot | None
    try:
        existing = _replay_log(path, None)
    except FileNotFoundError:
        existing = None
    mapping: dict[str, str] | None = None
    if existing is not None:
        if column_mapping is not None:
            raise ValueError(
                "column_mapping is fixed at table creation; the table "
                "already exists"
            )
        if configuration is not None:
            raise ValueError(
                "configuration is applied at table creation; use "
                "set_delta_properties on an existing table"
            )
        mapping = _column_mapping(existing)
        _refuse_unenforced_writer_contracts(
            existing, "write_delta", emits_removes=(mode == "overwrite")
        )
        if mapping is not None:
            cm_mode = (
                (existing.metadata_action or {}).get("configuration") or {}
            ).get("delta.columnMapping.mode")
            if cm_mode == "id" and not _mapping_field_ids(existing):
                # id-mode readers resolve columns by PARQUET FIELD ID;
                # staged files carry them from delta.columnMapping.id
                # (r10) — but a table declaring id mode WITHOUT ids in
                # its schema metadata cannot be staged resolvably
                raise NotImplementedError(
                    "id-mode column-mapped table lacks "
                    "delta.columnMapping.id field metadata; staged "
                    "files would not be resolvable by id-mode readers"
                )
        if partition_by and partition_by != existing.partition_columns:
            raise ValueError(
                f"partition_by {partition_by} != table's "
                f"{existing.partition_columns}"
            )
        partition_by = existing.partition_columns

    # IDENTITY columns (r12): normalize the creation request, or
    # enforce + generate against an existing table's declared fields
    id_hw_updates: dict[str, int] = {}
    id_persist: DataFrame | None = None
    id_create_md: dict[str, dict[str, Any]] = {}
    if identity is not None:
        if existing is not None:
            raise ValueError(
                "identity columns are fixed at table creation; the "
                "table already exists"
            )
        if column_mapping is not None:
            raise NotImplementedError(
                "identity + column_mapping on one table is not "
                "supported by this writer (physical-name staging "
                "would need the identity metadata re-keyed)"
            )
        specs: list[tuple[str, int, int, int | None]] = []
        for col, spec in identity.items():
            start = int(spec.get("start", 1))
            step = int(spec.get("step", 1))
            if step == 0:
                raise ValueError(f"identity column {col!r}: step must be nonzero")
            allow = bool(spec.get("allow_explicit_insert", False))
            id_create_md[col] = {
                "delta.identity.start": start,
                "delta.identity.step": step,
                "delta.identity.allowExplicitInsert": allow,
            }
            if col in df.columns:
                if not allow:
                    raise ValueError(
                        f"column {col!r} is GENERATED ALWAYS AS "
                        "IDENTITY — explicit values are not accepted "
                        "(declare allow_explicit_insert for GENERATED "
                        "BY DEFAULT)"
                    )
            else:
                specs.append((col, start, step, None))
        if specs:
            df, id_hw_updates, id_persist = _assign_identity_values(
                df, specs
            )
            for col, hw in id_hw_updates.items():
                id_create_md[col]["delta.identity.highWaterMark"] = hw
    elif existing is not None:
        id_fields = _identity_fields(existing.schema)
        specs = []
        for nm, fmd in id_fields:
            if nm in df.columns:
                if not fmd.get("delta.identity.allowExplicitInsert"):
                    raise ValueError(
                        f"column {nm!r} is GENERATED ALWAYS AS "
                        "IDENTITY — the table's declared contract "
                        "rejects explicit values; drop the column "
                        "from the frame to have values generated"
                    )
                # GENERATED BY DEFAULT with provided values: accepted,
                # watermark untouched (SYNC IDENTITY boundary)
            else:
                specs.append(
                    (
                        nm,
                        int(fmd.get("delta.identity.start", 1)),
                        int(fmd.get("delta.identity.step", 1)),
                        (
                            int(fmd["delta.identity.highWaterMark"])
                            if "delta.identity.highWaterMark" in fmd
                            else None
                        ),
                    )
                )
        if specs:
            df, id_hw_updates, id_persist = _assign_identity_values(
                df, specs
            )

    actions: list[dict[str, Any]] = []
    version = 0 if existing is None else existing.version + 1
    if existing is None:
        if column_mapping == "name":
            # generate stable physical names + field ids; the logical
            # schema (user-facing names) rides schemaString with the
            # mapping in each field's metadata, per the protocol
            mapping = {
                f.name: f"col-{uuid.uuid4().hex[:16]}"
                for f in df.schema.fields
            }
            mapped_fields = [
                StructField(
                    f.name,
                    f.dataType,
                    f.nullable,
                    {
                        "delta.columnMapping.id": i + 1,
                        "delta.columnMapping.physicalName": mapping[f.name],
                    },
                )
                for i, f in enumerate(df.schema.fields)
            ]
            schema_string = StructType(mapped_fields).json()
            config = {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": str(len(mapped_fields)),
            }
            protocol = {
                "minReaderVersion": 2,
                "minWriterVersion": 5,
            }
        else:
            if id_create_md:
                bad = [
                    f.name
                    for f in df.schema.fields
                    if f.name in id_create_md
                    and not isinstance(f.dataType, LongType)
                ]
                if bad:
                    raise ValueError(
                        f"identity columns must be LONG (bigint): {bad}"
                    )
                fields = [
                    StructField(
                        f.name,
                        f.dataType,
                        f.nullable,
                        {**(f.metadata or {}), **id_create_md[f.name]}
                        if f.name in id_create_md
                        else f.metadata,
                    )
                    for f in df.schema.fields
                ]
                schema_string = StructType(fields).json()
                # identityColumns' legacy writer version (PROTOCOL.md
                # "Table Features" appendix — writer 6)
                protocol = {"minReaderVersion": 1, "minWriterVersion": 6}
            else:
                schema_string = df.schema.json()
                protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
            config = {}
        if configuration:
            config = {**config, **configuration}
            if (
                config.get("delta.enableChangeDataFeed") == "true"
                and protocol["minWriterVersion"] < 4
            ):
                # changeDataFeed's legacy writer version (PROTOCOL.md);
                # the column-mapping creation path is already at 5
                protocol["minWriterVersion"] = 4
        actions.append({"protocol": protocol})
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": partition_by,
                    "configuration": config,
                    "createdTime": int(time.time() * 1000),
                }
            }
        )
    else:
        assert existing.schema is not None
        have = {f.name for f in existing.schema.fields}
        new_fields = [f for f in df.schema.fields if f.name not in have]
        if new_fields:
            if not merge_schema:
                raise ValueError(
                    f"incoming columns {[f.name for f in new_fields]} not "
                    "in table schema; pass merge_schema=True to evolve"
                )
            assert existing.metadata_action is not None
            md = dict(existing.metadata_action)
            if mapping is not None:
                # mapped-table evolution (r10 — a refusal through r9):
                # each new field gets a FRESH physical name and the
                # next delta.columnMapping.id; maxColumnId advances in
                # the same metaData action (the real writer's shape)
                cfg = dict(md.get("configuration") or {})
                next_id = max(
                    [int(cfg.get("delta.columnMapping.maxColumnId", 0))]
                    + list(_mapping_field_ids(existing).values())
                )
                mapped_new = []
                for f in new_fields:
                    next_id += 1
                    phys_name = f"col-{uuid.uuid4().hex[:16]}"
                    mapping[f.name] = phys_name
                    mapped_new.append(
                        StructField(
                            f.name,
                            f.dataType,
                            f.nullable,
                            {
                                "delta.columnMapping.id": next_id,
                                "delta.columnMapping.physicalName": phys_name,
                            },
                        )
                    )
                new_fields = mapped_new
                cfg["delta.columnMapping.maxColumnId"] = str(next_id)
                md["configuration"] = cfg
            evolved = StructType(list(existing.schema.fields) + new_fields)
            md["schemaString"] = evolved.json()
            actions.append({"metaData": md})
        # align the frame to the (possibly evolved) table schema so
        # every staged file carries all declared columns it knows about
        if mode == "append":
            table_schema = (
                StructType(list(existing.schema.fields) + new_fields)
                if new_fields
                else existing.schema
            )
            missing = [
                f for f in table_schema.fields if f.name not in df.columns
            ]
            for f in missing:
                gen = (f.metadata or {}).get("delta.generationExpression")
                if gen:
                    # GENERATED column absent from the frame: DERIVE it
                    # (r11, the real writer's behavior) — gated to the
                    # deterministic subset; provided values validate in
                    # _enforce_row_contracts instead
                    _refuse_nondeterministic_generation(
                        df, f.name, gen, "write_delta"
                    )
                    df = df.withColumn(
                        f.name, F.expr(gen).cast(f.dataType)
                    )
                else:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            df = df.select(*[f.name for f in table_schema.fields])
    if id_hw_updates and existing is not None:
        # the generated range binds to this commit: advance the
        # declared highWaterMark in the SAME commit's metaData (merge
        # into an evolution-emitted action if one is present)
        for a in actions:
            if "metaData" in a:
                a["metaData"] = _md_with_identity_watermarks(
                    a["metaData"], id_hw_updates
                )
                break
        else:
            assert existing.metadata_action is not None
            actions.append(
                {
                    "metaData": _md_with_identity_watermarks(
                        existing.metadata_action, id_hw_updates
                    )
                }
            )
    if mode == "overwrite" and existing is not None:
        now = int(time.time() * 1000)
        actions.extend(
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now,
                    "dataChange": True,
                }
            }
            for p in sorted(existing.files)
        )
    if txn is not None:
        actions.append(
            {
                "txn": {
                    "appId": txn[0],
                    "version": int(txn[1]),
                    "lastUpdated": int(time.time() * 1000),
                }
            }
        )
    # CHECK constraints / invariants evaluate on the LOGICAL frame
    # before any physical rename (r10 — previously a blanket refusal)
    if existing is not None:
        _enforce_row_contracts(existing, df, "write_delta")
    elif configuration:
        shim = _Snapshot()
        shim.metadata_action = {"configuration": dict(configuration)}
        shim.schema = df.schema
        _enforce_row_contracts(shim, df, "write_delta")
    stage_partition_by = partition_by
    if mapping is not None:
        # mapped tables: data files (and partition dirs, hence the
        # add's partitionValues keys) store PHYSICAL names, plus
        # parquet FIELD IDS from delta.columnMapping.id (r10) so
        # id-mode readers resolve the staged files too
        if existing is not None:
            fids = _mapping_field_ids(existing)
            # fields added by THIS commit's evolution carry their ids
            # in the evolved metaData, not the pre-commit snapshot
            for f in new_fields:
                fid = (f.metadata or {}).get("delta.columnMapping.id")
                if fid is not None:
                    fids[f.name] = int(fid)
        else:
            fids = {f.name: i + 1 for i, f in enumerate(df.schema.fields)}
        df = df.select(
            *[
                F.col(c).alias(
                    mapping[c], metadata={"parquet.field.id": fids[c]}
                )
                if c in fids
                else F.col(c).alias(mapping[c])
                for c in df.columns
            ]
        )
        stage_partition_by = [mapping[c] for c in partition_by]
    actions.extend(_stage_files(df, path, stage_partition_by))
    if id_persist is not None:
        # staging materialized the assigned frame; release the frozen
        # partitioning deterministically
        id_persist.unpersist()
    rt_assigned = existing is not None and _row_tracking_active(existing)
    if rt_assigned:
        # row tracking (r12): claim fresh id ranges from the
        # high-water mark and advance it in the same commit; the
        # claimed range and defaultRowCommitVersion bind to THIS
        # version, so a lost race aborts instead of retrying below
        actions = _assign_row_tracking(existing, actions, version)
    write_ci = {
        "timestamp": int(time.time() * 1000),
        "operation": "WRITE",
        "operationParameters": {"mode": mode},
        "engineInfo": "sparkstreamingtwitter-presidential-spark native-delta",
    }
    # ICT (r12): the table's (possibly this-commit-updated) config
    # decides stamping; the stamp itself binds to the VERSION, so it
    # is (re)computed inside the retry loop where version can advance
    ict_cfg: dict[str, Any] | None = None
    for a in actions:
        if "metaData" in a:
            ict_cfg = a["metaData"].get("configuration")
    if ict_cfg is None and existing is not None:
        ict_cfg = (existing.metadata_action or {}).get("configuration")
    ict_on = _ict_enabled_cfg(ict_cfg)
    while True:
        if ict_on:
            parent = _parent_commit_ms(path, version)
            write_ci["inCommitTimestamp"] = max(
                write_ci["timestamp"], (parent or 0) + 1
            )
            all_actions = [{"commitInfo": write_ci}] + actions
        else:
            all_actions = actions + [{"commitInfo": write_ci}]
        payload = "\n".join(
            json.dumps(a, separators=(",", ":")) for a in all_actions
        )
        commit_file = os.path.join(log_dir, f"{version:020d}.json")
        if not put_if_absent(commit_file, payload + "\n"):
            # Lost the race. The staged data files are safe (unique
            # names), but any action derived from the pre-race snapshot
            # may no longer be valid — re-replay the log and only retry
            # when the payload still commutes with what landed:
            #   * we were creating the table → a second protocol/metaData
            #     pair with possibly divergent schema must not land;
            #   * overwrite → our removes tombstone a stale file set;
            #   * schema evolution → our metaData was unioned against a
            #     stale base;
            #   * txn marker → another writer sharing the app_id may have
            #     already committed this (or a later) batch version;
            #   * partitioning change → staged directory layout is wrong.
            # Plain appends commute, so those retry at the next version.
            fresh = _replay_log(path, None)
            if existing is None:
                raise DeltaCommitConflict(
                    f"table {path} was created concurrently (now at "
                    f"version {fresh.version}); re-run the write against "
                    "the existing table"
                )
            if rt_assigned:
                raise DeltaCommitConflict(
                    "concurrent commit during a row-tracked append: "
                    "the claimed row-id range and "
                    "defaultRowCommitVersion were derived from a stale "
                    "snapshot; re-run the write"
                )
            if id_hw_updates:
                raise DeltaCommitConflict(
                    "concurrent commit during an identity-generating "
                    "append: the generated values were derived from a "
                    "stale highWaterMark; re-run the write"
                )
            if mode == "overwrite":
                raise DeltaCommitConflict(
                    "concurrent commit during overwrite: the remove set "
                    "was derived from a stale snapshot; re-run the write"
                )
            if new_fields:
                raise DeltaCommitConflict(
                    "concurrent commit during schema evolution: the "
                    "evolved schema was derived from a stale base; "
                    "re-run the write"
                )
            if (
                txn is not None
                and fresh.transactions.get(txn[0], -1) >= int(txn[1])
            ):
                raise DeltaCommitConflict(
                    f"txn ({txn[0]!r}, {txn[1]}) was committed "
                    "concurrently by another writer sharing the app_id; "
                    "this batch is already durable — do not re-append"
                )
            if fresh.partition_columns != partition_by:
                raise DeltaCommitConflict(
                    "table partitioning changed concurrently; staged "
                    "files use a stale directory layout"
                )
            version = fresh.version + 1
            continue
        return version
