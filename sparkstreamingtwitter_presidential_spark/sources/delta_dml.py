"""Copy-on-write DML for the native Delta connector: DELETE, UPDATE,
MERGE (upsert), and OPTIMIZE (small-file compaction).

Reference parity: the reference engine's workflow is append-only
(README.md:88-208 — Hive external tables + streaming appends), so these
operators extend BEYOND it to the mutation surface a curation pipeline
needs (retract bad documents, fix labels, upsert refreshed crawls)
without rewriting the whole table.

Design (the same strategy the real delta-spark writer uses; since r10
every scan is deletion-vector-aware, so the ops below run directly on
MERGE-ON-READ tables too):

1. **Touch only affected files.** A DELETE/UPDATE/MERGE first finds the
   set of live files that contain at least one matching row — a
   metadata-sized driver list obtained from ``_metadata.file_path`` on a
   normal distributed scan (the predicate pushes down; unaffected files
   are never rewritten, and at 100 TB with partition-aligned predicates
   the affected set is the pruned partition, not the table).
2. **Rewrite distributed, commit atomically.** Affected files are
   re-read, transformed with plain Column expressions, and staged as new
   parquet via the connector's scratch-dir + rename path; ONE commit
   then tombstones the old files and adds the new — readers see either
   the old snapshot or the new, never a mix.
3. **Fail on conflict, never blind-retry.** Commits use the protocol's
   put-if-absent primitive; a concurrent commit raises
   DeltaCommitConflict (a remove derived from a stale snapshot is not
   safe to replay — same optimistic-concurrency contract as the real
   client).

The deletion-vector flavours (``*_delta_dv``) share one body per
statement with their copy-on-write twins; the format-independent half
of both (contracts, rewrites, lineage carry, vector union) is
``row_dml.py``, shared with the Iceberg connector.

OPTIMIZE is the same machinery with ``dataChange: false``: it bin-packs
small files per partition toward a target size, so downstream streaming
readers (which key on dataChange) correctly ignore it, and time travel
to pre-OPTIMIZE versions still works.
"""

from __future__ import annotations

import json
import os
import urllib.parse
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from sparkstreamingtwitter_presidential_spark.sources.delta import (
    _DV_PAIRS_DRIVER_MAX,
    _assign_row_tracking,
    _column_mapping,
    _enforce_row_contracts,
    _generated_exprs,
    _identity_fields,
    _recompute_generated,
    _mapping_field_ids,
    _refuse_unenforced_writer_contracts,
    _read_adds,
    _replay_log,
    _row_tracking_active,
    _rt_materialized_names,
    _Snapshot,
    _stage_files,
    commit_actions,
)
from sparkstreamingtwitter_presidential_spark.sources.delta_dv import (
    dv_row_indexes,
    pack_dv_file,
)
from sparkstreamingtwitter_presidential_spark.sources.row_dml import (
    Lineage,
    affected_files,
    carry_id,
    check_merge,
    check_set,
    collect_positions,
    cow_delete,
    cow_merge,
    cow_update,
    holds,
    set_columns,
    union_vectors,
)


def _refuse_identity_update(snap: _Snapshot, ctx: str, assigned) -> None:
    """UPDATE may never target an IDENTITY column — even GENERATED BY
    DEFAULT only allows explicit values on INSERT, matching the real
    writer (PROTOCOL.md §Identity Columns)."""
    hit = set(assigned) & {n for n, _ in _identity_fields(snap.schema)}
    if hit:
        raise ValueError(
            f"{ctx}: cannot UPDATE identity column(s) {sorted(hit)}; "
            "identity values are writer-assigned (explicit values are "
            "an INSERT-only allowance under allowExplicitInsert)"
        )


def _refuse_identity_merge(snap: _Snapshot, ctx: str) -> None:
    """Full-row MERGE takes the SOURCE's values for every column —
    on a table with a GENERATED ALWAYS identity column that is an
    explicit value the contract rejects, so refuse by name. GENERATED
    BY DEFAULT (allowExplicitInsert) accepts the source's values as
    explicit inserts/updates; the watermark stays put (the SYNC
    IDENTITY boundary, same as write_delta's explicit appends)."""
    hit = [
        n
        for n, md in _identity_fields(snap.schema)
        if not md.get("delta.identity.allowExplicitInsert")
    ]
    if hit:
        raise ValueError(
            f"{ctx}: table declares GENERATED ALWAYS identity "
            f"column(s) {sorted(hit)} — a full-row merge would write "
            "explicit values the contract rejects; use DELETE + "
            "write_delta (generation) or declare the column GENERATED "
            "BY DEFAULT"
        )


def _now_ms() -> int:
    import time

    return int(time.time() * 1000)


# the refusal context every copy-on-write rewrite shares
_COW = "copy-on-write DML/OPTIMIZE"
_FILE_COL = "__delta_file"
_POS_COL = "__delta_pos"


def _write_mapping(snap: _Snapshot, ctx: str) -> dict[str, str] | None:
    """Logical→physical name mapping for a DML rewrite, or None when
    the table is unmapped. Mirrors write_delta's contract (r10 — DML
    previously refused mapped tables outright): mapped tables work
    end-to-end — scans resolve physical names, rewrites stage
    physical-named files + partition dirs + parquet FIELD IDS from
    delta.columnMapping.id (so id-mode readers resolve them too). An
    id-mode table WITHOUT ids in its schema metadata refuses: staged
    files would not be resolvable by id-mode readers."""
    mapping = _column_mapping(snap)
    if mapping is not None:
        mode = (
            (snap.metadata_action or {}).get("configuration") or {}
        ).get("delta.columnMapping.mode")
        if mode == "id" and not _mapping_field_ids(snap):
            raise NotImplementedError(
                f"{ctx}: id-mode column-mapped table lacks "
                "delta.columnMapping.id field metadata; staged files "
                "would not be resolvable by id-mode readers"
            )
    return mapping


def _phys_select(df: DataFrame, snap: _Snapshot, mapping: dict[str, str]):
    """Rename a LOGICAL-named frame to physical names, attaching each
    column's parquet field id from delta.columnMapping.id (columns
    outside the mapping — e.g. cdc's _change_type — pass through)."""
    fids = _mapping_field_ids(snap)
    return df.select(
        *[
            (
                F.col(c).alias(
                    mapping[c], metadata={"parquet.field.id": fids[c]}
                )
                if c in mapping and c in fids
                else F.col(c).alias(mapping.get(c, c))
            )
            for c in df.columns
        ]
    )


def _stage_table_files(
    df: DataFrame,
    table_path: str,
    snap: _Snapshot,
    mapping: dict[str, str] | None,
) -> list[dict[str, Any]]:
    """Stage ``df`` (LOGICAL column names) as table data files. On a
    mapped table the files — and the partition dirs, hence the add's
    partitionValues keys — must store PHYSICAL names (the same rename
    write_delta's mapped append performs), so rewritten files keep the
    contract foreign readers resolve by."""
    if mapping is None:
        return _stage_files(df, table_path, snap.partition_columns)
    return _stage_files(
        _phys_select(df, snap, mapping),
        table_path,
        [mapping[c] for c in snap.partition_columns],
    )


def _stage_cdc_mapped(
    change_df: DataFrame,
    table_path: str,
    snap: _Snapshot,
    mapping: dict[str, str] | None,
) -> list[dict[str, Any]]:
    """Stage change-data files with the same physical-name contract as
    data files; ``_change_type`` is the protocol's own column and is
    never mapped."""
    if mapping is None:
        return _stage_cdc_files(change_df, table_path, snap.partition_columns)
    return _stage_cdc_files(
        _phys_select(change_df, snap, mapping),
        table_path,
        [mapping[c] for c in snap.partition_columns],
    )


def _dv_pairs_by_base(
    spark: SparkSession, path: str, snap: _Snapshot, dv_rels: list[str]
) -> DataFrame:
    """(file basename, row position) frame of every deleted row in
    ``dv_rels``'s deletion vectors — the build side for basename-keyed
    anti-joins (_scan_with_file(apply_dvs=True), REORG). Delegates to
    delta.dv_pairs_frame (the shared driver-vs-executor decode split)
    with basenames as the key space."""
    from sparkstreamingtwitter_presidential_spark.sources.delta import (
        dv_pairs_frame,
    )

    return dv_pairs_frame(
        spark,
        path,
        [
            (
                urllib.parse.unquote(p).split("/")[-1],
                snap.files[p]["deletionVector"],
            )
            for p in dv_rels
        ],
        f"{_FILE_COL} string, {_POS_COL} long",
    )


def _scan_with_file(
    spark: SparkSession,
    path: str,
    snap: _Snapshot,
    with_pos: bool = False,
    apply_dvs: bool = False,
    extra_phys_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Distributed scan of the snapshot's live files with one extra
    column: the file's basename (``__delta_file``). Basenames are
    unique across the table (every staged file is uuid-named), so they
    key back to the log's relative paths driver-side. The read is
    read_delta's (``delta._read_adds``: logical names over mapped
    files, partition values injected from the log).

    ``with_pos`` adds ``__delta_pos`` = ``_metadata.row_index`` (the
    file-relative row ordinal deletion vectors are keyed by).

    ``apply_dvs`` (r10): rows a live deletion vector marks deleted are
    REMOVED from the scan (basename-keyed anti-join) — what lets CoW
    DML run directly on MOR tables without resurrecting deleted rows.
    The DV writers keep raw scans (their fresh-vs-old logic owns the
    vectors).

    ``extra_phys_cols`` (r12): additional PHYSICAL long columns read
    from the data files verbatim (parquet fills null where absent) —
    what the row-tracking reader uses to surface materialized
    row-id/commit-version columns that live outside the table schema."""
    dv_rels = (
        sorted(p for p, a in snap.files.items() if a.get("deletionVector"))
        if apply_dvs
        else []
    )
    if dv_rels:
        raw = _scan_with_file(
            spark, path, snap, with_pos=True,
            extra_phys_cols=extra_phys_cols,
        )
        out = raw.join(
            _dv_pairs_by_base(spark, path, snap, dv_rels),
            on=[_FILE_COL, _POS_COL],
            how="left_anti",
        )
        return out if with_pos else out.drop(_POS_COL)
    extra = [StructField(c, LongType(), True) for c in extra_phys_cols]
    if not snap.files:
        out = _read_adds(spark, path, snap, {}, extra_phys=extra)
        out = out.withColumn(_FILE_COL, F.lit(None).cast("string"))
        if with_pos:
            out = out.withColumn(_POS_COL, F.lit(None).cast("long"))
        return out

    def _tag(raw: DataFrame) -> DataFrame:
        tags = [
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias(_FILE_COL)
        ]
        if with_pos:
            tags.append(F.col("_metadata.row_index").alias(_POS_COL))
        return raw.select("*", *tags)

    return _read_adds(spark, path, snap, snap.files, hook=_tag, extra_phys=extra)


def _rel_by_base(snap: _Snapshot) -> dict[str, str]:
    out = {}
    for rel in snap.files:
        base = urllib.parse.unquote(rel).split("/")[-1]
        if base in out:  # uuid names make this unreachable; stay honest
            raise ValueError(f"duplicate data-file basename {base!r}")
        out[base] = rel
    return out


def _rels(snap: _Snapshot, bases: list[str]) -> list[str]:
    rels = _rel_by_base(snap)
    return [rels[b] for b in bases]


def _removes(snap: _Snapshot, rels: list[str], data_change: bool) -> list[dict]:
    now = _now_ms()
    return [
        {
            "remove": {
                "path": rel,
                "deletionTimestamp": now,
                "dataChange": data_change,
                "partitionValues": snap.files[rel].get("partitionValues", {}),
            }
        }
        for rel in sorted(rels)
    ]


def _cdf_enabled(snap: _Snapshot) -> bool:
    cfg = (snap.metadata_action or {}).get("configuration") or {}
    return cfg.get("delta.enableChangeDataFeed") == "true"


def _stage_cdc_files(
    change_df: DataFrame, table_path: str, partition_by: list[str]
) -> list[dict]:
    """Stage CHANGE DATA files (PROTOCOL.md §Change Data Files) under
    ``_change_data/`` and return the commit's ``cdc`` actions.
    ``change_df`` carries the table columns plus ``_change_type``;
    files partition like data files (values in the action, not the
    file). ``dataChange: false`` per spec — cdc rows are descriptive,
    a snapshot reader never scans them. Cost ∝ changed rows (the
    frames the DML paths already computed), one extra write job per
    CDF-enabled DML commit."""
    import shutil
    import time as _time  # noqa: F401  (parity with _stage_files)
    import uuid as _uuid

    import pyarrow.parquet as _pq

    scratch = os.path.join(table_path, f".tmp-{_uuid.uuid4().hex}")
    w = change_df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(scratch)
    out: list[dict] = []
    for root, _dirs, files in os.walk(scratch):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            src = os.path.join(root, fn)
            if _pq.ParquetFile(src).metadata.num_rows == 0:
                continue
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
            new_name = f"cdc-{_uuid.uuid4().hex}.parquet"
            rel_path = (
                os.path.join("_change_data", rel_dir, new_name)
                if rel_dir != "."
                else os.path.join("_change_data", new_name)
            )
            dst = os.path.join(table_path, rel_path)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
            out.append(
                {
                    "cdc": {
                        "path": rel_path.replace(os.sep, "/"),
                        "partitionValues": pv,
                        "size": os.path.getsize(dst),
                        "dataChange": False,
                    }
                }
            )
    shutil.rmtree(scratch, ignore_errors=True)
    return out


def _rt_resolve(
    spark: SparkSession,
    path: str,
    snap: _Snapshot,
    mat_id: str | None,
    mat_ver: str | None,
    apply_dvs: bool = True,
    keep_pos: bool = False,
) -> tuple[DataFrame, tuple[str, str]]:
    """Row-tracking resolution core (r12, PROTOCOL.md §Row Tracking):
    a file scan with row id / commit version resolved per row — a
    MATERIALIZED file-stored value wins (when the table configures the
    physical column name), else the add's baseRowId + row position /
    defaultRowCommitVersion (a tiny broadcast map, one row per live
    file; files missing baseRowId resolve NULL). Returns
    (scan, (id_col, ver_col)) — the resolved columns' names (the
    materialized names when configured, internal placeholders
    otherwise). Shared by the rewrite carry (_rt_resolved_scan) and
    the reader (read_delta_rows) so the two sides can never diverge."""
    id_col = mat_id or "__rt_id"
    ver_col = mat_ver or "__rt_ver"
    scan = _scan_with_file(
        spark, path, snap, with_pos=True, apply_dvs=apply_dvs,
        extra_phys_cols=tuple(c for c in (mat_id, mat_ver) if c),
    )
    base_rows = [
        (
            urllib.parse.unquote(p).split("/")[-1],
            a.get("baseRowId"),
            a.get("defaultRowCommitVersion"),
        )
        for p, a in sorted(snap.files.items())
    ]
    id_map = F.broadcast(
        spark.createDataFrame(
            base_rows, f"{_FILE_COL} string, __rtbase long, __rtver long"
        )
    )
    rid = F.col("__rtbase") + F.col(_POS_COL)
    rver = F.col("__rtver")
    if mat_id:
        rid = F.coalesce(F.col(mat_id), rid)
    if mat_ver:
        rver = F.coalesce(F.col(mat_ver), rver)
    scan = (
        scan.join(id_map, on=_FILE_COL, how="left")
        .withColumn(id_col, rid)
        .withColumn(ver_col, rver)
        .drop("__rtbase", "__rtver", *([] if keep_pos else [_POS_COL]))
    )
    return scan, (id_col, ver_col)


def _rt_resolved_scan(
    spark: SparkSession,
    path: str,
    snap: _Snapshot,
    ctx: str,
    apply_dvs: bool = True,
    keep_pos: bool = False,
) -> tuple[DataFrame, tuple[str, str]]:
    """Row-tracked REWRITE scan: _rt_resolve under the table's
    configured materialized column names (required — a rewrite that
    cannot stamp carried ids refuses by name in _rt_materialized_names)
    so rewrites carry the resolved columns verbatim into staged files,
    keeping every surviving row's id stable across CoW/DV DML,
    OPTIMIZE, and REORG. ``apply_dvs=False`` + ``keep_pos=True`` is
    the DV-writer shape: the raw positional scan their marking
    machinery needs, ids resolved the same way."""
    mat_id, mat_ver = _rt_materialized_names(snap, ctx)
    return _rt_resolve(
        spark, path, snap, mat_id, mat_ver,
        apply_dvs=apply_dvs, keep_pos=keep_pos,
    )


def _dml_scan(
    spark: SparkSession, path: str, snap: _Snapshot, ctx: str, dv: bool
) -> tuple[DataFrame, Lineage]:
    """The tagged scan a DML statement plans over, with the row-tracking
    lineage pair its rewrites carry (None on an untracked table).
    Copy-on-write scans hide rows a live deletion vector removed, so a
    rewrite never resurrects them; deletion-vector scans keep those rows
    and their positions, because the union rule owns the old vectors."""
    if _row_tracking_active(snap):
        return _rt_resolved_scan(
            spark, path, snap, ctx, apply_dvs=not dv, keep_pos=dv
        )
    scan = _scan_with_file(spark, path, snap, with_pos=dv, apply_dvs=not dv)
    return scan, None


def _changes(df: DataFrame, kind: str) -> DataFrame:
    return df.withColumn("_change_type", F.lit(kind))


def _commit_dml(
    path: str,
    snap: _Snapshot,
    actions: list[dict],
    op: str,
    params: dict,
    dv: bool,
    assign_ids: bool,
) -> int:
    """Commit a DML statement: deletion-vector commits record their
    mode, and row-tracked ones claim fresh id ranges for staged adds
    (rewrites' carried ids ride inside the files)."""
    if dv:
        params = {**params, "mode": "deletion-vectors"}
    if assign_ids:
        actions = _assign_row_tracking(snap, actions, snap.version + 1)
    return commit_actions(
        path, snap.version, actions, op, params, snapshot=snap
    )


def _delete(
    spark: SparkSession, path: str, predicate: str, budget: int | None
) -> int:
    """DELETE, copy-on-write (``budget`` None) or into deletion vectors
    of at most ``budget`` newly deleted rows."""
    dv = budget is not None
    snap = _replay_log(path, None)
    name = "delete_delta_dv" if dv else "DELETE"
    mapping = _write_mapping(snap, name)
    _refuse_unenforced_writer_contracts(
        snap, name if dv else _COW, emits_removes=True
    )
    cond = F.expr(predicate)
    tcols = [f.name for f in snap.schema.fields]
    emit_cdf = _cdf_enabled(snap)
    if dv:
        # a DV delete never moves a row: re-added actions carry
        # baseRowId/defaultRowCommitVersion verbatim, so surviving ids
        # are stable without a lineage-resolving scan
        scan = _scan_with_file(spark, path, snap, with_pos=True)
        mark = _dv_mark_matched(
            path, snap, scan.filter(cond), budget, "delete_delta"
        )
        if mark is None:
            return snap.version
        actions, fresh = mark
        lineage = None
        deleted = _rows_at(spark, scan, fresh) if emit_cdf else None
    else:
        scan, lineage = _dml_scan(spark, path, snap, "DELETE", dv)
        affected = affected_files(scan.filter(cond), _FILE_COL)
        if not affected:
            return snap.version
        rows = scan.filter(F.col(_FILE_COL).isin(affected))
        kept = cow_delete(rows, tcols, cond, lineage)
        _enforce_row_contracts(snap, kept, "DELETE rewrite")
        actions = _removes(snap, _rels(snap, affected), True)
        actions += _stage_table_files(kept, path, snap, mapping)
        deleted = rows.filter(holds(cond))
    if emit_cdf:
        actions += _stage_cdc_mapped(
            _changes(deleted.select(*tcols), "delete"), path, snap, mapping
        )
    return _commit_dml(
        path, snap, actions, "DELETE", {"predicate": predicate}, dv,
        lineage is not None,
    )


def delete_delta(spark: SparkSession, path: str, predicate: str) -> int:
    """DELETE FROM table WHERE predicate (SQL-null semantics: only rows
    where the predicate is TRUE are deleted). Returns the new version
    (unchanged if nothing matched — no empty commit). Only files holding
    a match rewrite; on a row-tracked table the survivors carry their
    resolved row id and commit version as materialized columns."""
    return _delete(spark, path, predicate, None)


# Legacy protocol version -> implied feature sets: shared constants in
# delta.py (an upgrade to the table-features protocol must carry them
# forward explicitly — the spec's rule).
from sparkstreamingtwitter_presidential_spark.sources.delta import (  # noqa: E402
    _LEGACY_READER_FEATURES,
    _LEGACY_WRITER_FEATURES,
)


def _dv_protocol_upgrade(snap: _Snapshot) -> dict[str, Any] | None:
    """The protocol action (or None if already in force) adding the
    deletionVectors table feature: reader 3 / writer 7 with every
    feature the PREVIOUS protocol implied carried forward explicitly
    (the spec's upgrade rule — dropping an implied feature on upgrade
    would silently lift a contract other clients rely on)."""
    pr = snap.protocol_action or {"minReaderVersion": 1, "minWriterVersion": 2}
    rv, wv = pr.get("minReaderVersion", 1), pr.get("minWriterVersion", 2)
    rfeats = set(pr.get("readerFeatures") or _LEGACY_READER_FEATURES.get(rv, []))
    wfeats = set(pr.get("writerFeatures") or _LEGACY_WRITER_FEATURES.get(wv, []))
    if rv == 3 and wv == 7 and "deletionVectors" in rfeats & wfeats:
        return None
    rfeats.add("deletionVectors")
    wfeats.add("deletionVectors")
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(rfeats),
        "writerFeatures": sorted(wfeats),
    }


def delete_delta_dv(
    spark: SparkSession,
    path: str,
    predicate: str,
    max_deleted_rows: int = _DV_PAIRS_DRIVER_MAX,
) -> int:
    """DELETE FROM table WHERE predicate — MERGE-ON-READ flavor: marks
    matched rows in per-file DELETION VECTORS instead of rewriting the
    data files (Delta PROTOCOL.md §Deletion Vectors). Returns the new
    version (unchanged if nothing matched).

    Mechanics: one distributed scan finds matched (file, row_index)
    pairs; they collect driver-side (bounded by ``max_deleted_rows``,
    by default read_delta's driver pair budget, so a table this writer
    produces always reads back under it — refuse above, pointing at
    copy-on-write :func:`delete_delta`), are unioned with each file's
    EXISTING vector (row_dml.union_vectors), and serialize into ONE
    roaring-bitmap sidecar per commit (delta_dv.pack_dv_file). A file
    whose union covers every physical row emits a plain remove instead
    of a 100%-deleted DV, matching the real writer. The commit
    re-adds each surviving file unchanged except for the descriptor
    and ``stats.tightBounds: false`` (min/max stay valid SUPERSETS for
    file skipping — they may overcount deleted rows, never miss live
    ones). First DV on a table upgrades the protocol to reader 3 /
    writer 7 in the same commit, carrying implied legacy features
    forward (_dv_protocol_upgrade).

    Scale: the scan is predicate-filtered and projects only metadata
    columns; write cost is ∝ matched rows (bitmap bytes), NOT affected
    -file bytes — the point of DVs. Read-back applies the vectors via
    read_delta's broadcast anti-join. Name-mode column-mapped tables
    work (DVs key on positions, untouched files keep their physical
    names; only the cdc staging renames); id-mode refuses
    (_write_mapping); appendOnly tables refuse (a DV is a delete)."""
    return _delete(spark, path, predicate, max_deleted_rows)


def _dv_positions(path: str, add: dict) -> list[int]:
    dv = add.get("deletionVector")
    return dv_row_indexes(path, dv) if dv else []


def _num_records(add: dict) -> int | None:
    stats = add.get("stats")
    return json.loads(stats).get("numRecords") if stats else None


def _dv_mark_matched(
    path: str,
    snap: _Snapshot,
    matches: DataFrame,
    budget: int,
    cow_twin: str,
) -> tuple[list[dict], dict[str, list[int]]] | None:
    """The Delta side of a deletion-vector write: collect ``matches``'
    positions (row_dml.collect_positions), union them with each file's
    existing vector (row_dml.union_vectors), and build the actions —
    protocol upgrade if needed, plain removes for retired files,
    remove + re-add with the packed descriptor otherwise. Returns
    (actions, newly deleted positions per file basename), or None when
    nothing new matched."""
    new = collect_positions(matches, _FILE_COL, _POS_COL, budget, cow_twin)
    rels = _rel_by_base(snap)
    vu = union_vectors(
        new,
        lambda b: _dv_positions(path, snap.files[rels[b]]),
        lambda b: _num_records(snap.files[rels[b]]),
    )
    if not vu.fresh:
        return None
    unions = {rels[b]: poss for b, poss in vu.unions.items()}
    actions: list[dict[str, Any]] = []
    upgrade = _dv_protocol_upgrade(snap)
    if upgrade is not None and unions:
        actions.append({"protocol": upgrade})
    actions += _removes(snap, [rels[b] for b in vu.retired] + list(unions), True)
    descs = pack_dv_file(path, unions) if unions else {}
    for rel in sorted(unions):
        a = dict(snap.files[rel])
        a["deletionVector"] = descs[rel]
        a["dataChange"] = True
        a["modificationTime"] = _now_ms()
        if a.get("stats"):
            st = json.loads(a["stats"])
            st["tightBounds"] = False
            a["stats"] = json.dumps(st)
        actions.append({"add": a})
    return actions, vu.fresh


def _rows_at(
    spark: SparkSession, scan: DataFrame, positions: dict[str, list[int]]
) -> DataFrame:
    """The rows of a positional ``scan`` at ``positions`` (a bounded,
    driver-built set, so the build side broadcasts)."""
    pairs = spark.createDataFrame(
        [(b, p) for b, poss in positions.items() for p in poss],
        f"{_FILE_COL} string, {_POS_COL} long",
    )
    return scan.join(
        F.broadcast(pairs), on=[_FILE_COL, _POS_COL], how="leftsemi"
    ).drop(_FILE_COL, _POS_COL)


def _update(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    predicate: str | None,
    dv: bool,
) -> int:
    """UPDATE, copy-on-write or deletion-vector (see the two entry
    points): the flavours share the SET contract, the generated-column
    recompute, the contract probe and the pre/post-image change rows."""
    snap = _replay_log(path, None)
    name = "update_delta_dv" if dv else "UPDATE"
    ctx = "UPDATE (deletion-vectors)" if dv else "UPDATE"
    mapping = _write_mapping(snap, name)
    _refuse_unenforced_writer_contracts(
        snap, name if dv else _COW, emits_removes=True
    )
    _refuse_identity_update(snap, name, set_exprs)
    fields = snap.schema.fields
    tcols = [f.name for f in fields]
    check_set(set_exprs, tcols, snap.partition_columns)
    gen_targets = set(set_exprs) & {c for c, _ in _generated_exprs(snap.schema)}
    if gen_targets:
        raise ValueError(
            f"cannot UPDATE generated column(s) {sorted(gen_targets)}; "
            "they recompute from their generation expressions when "
            "their source columns change"
        )
    cond = F.expr(predicate) if predicate is not None else F.lit(True)
    scan, lineage = _dml_scan(spark, path, snap, ctx, dv)
    if dv:
        # rows a previous vector deleted are invisible and never update:
        # the re-staged set is exactly the newly marked rows, carrying
        # their row ids
        mark = _dv_mark_matched(
            path, snap, scan.filter(cond), _DV_PAIRS_DRIVER_MAX, "update_delta"
        )
        if mark is None:
            return snap.version
        actions, fresh = mark
        before = _rows_at(spark, scan, fresh)
        staged = before.select(
            *set_columns(fields, set_exprs), *carry_id(lineage)
        )
    else:
        affected = affected_files(scan.filter(cond), _FILE_COL)
        if not affected:
            return snap.version
        rows = scan.filter(F.col(_FILE_COL).isin(affected))
        actions = _removes(snap, _rels(snap, affected), True)
        staged = cow_update(rows, fields, set_exprs, cond, lineage)
        before = rows.filter(holds(cond))
    staged = _recompute_generated(snap, staged, f"{ctx} rewrite")
    _enforce_row_contracts(snap, staged, f"{ctx} rewrite")
    actions += _stage_table_files(staged, path, snap, mapping)
    if _cdf_enabled(snap):
        before = before.select(*tcols)
        after = _recompute_generated(
            snap, before.select(*set_columns(fields, set_exprs)), f"{ctx} cdc"
        )
        actions += _stage_cdc_mapped(
            _changes(before, "update_preimage").unionByName(
                _changes(after, "update_postimage")
            ),
            path, snap, mapping,
        )
    return _commit_dml(
        path, snap, actions, "UPDATE", {"predicate": predicate or "true"},
        dv, lineage is not None,
    )


def update_delta_dv(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    predicate: str | None = None,
) -> int:
    """UPDATE ... SET — MERGE-ON-READ flavor (how the real writer runs
    UPDATE on DV-enabled tables): ONE commit marks the matched rows
    deleted in per-file deletion vectors AND stages their updated
    versions as new data files. Write cost ∝ matched rows; contract,
    budget and refusals as :func:`update_delta` and
    :func:`delete_delta_dv`."""
    return _update(spark, path, set_exprs, predicate, dv=True)


def update_delta(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    predicate: str | None = None,
) -> int:
    """UPDATE table SET col = expr, ... [WHERE predicate]. Expressions
    are SQL over the row's own columns (evaluated against the PRE-update
    row, like SQL UPDATE). Partition, generated and identity columns
    cannot be updated (a real row-move rewrite is MERGE's job). With
    CDF enabled the commit stages update pre/post images. Returns the
    new version."""
    return _update(spark, path, set_exprs, predicate, dv=False)


def _merge(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    when_matched: str,
    insert_not_matched: bool,
    txn: tuple[str, int] | None,
    dv: bool,
) -> int:
    """MERGE, copy-on-write or deletion-vector (see the two entry
    points): one contract (row_dml.check_merge), one insert branch, one
    change-row and txn tail; only the WHEN MATCHED step differs."""
    snap = _replay_log(path, None)
    name = "merge_delta_dv" if dv else "MERGE"
    ctx = "MERGE (deletion-vectors)" if dv else "MERGE"
    mapping = _write_mapping(snap, name)
    _refuse_unenforced_writer_contracts(
        snap, name if dv else _COW, emits_removes=True
    )
    _refuse_identity_merge(snap, name)
    tcols = [f.name for f in snap.schema.fields]
    source = check_merge(source, tcols, keys, when_matched)
    scan, lineage = _dml_scan(spark, path, snap, ctx, dv)
    actions: list[dict[str, Any]] = []
    before = after = None
    if not dv:
        cm = cow_merge(scan, _FILE_COL, source, keys, when_matched, lineage)
        inserts = cm.inserts
        if cm.affected:
            before = cm.before
            after = _recompute_generated(snap, cm.after, f"{ctx} cdc")
            staged = _recompute_generated(snap, cm.rewritten, f"{ctx} rewrite")
            _enforce_row_contracts(snap, staged, f"{ctx} rewrite")
            actions += _removes(snap, _rels(snap, cm.affected), True)
            actions += _stage_table_files(staged, path, snap, mapping)
    else:
        key_df = source.select(*keys).distinct()
        inserts = source
        if when_matched == "none":
            live = _scan_with_file(spark, path, snap, apply_dvs=True)
            inserts = source.join(
                live.join(key_df, on=keys, how="leftsemi")
                .select(*keys)
                .distinct(),
                on=keys,
                how="leftanti",
            )
        else:
            mark = _dv_mark_matched(
                path, snap, scan.join(key_df, on=keys, how="leftsemi"),
                _DV_PAIRS_DRIVER_MAX, "merge_delta",
            )
            if mark is not None:
                actions, fresh = mark
                before = _rows_at(spark, scan, fresh)
                inserts = source.join(
                    before.select(*keys).distinct(), on=keys, how="leftanti"
                )
        if before is not None and when_matched == "update":
            # one replacement PER MATCHED TARGET ROW (duplicate target
            # keys each update, as in the copy-on-write merge), carrying
            # the target row's id
            ids = carry_id(lineage)
            staged = (
                before.select(*keys, *ids)
                .join(source, on=keys, how="inner")
                .select(*tcols, *ids)
            )
            staged = _recompute_generated(snap, staged, f"{ctx} rewrite")
            _enforce_row_contracts(snap, staged, f"{ctx} rewrite")
            actions += _stage_table_files(staged, path, snap, mapping)
            after = staged
    if insert_not_matched:
        # the insert branch VALIDATES provided generated-column values
        # (the `col <=> (expr)` probe inside _enforce_row_contracts)
        # rather than recomputing them: the real writer rejects a wrong
        # provided value on insert — recompute is reserved for rewrite
        # branches where source columns changed under the row
        _enforce_row_contracts(snap, inserts, f"{ctx} insert")
        actions += _stage_table_files(inserts, path, snap, mapping)
    if _cdf_enabled(snap):
        frames = []
        if before is not None and when_matched == "update":
            frames += [
                _changes(before.select(*tcols), "update_preimage"),
                _changes(after.select(*tcols), "update_postimage"),
            ]
        elif before is not None and when_matched == "delete":
            frames.append(_changes(before.select(*tcols), "delete"))
        if insert_not_matched:
            frames.append(_changes(inserts, "insert"))
        if frames:
            actions += _stage_cdc_mapped(
                reduce(DataFrame.unionByName, frames), path, snap, mapping
            )
    if txn is not None:
        actions.append(
            {
                "txn": {
                    "appId": txn[0],
                    "version": int(txn[1]),
                    "lastUpdated": _now_ms(),
                }
            }
        )
    if not actions:
        return snap.version
    return _commit_dml(
        path, snap, actions, "MERGE",
        {"keys": keys, "whenMatched": when_matched,
         "insertNotMatched": insert_not_matched},
        dv, lineage is not None and any("add" in a for a in actions),
    )


def merge_delta_dv(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    when_matched: str = "update",
    insert_not_matched: bool = True,
    txn: tuple[str, int] | None = None,
) -> int:
    """MERGE INTO — MERGE-ON-READ flavor (the real writer's MERGE on
    DV-enabled tables, and the common CDC-upsert shape): ONE commit
    marks the matched target rows deleted in per-file deletion
    vectors, stages the source's versions of those keys
    (``when_matched='update'``; ``'delete'`` stages nothing; ``'none'``
    leaves them and writes no vector), and appends the unmatched source
    rows (``insert_not_matched``). No matched file rewrites — write
    cost ∝ matched rows + source bytes, not affected-file bytes, which
    is what makes a small CDC batch against a huge table cheap.

    Contract matches :func:`merge_delta` (row_dml.check_merge); ``txn``
    records the idempotence marker in the same commit. Matched-row
    positions collect driver-side under read_delta's pair budget
    (refuse → CoW merge_delta). Rows a previous vector already deleted
    are invisible — a source row matching only dead rows inserts (if
    enabled) rather than updating them. With CDF enabled the commit
    stages pre/post/insert (or delete) change rows."""
    return _merge(
        spark, path, source, keys, when_matched, insert_not_matched, txn,
        dv=True,
    )


def merge_delta(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    when_matched: str = "update",
    insert_not_matched: bool = True,
    txn: tuple[str, int] | None = None,
) -> int:
    """MERGE INTO table USING source ON equality of ``keys``.

    ``when_matched``: 'update' (matched target rows take the source
    row's values — full-row upsert), 'delete' (matched rows removed), or
    'none'. ``insert_not_matched``: source rows matching no target row
    are appended. Source must be duplicate-free on the keys (a target
    row matching two source rows is ambiguous — raises, same as the
    real MERGE). Returns the new version.

    ``txn``: optional ``(app_id, version)`` recorded as a protocol
    `txn` action IN THE SAME COMMIT as the merge — the idempotence
    marker a streaming upsert sink pairs with ``last_txn_version`` so
    a redelivered micro-batch is skipped instead of re-merged
    (streaming/delta_upsert.py). A no-op merge with ``txn`` set still
    commits (marker-only), so redelivery detection stays monotone.

    Scale shape: the match probe is one distributed join of the target
    scan against the (usually far smaller, auto-broadcast) source keys;
    only files containing matches rewrite; inserts append. A
    partition-aligned key makes the probe partition-pruned."""
    return _merge(
        spark, path, source, keys, when_matched, insert_not_matched, txn,
        dv=False,
    )


def vacuum_delta(
    path: str,
    retention_hours: float = 168.0,
    now_ms: int | None = None,
) -> list[str]:
    """Physically delete data files tombstoned longer ago than the
    retention window, plus UNTRACKED parquet (never referenced by any
    log action — conflict losers, crashed writers) older than the same
    window, matching the real VACUUM's "not referenced by the table"
    rule. Returns the relative paths deleted.

    Scans the log's JSON commits for ``remove`` actions, drops any path
    that is live in the CURRENT snapshot (a path can be re-added), and
    unlinks files whose ``deletionTimestamp`` is older than
    ``now - retention``. Consequences match the real VACUUM: time travel
    to versions that referenced the deleted files stops working (the
    log still replays — the scan fails), and the default 7-day window
    exists so concurrent readers of recent snapshots don't lose files
    under them. Metadata-only: no Spark job, O(#commits) driver work.
    ``now_ms`` is injectable for deterministic tests."""
    now = _now_ms() if now_ms is None else now_ms
    cutoff = now - int(retention_hours * 3600 * 1000)
    # vacuum deals purely in PATHS — safe on column-mapped tables AND
    # (r9 late) on DV tables: the untracked sweep below only targets
    # *.parquet, so deletion_vector_*.bin sidecars are never
    # reclaimed (live ones keep serving; ones orphaned by replaced
    # vectors persist — a documented conservative boundary, since an
    # old sidecar may still serve TIME TRAVEL within retention and
    # nothing tracks its replacement instant), and a DV rewrite's
    # remove+re-add of the SAME path is protected by the
    # `rel in snap.files` guard on the tombstone pass.
    snap = _replay_log(path, None)
    log_dir = os.path.join(path, "_delta_log")
    tombstones: dict[str, int] = {}
    for n in sorted(os.listdir(log_dir)):
        if not (n.endswith(".json") and n[:-5].isdigit()):
            continue
        with open(os.path.join(log_dir, n)) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "remove" in action:
                    r = action["remove"]
                    tombstones[r["path"]] = max(
                        tombstones.get(r["path"], 0),
                        int(r.get("deletionTimestamp", 0)),
                    )
    # fold in tombstones the snapshot replay carried from CHECKPOINTS
    # (write_checkpoint persists unexpired removes, as the real
    # protocol does): after write_checkpoint + expire_log the JSON
    # commits holding a recent remove are gone, and without these the
    # file would be misclassified as untracked below — losing the
    # retention guard that protects concurrent readers. Boundary:
    # checkpoints written by this engine since round 8 and by the real
    # client both carry tombstones; a pre-round-8 checkpoint that
    # dropped them should be rewritten (write_checkpoint) before
    # expiring the log.
    for rel, r in snap.tombstones.items():
        tombstones[rel] = max(
            tombstones.get(rel, 0), int(r.get("deletionTimestamp", 0))
        )

    deleted = []
    table_root = os.path.abspath(path) + os.sep
    for rel, ts in sorted(tombstones.items()):
        if rel in snap.files or ts > cutoff:
            continue
        abs_path = os.path.join(path, urllib.parse.unquote(rel))
        if not os.path.abspath(abs_path).startswith(table_root):
            # an absolute path OUTSIDE the table root is a shallow
            # clone's pointer into its SOURCE table (clone_delta) —
            # never this table's storage to reclaim. Matches the real
            # VACUUM's scope: only files under the table directory.
            continue
        try:
            os.remove(abs_path)
            deleted.append(rel)
        except FileNotFoundError:
            deleted.append(rel)  # already gone: idempotent

    # UNTRACKED files: parquet under the table dir that no log action
    # ever referenced — a commit-conflict loser's staged files, or a
    # crashed writer's leftovers (the real VACUUM deletes these too:
    # "not referenced by the table"). Age-guarded by mtime with the
    # same cutoff: a freshly staged file of an IN-FLIGHT commit is
    # indistinguishable from an orphan, so retention is the safety —
    # the same rule as iceberg.remove_orphan_files. Deleting them
    # breaks nothing: a file absent from every commit is unreachable
    # from every version, including via time travel.
    referenced = {
        os.path.normpath(os.path.join(path, urllib.parse.unquote(r)))
        for r in set(snap.files) | set(tombstones)
    }
    for root, _dirs, names in os.walk(path):
        if "_delta_log" in root.split(os.sep):
            continue
        for n in names:
            if not n.endswith(".parquet"):
                continue
            full = os.path.normpath(os.path.join(root, n))
            if full in referenced:
                continue
            try:
                if os.path.getmtime(full) * 1000 > cutoff:
                    continue
                os.remove(full)
                deleted.append(os.path.relpath(full, path))
            except OSError:
                continue
    return deleted


def zorder_key(
    cols: list[Column],
    mins: list[int],
    maxs: list[int],
    bits: int = 16,
) -> Column:
    """Bit-interleaved Z-order key over integer columns, each first
    min-max normalized into the same ``bits``-wide rank space — without
    normalization a wide column's high bits dominate the interleave and
    the key degenerates to column-major order (the fixture's event_id
    spans 17 bits vs user_id's 11). Pure builtin shift/mask arithmetic;
    the key orders LAYOUT only, so normalization coarseness affects
    clustering quality, never correctness."""
    n = len(cols)
    space = 1 << bits
    scaled = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = max(int(hi) - int(lo) + 1, 1)
        scaled.append(
            (c.cast("long") - F.lit(int(lo))) * F.lit(space) / F.lit(span)
        )
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s.cast("long"), i).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, i * n + j)
    return key


def optimize_delta(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """Compact small files: within each partition, files below the
    target size are read back and rewritten as ~target-sized files
    (``ceil(total/target)`` output files via repartition). Adds and
    removes carry ``dataChange: false`` — the snapshot's ROWS are
    unchanged, only their file layout — so incremental/streaming
    consumers skip the commit and time travel to pre-OPTIMIZE versions
    still resolves. Partitions with fewer than two small files are left
    alone. Returns the new version (unchanged if nothing to compact).

    ``cluster_by``: range-cluster the rewrite on the given columns
    (repartitionByRange + sortWithinPartitions) so each output file
    covers a narrow, near-disjoint value range — that is what makes the
    per-file min/max `stats` selective, turning `read_delta`'s
    skip_ranges into real file pruning (the OPTIMIZE-then-cluster
    workflow of the real client). Linear ordering: the FIRST column
    prunes sharply; later columns barely at all.

    ``zorder_by`` (mutually exclusive): cluster on the bit-interleaved
    Z-order key of the given integer columns instead — every listed
    column's min/max stats stay selective, so ``skip_ranges`` on ANY of
    them prunes (the real client's multi-column story). Costs one extra
    min/max aggregate over the compacted files to normalize the
    interleave; per-column pruning is coarser than a dedicated linear
    cluster on that column — the classic Z-order trade."""
    import math

    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    snap = _replay_log(path, None)
    mapping = _write_mapping(snap, "OPTIMIZE")
    _refuse_unenforced_writer_contracts(
        snap, _COW, emits_removes=True
    )
    for arg_name, arg in (("cluster_by", cluster_by), ("zorder_by", zorder_by)):
        if not arg:
            continue
        assert snap.schema is not None
        known = {f.name for f in snap.schema.fields}
        unknown = set(arg) - known
        if unknown:
            raise ValueError(f"{arg_name} columns not in schema: {sorted(unknown)}")
        parts_cols = set(arg) & set(snap.partition_columns)
        if parts_cols:
            raise ValueError(
                f"{arg_name} {sorted(parts_cols)} are partition columns — "
                "constant within each compaction group, nothing to cluster"
            )
    groups: dict[tuple, list[str]] = {}
    for rel, a in snap.files.items():
        if int(a.get("size", 0)) >= target_file_bytes:
            continue
        pv = a.get("partitionValues", {})
        key = tuple(sorted(pv.items()))
        groups.setdefault(key, []).append(rel)

    actions: list[dict[str, Any]] = []
    for _key, rels_small in sorted(groups.items()):
        if len(rels_small) < 2:
            continue
        total = sum(int(snap.files[r].get("size", 0)) for r in rels_small)
        n_out = max(1, math.ceil(total / target_file_bytes))
        schema = snap.schema
        assert schema is not None
        phys = (lambda c: mapping[c]) if mapping else (lambda c: c)
        data_fields = [
            f for f in schema.fields if f.name not in snap.partition_columns
        ]
        data_schema = StructType(
            [
                StructField(phys(f.name), f.dataType, f.nullable)
                for f in data_fields
            ]
        )
        part_types = {
            f.name: f.dataType
            for f in schema.fields
            if f.name in snap.partition_columns
        }
        rt = _row_tracking_active(snap)
        if rt:
            # r12 row tracking: a layout-only rewrite must keep BOTH
            # row id and commit version for every copied row — read
            # through the resolving scan and carry the materialized
            # columns into the compacted files
            import copy as _copy

            sub = _copy.copy(snap)
            sub.files = {r: snap.files[r] for r in rels_small}
            rt_scan, rt_cols = _rt_resolved_scan(
                spark, path, sub, "OPTIMIZE"
            )
            df = rt_scan.drop(_FILE_COL).select(
                *[f.name for f in data_fields], *rt_cols
            )
        elif any(snap.files[r].get("deletionVector") for r in rels_small):
            # DV-carrying small files compact too (r10): read through
            # the DV-aware scan so the compaction FOLDS their vectors
            # (rows unchanged -> still dataChange:false); the removes
            # below retire the descriptors with the old paths
            import copy as _copy

            sub = _copy.copy(snap)
            sub.files = {r: snap.files[r] for r in rels_small}
            df = _scan_with_file(
                spark, path, sub, apply_dvs=True
            ).drop(_FILE_COL).select(*[f.name for f in data_fields])
        else:
            df = spark.read.schema(data_schema).parquet(
                *sorted(
                    os.path.join(path, urllib.parse.unquote(r))
                    for r in rels_small
                )
            ).select(
                *[F.col(phys(f.name)).alias(f.name) for f in data_fields]
            )
        if cluster_by:
            df = df.repartitionByRange(
                n_out, *[F.col(c) for c in cluster_by]
            ).sortWithinPartitions(*cluster_by)
        elif zorder_by:
            # one extra (column-pruned) pass over just the compacted
            # files to learn each column's range for the interleave
            bounds = df.agg(
                *[F.min(c).alias(f"lo_{c}") for c in zorder_by],
                *[F.max(c).alias(f"hi_{c}") for c in zorder_by],
            ).collect()[0]
            zk = zorder_key(
                [F.col(c) for c in zorder_by],
                [bounds[f"lo_{c}"] for c in zorder_by],
                [bounds[f"hi_{c}"] for c in zorder_by],
            )
            df = (
                df.withColumn("__zk", zk)
                .repartitionByRange(n_out, F.col("__zk"))
                .sortWithinPartitions("__zk")
            )
        else:
            df = df.repartition(n_out)
        pv = dict(_key)
        for col in snap.partition_columns:
            # mapped tables key partitionValues by PHYSICAL name
            val = pv.get(phys(col), pv.get(col))
            df = df.withColumn(col, F.lit(val).cast(part_types[col]))
        adds = _stage_table_files(
            df.select(
                *[f.name for f in schema.fields],
                *(rt_cols if rt else ()),
            ),
            path,
            snap,
            mapping,
        )
        for a in adds:
            a["add"]["dataChange"] = False
        actions += _removes(snap, rels_small, False) + adds

    if not actions:
        return snap.version
    if _row_tracking_active(snap):
        actions = _assign_row_tracking(snap, actions, snap.version + 1)
    return commit_actions(
        path,
        snap.version,
        actions,
        "OPTIMIZE",
        {"targetFileBytes": target_file_bytes},
        snapshot=snap,
    )


def rewrite_deletion_vectors(
    spark: SparkSession, path: str
) -> int:
    """REORG (r10): fold every live deletion vector back into its data
    file — the maintenance op all the DV refusals point at ("compact
    the DVs into data files"), completing the MOR lifecycle this
    engine writes (delete/update/merge via DVs) and reads.

    Mechanics: scan ONLY the DV-carrying files (a restricted snapshot,
    never the table), anti-join each file's decoded row positions, and
    stage the surviving rows as fresh files; ONE commit tombstones the
    DV-carrying files and adds the replacements. ``dataChange: false``
    on both sides — the snapshot's visible ROWS are unchanged, only
    their layout (the real REORG TABLE ... APPLY (PURGE) semantics),
    so streaming/incremental consumers correctly skip the commit and
    time travel still resolves. Files whose vector covers every row
    emit a plain remove. After the commit, copy-on-write DML and
    OPTIMIZE need no fold at all since r10 late (both are DV-aware);
    the replaced deletion_vector_*.bin sidecars become VACUUM-exempt
    orphans until retention (documented conservative boundary — they
    may still serve time travel).

    Scale: decode is driver-side under the pair budget and
    executor-side above it (the read path's split); rewrite cost is
    ∝ DV-carrying file bytes — exactly the files whose read-side
    anti-join tax this op retires. Column-mapped tables work (staging
    goes through the physical-name path)."""
    snap = _replay_log(path, None)
    mapping = _write_mapping(snap, "rewrite_deletion_vectors")
    _refuse_unenforced_writer_contracts(
        snap, "rewrite_deletion_vectors", emits_removes=True
    )
    dv_rels = sorted(
        p for p, a in snap.files.items() if a.get("deletionVector")
    )
    if not dv_rels:
        return snap.version
    # restricted view: scan exactly the DV-carrying files
    import copy as _copy

    sub = _copy.copy(snap)
    sub.files = {p: snap.files[p] for p in dv_rels}
    # a layout-only fold keeps BOTH row id and commit version for
    # every surviving row (the lineage pair rides along unchanged)
    scan, lineage = _dml_scan(spark, path, sub, "REORG", dv=True)
    build = _dv_pairs_by_base(spark, path, snap, dv_rels)
    kept = scan.join(
        build, on=[_FILE_COL, _POS_COL], how="left_anti"
    ).drop(_FILE_COL, _POS_COL)
    adds = _stage_table_files(kept, path, snap, mapping)
    for a in adds:
        a["add"]["dataChange"] = False  # layout-only, like OPTIMIZE
    actions = _removes(snap, dv_rels, False) + adds
    if lineage is not None:
        actions = _assign_row_tracking(snap, actions, snap.version + 1)
    return commit_actions(
        path,
        snap.version,
        actions,
        "REORG",
        {"applyPurge": True, "rewrittenFiles": len(dv_rels)},
        snapshot=snap,
    )


def read_delta_rows(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read EXPOSING Delta ROW TRACKING (PROTOCOL.md §Row
    Tracking — the Delta twin of Iceberg v3 row lineage): the table
    columns plus ``_row_id`` and ``_row_commit_version``, resolved the
    way the real reader does:

    * a MATERIALIZED value in the data file wins — the physical column
      names come from the table's
      ``delta.rowTracking.materializedRowIdColumnName`` /
      ``materializedRowCommitVersionColumnName`` configuration (what
      writers stamp when rows are copied by DML/OPTIMIZE);
    * else the FRESH value: the add action's ``baseRowId`` plus the
      row's physical position in its file, and
      ``defaultRowCommitVersion`` respectively;
    * files missing ``baseRowId`` (pre-enablement history awaiting
      backfill) read NULL rather than a guessed id.

    Requires the table to declare the ``rowTracking`` writer feature;
    refuses by name otherwise. Reads apply live deletion vectors (a
    DV-deleted row's id is never surfaced). The WRITE side is
    maintained since r12-late across EVERY write path:
    enable_row_tracking backfills and mints the materialized names,
    appends claim fresh ranges (_assign_row_tracking), CoW and DV
    DML/OPTIMIZE/REORG rewrites carry ids as materialized columns
    (_rt_resolved_scan), DV deletes re-add actions verbatim.

    Scale shape: the id map is one tiny broadcast row per live file
    (log metadata); per-row assignment is ``base + _metadata.row_index``
    — no shuffle, no window, no global ordering pass."""
    snap = _replay_log(path, version)
    feats = set((snap.protocol_action or {}).get("writerFeatures") or [])
    cfg = (snap.metadata_action or {}).get("configuration") or {}
    if "rowTracking" not in feats:
        raise NotImplementedError(
            "table does not declare the rowTracking writer feature — "
            "row ids are undefined here; use read_delta"
        )
    scan, (id_col, ver_col) = _rt_resolve(
        spark, path, snap,
        cfg.get("delta.rowTracking.materializedRowIdColumnName"),
        cfg.get("delta.rowTracking.materializedRowCommitVersionColumnName"),
    )
    assert snap.schema is not None
    cols = [f.name for f in snap.schema.fields]
    return scan.select(
        *cols,
        F.col(id_col).alias("_row_id"),
        F.col(ver_col).alias("_row_commit_version"),
    )
