"""Iceberg FORMAT-VERSION 3 deletion-vector DML — the MERGE-ON-READ
write family over the public table spec (iceberg.apache.org/spec §v3
Deletion vectors + iceberg.apache.org/puffin-spec), mirroring the Delta
DV write family (`sources/delta_dml.py::delete_delta_dv/update_delta_dv/
merge_delta_dv`) contract-for-contract — the contracts, the position
collect and the vector-union rule are shared code in `row_dml.py`:

* ``delete_iceberg_dv`` — DELETE marks matched rows in per-data-file
  Puffin deletion vectors; no data file rewrites.
* ``update_iceberg_dv`` — UPDATE marks the old rows deleted and stages
  their updated versions as new data files, one atomic commit.
* ``merge_iceberg_dv`` — MERGE with the same matched/not-matched
  semantics as the CoW ``merge_iceberg``, DV-marking matched targets.

Spec invariants enforced here:

* ONE deletion vector per data file at any time: a new vector for an
  already-vectored file must CONTAIN the old one (union) and the same
  commit removes the superseded entry (status DELETED in the rebuilt
  delete manifest).
* A file whose union covers every physical row drops from the data
  manifests entirely (no 100%-deleted vector — the real writer's
  behavior, and what keeps scans from opening dead files).
* DV manifest entries carry referenced_data_file / content_offset /
  content_size_in_bytes (spec field-ids 143/144/145) plus the
  referenced file's partition tuple, so readers locate blobs without
  parsing Puffin footers.

Scale shape (the 100 TB argument): the matched-row probe is ONE
distributed predicate scan projecting only `_metadata` pseudo-columns;
vectors are driver-built metadata bounded by the Delta twin's 2M-row
pair budget (refuse above, pointing at the CoW path — a change that size
should rewrite files); write cost is ∝ matched rows (roaring bitmap
bytes), never affected-file bytes; untouched DATA manifests carry
verbatim (carry_data_manifests), so commit metadata cost is ∝ delete
state, not table size. Read-back applies vectors via the existing r10
path (`iceberg._position_delete_pairs`: driver decode below the budget,
executor-distributed decode above it).

Reference parity note: the reference engine (Scala DStream collector,
Collector.scala:19-105) has no table format; this exists so the engine
can AUTHOR what v3-era foreign writers (Spark 4 + Iceberg 1.8+)
produce, closing the r10 read-but-not-write asymmetry.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkstreamingtwitter_presidential_spark.sources.avro import read_container
from sparkstreamingtwitter_presidential_spark.sources.delta import (
    _DV_PAIRS_DRIVER_MAX,
)
from sparkstreamingtwitter_presidential_spark.sources.iceberg import (
    _ABS_PATH_COL,
    _DATA_DIR,
    _LAST_UPDATED_COL,
    _ROW_ID_COL,
    _DmlPlan,
    _commit_snapshot,
    _dml_plan,
    _entries_and_deletes_for_snapshot,
    _identity_fields,
    _load_metadata,
    _partition_fields,
    _POS_COL,
    _schema_for,
    _snapshot,
    _stage_plan_rows,
)
from sparkstreamingtwitter_presidential_spark.sources.partition_scan import (
    _norm_path,
)
from sparkstreamingtwitter_presidential_spark.sources.puffin import (
    deserialize_dv_blob,
    read_blob,
    serialize_dv_blob,
    write_puffin,
)
from sparkstreamingtwitter_presidential_spark.sources.row_dml import (
    carry_id,
    check_merge,
    check_set,
    collect_positions,
    set_columns,
    union_vectors,
)

_PATH_COL = _ABS_PATH_COL  # the _read_files(with_path_pos) pseudo-column


def _require_v3(meta: dict, op: str) -> None:
    if meta.get("format-version", 1) < 3:
        raise NotImplementedError(
            f"{op} writes Puffin deletion vectors, a format-version 3 "
            "feature; run upgrade_iceberg_v3 first (or use the v2 "
            "paths: CoW DML / delete_iceberg_positional)"
        )


def _plan(spark: SparkSession, path: str, op: str) -> _DmlPlan:
    """iceberg._dml_plan on a v3 table, without the file-basename
    column: every live row carries its NORMALIZED path, in-file position
    and resolved lineage, with all live row-level deletes applied — so
    a matched row is live by construction (an UPDATE can never
    resurrect an equality-deleted or already-vectored row)."""
    meta = _load_metadata(path)
    _require_v3(meta, op)
    return _dml_plan(spark, path, op, with_file=False, meta=meta)


def _mark_matched(
    path: str,
    hits: DataFrame,
    entries: list[dict],
    dels: list[dict],
    budget: int,
    cow_twin: str,
):
    """The Iceberg side of a deletion-vector write: collect ``hits``'
    positions (row_dml.collect_positions), union each touched file's
    with its EXISTING Puffin vector (row_dml.union_vectors), and
    resolve which prior vectors the commit supersedes.

    Returns None when nothing new matched, else a dict with the commit
    ingredients. The whole build is bounded: matched rows by the
    collect budget, existing vectors by the touched files'
    deleted-row counts (metadata-sized by the same budget applied at
    their own write time)."""
    new = collect_positions(hits, _PATH_COL, _POS_COL, budget, cow_twin)
    by_norm: dict[str, dict] = {
        _norm_path(e["data_file"]["file_path"]): e for e in entries
    }
    unknown = sorted(set(new) - set(by_norm))
    if unknown:
        raise ValueError(
            f"DV write matched rows in non-live data files: {unknown[:3]}"
        )
    # existing vector per touched file (PUFFIN delete entries keyed by
    # referenced_data_file); superseded entries leave in this commit
    dv_by_ref: dict[str, dict] = {
        _norm_path(d["data_file"]["referenced_data_file"]): d
        for d in dels
        if d["data_file"]["file_format"].upper() == "PUFFIN"
    }

    def old_of(np_: str) -> list[int]:
        entry = dv_by_ref.get(np_)
        if entry is None:
            return []
        df_ = entry["data_file"]
        return deserialize_dv_blob(
            read_blob(
                df_["file_path"],
                df_["content_offset"],
                df_["content_size_in_bytes"],
            )
        )

    vu = union_vectors(
        new, old_of, lambda np_: by_norm[np_]["data_file"]["record_count"]
    )
    if not vu.fresh:
        return None
    return {
        "unions": vu.unions,
        "fully_deleted": vu.retired,
        "superseded": [dv_by_ref[f] for f in vu.fresh if f in dv_by_ref],
        "by_norm": by_norm,
    }


def _commit_dv(
    path: str,
    plan: _DmlPlan,
    mark: dict,
    added_files: list[dict],
    operation: str,
    summary_extra: dict[str, str] | None = None,
) -> int:
    """One atomic DV commit: write the round's Puffin file (one
    deletion-vector-v1 blob per touched file), rebuild exactly the
    delete manifests that carry superseded vectors (their untouched
    PUFFIN siblings ride as EXISTING; any non-DV entry in such a
    manifest refuses by name — vectors commit in DV-only manifests,
    so this engine's own tables never hit it), carry every other
    delete manifest verbatim, and either carry the data manifests
    verbatim (no fully-deleted file) or rebuild them dropping the
    dead files."""
    meta, snap, entries = plan.meta, plan.snap, plan.entries
    unions: dict[str, list[int]] = mark["unions"]
    fully_deleted: list[str] = mark["fully_deleted"]
    superseded: list[dict] = mark["superseded"]
    by_norm: dict[str, dict] = mark["by_norm"]
    seq = meta.get("last-sequence-number", 0) + 1

    added_dv_files: list[dict] = []
    if unions:
        puffin_path = os.path.join(
            path, _DATA_DIR, f"dv-{uuid.uuid4().hex}.puffin"
        )
        os.makedirs(os.path.dirname(puffin_path), exist_ok=True)
        ordered = sorted(unions)
        blob_metas = write_puffin(
            puffin_path,
            [
                {
                    "type": "deletion-vector-v1",
                    "payload": serialize_dv_blob(unions[p]),
                    "sequence-number": seq,
                    "properties": {
                        # manifest-spelled path, not the normalized one:
                        # readers compare it against manifest entries
                        "referenced-data-file": by_norm[p]["data_file"][
                            "file_path"
                        ],
                        "cardinality": str(len(unions[p])),
                    },
                }
                for p in ordered
            ],
        )
        psize = os.path.getsize(puffin_path)
        default_sid = meta.get("default-spec-id", 0)
        for p, m in zip(ordered, blob_metas):
            ent = by_norm[p]
            ref = ent["data_file"]
            rec = {
                "content": 1,
                "file_path": puffin_path,
                "file_format": "PUFFIN",
                "partition": dict(ref.get("partition") or {}),
                "record_count": len(unions[p]),
                "file_size_in_bytes": psize,
                "lower_bounds": None,
                "upper_bounds": None,
                "equality_ids": None,
                "referenced_data_file": ref["file_path"],
                "content_offset": m["offset"],
                "content_size_in_bytes": m["length"],
            }
            # the DV entry's partition record copies the REFERENCED
            # file's tuple, so it must serialize under that file's
            # writing spec — _commit_snapshot's per-spec delete
            # manifests (r14) key off this side-channel
            sid = ent.get("spec_id", default_sid)
            if sid != default_sid:
                rec["_spec_id"] = sid
            added_dv_files.append(rec)

    # resolve prior delete manifests: rebuild the ones carrying a
    # superseded vector, carry the rest verbatim
    superseded_paths = {
        (e["data_file"]["file_path"], e["data_file"]["content_offset"])
        for e in superseded
    }
    _, _, parent_ms = read_container(snap["manifest-list"])
    carry_verbatim: list[dict] = []
    existing_dels: list[dict] = []
    deleted_dels: list[dict] = list(superseded)
    for m in parent_ms:
        if m["content"] == 0:
            continue
        _, _, m_entries = read_container(m["manifest_path"])
        live = [e for e in m_entries if e["status"] != 2]
        hit = any(
            (
                e["data_file"]["file_path"],
                e["data_file"].get("content_offset"),
            )
            in superseded_paths
            for e in live
        )
        if not hit:
            carry_verbatim.append(m)
            continue
        for e in live:
            key = (
                e["data_file"]["file_path"],
                e["data_file"].get("content_offset"),
            )
            if key in superseded_paths:
                continue  # leaves as DELETED via deleted_dels
            if e["data_file"]["file_format"].upper() != "PUFFIN":
                raise NotImplementedError(
                    "superseding a deletion vector inside a MIXED "
                    "delete manifest (DV + non-DV entries under one "
                    "spec) is not supported; this engine and the real "
                    "v3 writers commit vectors in DV-only manifests"
                )
            existing_dels.append(
                {
                    "status": e["status"],
                    "snapshot_id": (
                        e.get("snapshot_id")
                        if e.get("snapshot_id") is not None
                        else m["added_snapshot_id"]
                    ),
                    "sequence_number": (
                        e.get("sequence_number")
                        if e.get("sequence_number") is not None
                        else m["sequence_number"]
                    ),
                    "file_sequence_number": (
                        e.get("file_sequence_number")
                        if e.get("file_sequence_number") is not None
                        else m["sequence_number"]
                    ),
                    "data_file": e["data_file"],
                }
            )

    if fully_deleted:
        dead = set(fully_deleted)
        existing_entries = [
            e
            for e in entries
            if _norm_path(e["data_file"]["file_path"]) not in dead
        ]
        deleted_entries = [by_norm[p] for p in sorted(dead)]
        carry_data = False
    else:
        existing_entries = []
        deleted_entries = []
        carry_data = True
    return _commit_snapshot(
        path,
        meta,
        plan.ice_schema,
        plan.part_fields,
        added_files=added_files,
        existing_entries=existing_entries,
        deleted_entries=deleted_entries,
        carry_prior_manifests=False,
        operation=operation,
        summary_extra=summary_extra,
        added_delete_files=added_dv_files,
        carry_data_manifests=carry_data,
        existing_delete_entries=existing_dels,
        deleted_delete_entries=deleted_dels,
        extra_carried_manifests=carry_verbatim,
    )


def delete_iceberg_dv(
    spark: SparkSession,
    path: str,
    predicate: str,
    max_deleted_rows: int = _DV_PAIRS_DRIVER_MAX,
) -> int:
    """DELETE FROM table WHERE predicate — merge-on-read via Puffin
    deletion vectors (format-version 3). SQL-null semantics: only rows
    where the predicate is TRUE delete. Cost ∝ matched rows; no data
    file rewrites (a file whose vector reaches 100% drops instead).
    Matches above ``max_deleted_rows`` refuse, pointing at the CoW
    :func:`iceberg.delete_iceberg`. Returns the new snapshot id (the
    current one unchanged when nothing matched)."""
    p = _plan(spark, path, "delete_iceberg_dv")
    if not p.entries:
        return p.snap["snapshot-id"]
    mark = _mark_matched(
        path, p.scan.filter(F.expr(predicate)), p.entries, p.dels,
        max_deleted_rows, "delete_iceberg",
    )
    if mark is None:
        return p.snap["snapshot-id"]
    return _commit_dv(
        path, p, mark, added_files=[], operation="delete",
        summary_extra={"predicate": predicate, "mode": "deletion-vectors"},
    )


def update_iceberg_dv(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    predicate: str | None = None,
) -> int:
    """UPDATE ... SET — merge-on-read: ONE commit marks the matched
    rows deleted in per-file deletion vectors AND stages their updated
    versions as new data files. Expressions evaluate against the
    PRE-update row (SQL UPDATE semantics); rows an existing vector or
    equality delete already removed are invisible and never update
    (the plan scan applies all live deletes). IDENTITY-partition source
    columns refuse; a TRANSFORM source column (``ts`` under
    ``day(ts)``) may be set, because the updated row re-stages as a new
    file under the tuple its new value derives. (The copy-on-write
    :func:`iceberg.update_iceberg` refuses every partition source
    column.) Returns the new snapshot id."""
    p = _plan(spark, path, "update_iceberg_dv")
    check_set(
        set_exprs,
        p.columns,
        {pf["source_name"] for pf in _identity_fields(p.part_fields)},
    )
    if not p.entries:
        return p.snap["snapshot-id"]
    cond = F.expr(predicate) if predicate is not None else F.lit(True)
    hits = p.scan.filter(cond)
    mark = _mark_matched(
        path, hits, p.entries, p.dels, _DV_PAIRS_DRIVER_MAX, "update_iceberg"
    )
    if mark is None:
        return p.snap["snapshot-id"]
    # v3 row lineage: updated rows CARRY their original _row_id into the
    # re-staged file (spec §Row Lineage — an updated row keeps its
    # identity); the new file's data sequence number IS the updating
    # snapshot's, so _last_updated_sequence_number derives on read
    updated = hits.select(
        *set_columns(p.spark_schema.fields, set_exprs), *carry_id(p.lineage)
    )
    return _commit_dv(
        path, p, mark, added_files=_stage_plan_rows(path, p, updated),
        operation="overwrite",
        summary_extra={
            "predicate": predicate or "true",
            "mode": "deletion-vectors",
        },
    )


def merge_iceberg_dv(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    when_matched: str = "update",
    insert_not_matched: bool = True,
    summary_extra: dict[str, str] | None = None,
) -> int:
    """MERGE INTO table USING source ON equality of ``keys`` —
    merge-on-read: matched target rows DV-mark deleted (their
    replacement values — for when_matched='update' — and the
    not-matched inserts stage as new data files in the same commit).
    Semantics match the CoW :func:`iceberg.merge_iceberg` exactly
    (row_dml.check_merge): 'update' is a full-row upsert from the
    source row, 'delete' removes matched rows, 'none' leaves them.
    Returns the new snapshot id."""
    p = _plan(spark, path, "merge_iceberg_dv")
    tcols = p.columns
    source = check_merge(source, tcols, keys, when_matched)
    hits = p.scan.join(
        F.broadcast(source.select(*keys).distinct()), on=keys, how="leftsemi"
    )
    mark = None
    inserts = source
    if p.entries:
        if when_matched != "none":
            mark = _mark_matched(
                path, hits, p.entries, p.dels, _DV_PAIRS_DRIVER_MAX,
                "merge_iceberg",
            )
        inserts = source.join(
            hits.select(*keys).distinct(), on=keys, how="left_anti"
        )
    added: list[dict] = []
    if mark is not None and when_matched == "update":
        # full-row upsert, one replacement PER MATCHED TARGET ROW (the
        # CoW twin's semantics — duplicate target keys each update),
        # carrying the matched TARGET row's _row_id: an upsert updates
        # the row's values, not its identity; inserts mint fresh ids
        src = source.select(*[F.col(c).alias(f"__src_{c}") for c in tcols])
        joined = hits.join(
            F.broadcast(src),
            on=[hits[k] == src[f"__src_{k}"] for k in keys],
            how="inner",
        )
        added += _stage_plan_rows(
            path, p,
            joined.select(
                *[F.col(f"__src_{c}").alias(c) for c in tcols],
                *carry_id(p.lineage),
            ),
        )
    if insert_not_matched:
        added += _stage_plan_rows(path, p, inserts)

    if mark is None and not added:
        return p.snap["snapshot-id"]
    if mark is None:
        # pure insert (nothing matched, or when_matched='none'):
        # ordinary append commit, data manifests carry forward
        return _commit_snapshot(
            path,
            p.meta,
            p.ice_schema,
            p.part_fields,
            added_files=added,
            existing_entries=[],
            deleted_entries=[],
            carry_prior_manifests=True,
            operation="append",
            summary_extra=summary_extra,
        )
    return _commit_dv(
        path, p, mark, added_files=added, operation="overwrite",
        summary_extra=summary_extra,
    )


def read_iceberg_lineage(spark: SparkSession, path: str) -> DataFrame:
    """Snapshot read EXPOSING v3 row lineage: the table columns plus
    ``_row_id`` and ``_last_updated_sequence_number`` (spec §Row
    Lineage) — resolved exactly as a v3 reader does:

    * a MATERIALIZED ``_row_id`` in the data file (what this engine's
      DV DML stages for updated/upserted rows, r12) wins;
    * else the file's assigned ``first_row_id`` — its explicit
      data-file field 142 when present (rewritten entries carry it),
      else manifest inheritance (first_row_id base + preceding null-id
      files' record counts, resolved by
      _entries_and_deletes_for_snapshot) — plus the row's position;
    * files under a null-base manifest with no explicit id read NULL
      (pre-upgrade / foreign lineage-less history, per spec).

    ``_last_updated_sequence_number``: a materialized value wins (what
    compaction would stage — rows copied unchanged keep their last
    update); else the file's DATA sequence number (a freshly re-staged
    update's file seq IS the updating snapshot's).

    Scale shape: the id map is driver-built from manifest metadata
    (one row per live data file, broadcast); per-row assignment is
    ``first + _metadata.row_index`` — no shuffle, no window function,
    no global ordering pass."""
    # ONE metadata load for both the scan and the id map (r11 review
    # fix: two loads could tear — a commit between them would leave
    # scan files missing from the map, silently NULLing their ids);
    # _plan resolves BOTH lineage columns on the scan already, so this
    # is a projection dropping the probe pseudo-columns.
    scan = _plan(spark, path, "read_iceberg_lineage").scan
    lineage = (_ROW_ID_COL, _LAST_UPDATED_COL)
    cols = [c for c in scan.columns if c not in (_PATH_COL, _POS_COL, *lineage)]
    return scan.select(*cols, *lineage)


# ------------------------------------------------------- DV maintenance


def rewrite_deletion_vectors(path: str) -> dict | None:
    """The `rewrite_position_delete_files` maintenance procedure for
    Puffin deletion vectors (iceberg.apache.org/docs §maintenance —
    "rewrite position delete files", v3 shape): fold the table's live
    vectors, scattered across one small Puffin file PER DML COMMIT,
    into ONE compact Puffin file, and drop the dead bytes superseded
    unions left behind — without touching any data file (REORG/compact
    is the heavy alternative).

    Pure byte-level fold: each live blob is copied VERBATIM by its
    manifest-carried offset/length (no roaring decode — cost is O(live
    DV bytes), metadata-side), the new delete manifest preserves every
    entry's referenced_data_file/partition/record_count, and the data
    manifests carry verbatim. Old Puffin files stay on disk for time
    travel until `expire_snapshots` + `remove_orphan_files` collect
    them — the same lifecycle as data-file rewrites.

    Returns {"puffin_files_before", "vectors", "bytes_live",
    "bytes_reclaimable"} or None when the DV state is already compact
    (zero or one Puffin file with no dead bytes). Refuses non-PUFFIN
    delete content by name (parquet position-delete files have their
    own rewrite path in real engines; this engine's v2 tables apply
    them at read time and compact via REORG)."""
    meta = _load_metadata(path)
    _require_v3(meta, "rewrite_deletion_vectors")
    snap = _snapshot(meta, None)
    if snap is None:
        return None
    _entries, dels = _entries_and_deletes_for_snapshot(path, snap)
    dvs = []
    for e in dels:
        ff = e["data_file"].get("file_format", "").upper()
        if ff != "PUFFIN":
            raise NotImplementedError(
                f"rewrite_deletion_vectors over {ff!r} delete files is "
                "not supported (Puffin deletion vectors only); v2 "
                "position-delete parquet compacts via compact_iceberg"
            )
        dvs.append(e)
    if not dvs:
        return None
    by_ref: dict[str, dict] = {}
    for e in dvs:
        ref = e["data_file"]["referenced_data_file"]
        if ref in by_ref:
            raise ValueError(
                f"two live deletion vectors reference {ref!r} — the "
                "one-DV-per-data-file invariant is broken; refusing to "
                "fold corrupt delete state"
            )
        by_ref[ref] = e
    old_files = sorted(
        {_norm_path(e["data_file"]["file_path"]) for e in dvs}
    )
    bytes_live = sum(
        int(e["data_file"]["content_size_in_bytes"]) for e in dvs
    )
    bytes_on_disk = sum(os.path.getsize(p) for p in old_files)
    if len(old_files) == 1:
        # one file is compact iff EVERY blob in its footer is live —
        # exact, not a byte-overhead heuristic (footers dwarf tiny
        # vectors); committing a no-op would churn metadata for nothing
        from sparkstreamingtwitter_presidential_spark.sources.puffin import (
            read_puffin_footer,
        )

        live_spans = {
            (
                int(e["data_file"]["content_offset"]),
                int(e["data_file"]["content_size_in_bytes"]),
            )
            for e in dvs
        }
        footer = read_puffin_footer(old_files[0])
        all_spans = {
            (int(b["offset"]), int(b["length"]))
            for b in footer.get("blobs", [])
        }
        if all_spans == live_spans:
            return None

    puffin_path = os.path.join(
        path, _DATA_DIR, f"dv-rewrite-{uuid.uuid4().hex}.puffin"
    )
    os.makedirs(os.path.dirname(puffin_path), exist_ok=True)
    ordered = sorted(by_ref)
    blob_metas = write_puffin(
        puffin_path,
        [
            {
                "type": "deletion-vector-v1",
                # verbatim byte copy — offsets/lengths come from the
                # manifest entry, no decode round-trip
                "payload": read_blob(
                    _norm_path(by_ref[r]["data_file"]["file_path"]),
                    by_ref[r]["data_file"]["content_offset"],
                    by_ref[r]["data_file"]["content_size_in_bytes"],
                ),
                "sequence-number": by_ref[r]["sequence_number"],
                "properties": {
                    "referenced-data-file": r,
                    "cardinality": str(
                        by_ref[r]["data_file"]["record_count"]
                    ),
                },
            }
            for r in ordered
        ],
    )
    psize = os.path.getsize(puffin_path)
    added_dv_files = []
    default_sid = meta.get("default-spec-id", 0)
    for r, m in zip(ordered, blob_metas):
        old_ent = by_ref[r]
        old = old_ent["data_file"]
        rec = {
            "content": 1,
            "file_path": puffin_path,
            "file_format": "PUFFIN",
            "partition": dict(old.get("partition") or {}),
            "record_count": old["record_count"],
            "file_size_in_bytes": psize,
            "lower_bounds": None,
            "upper_bounds": None,
            "equality_ids": None,
            "referenced_data_file": r,
            "content_offset": m["offset"],
            "content_size_in_bytes": m["length"],
        }
        # preserve each folded vector's spec attribution (r14 — see
        # the DML site): the compacted entry re-serializes under the
        # same spec its superseded original was typed by
        sid = old_ent.get("spec_id", default_sid)
        if sid != default_sid:
            rec["_spec_id"] = sid
        added_dv_files.append(rec)
    ice_schema = _schema_for(meta, meta.get("current-schema-id", 0))
    part_fields = _partition_fields(meta, ice_schema)
    _commit_snapshot(
        path,
        meta,
        ice_schema,
        part_fields,
        added_files=[],
        existing_entries=[],
        deleted_entries=[],
        carry_prior_manifests=False,
        operation="replace",
        summary_extra={
            "rewritten-delete-files": str(len(dvs)),
            "added-delete-files": str(len(added_dv_files)),
        },
        added_delete_files=added_dv_files,
        carry_data_manifests=True,
        existing_delete_entries=[],
        deleted_delete_entries=list(dvs),
    )
    return {
        "puffin_files_before": len(old_files),
        "vectors": len(dvs),
        "bytes_live": bytes_live,
        "bytes_reclaimable": bytes_on_disk - bytes_live,
    }
