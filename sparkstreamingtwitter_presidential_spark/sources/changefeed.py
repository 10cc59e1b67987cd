"""The format-independent half of the Delta / Iceberg / Hudi row-change
feeds (``delta_row_changes``, ``iceberg_row_changes``,
``hudi_row_changes`` and its MOR form, plus the three
``*_table_changes`` range walks over them).

Each feed finds the files (slices, snapshots) one commit touched and
reads an OLD side (rows visible before the commit) and a NEW side
(rows visible after it) under its own delete or vector state. The rest
lives here, stated once:

* **Key contract.** A commit that only added rows needs no keys: every
  new row is an 'insert' (:func:`insert_rows`). A commit that rewrote,
  removed or re-masked rows derives its changes by a keyed diff, so
  ``keys`` must be given (:func:`require_keys` names the commit in the
  refusal), must be columns of the table, and must be unique among the
  removed rows and among the added rows — an ambiguous diff raises,
  the same policy as MERGE's duplicate-source check.
* **Derivation** (:func:`derive`): both sides persist, ONE fused job
  checks uniqueness on both, and the keyed diff
  (:func:`keyed_change_rows`) reuses the cached rows — each side's
  touched files are read (and, on Hudi MOR, merged) once.
* **Output**: the table columns + ``_change_type`` in {'insert',
  'delete', 'update_preimage', 'update_postimage'} + the format's
  commit stamp. Rows equal on both sides (copy-overs) emit nothing.
  A range feed is the union of its per-commit feeds, typed-empty when
  the range has no data commit (:func:`range_union`, :func:`empty_feed`).

The naive emit — four filtered projections of the full-outer diff
unioned together — re-executes the JOIN (and both input scans) once
per change type: 4x the touched-file read cost, which at 100 TB is
the whole cost of a change read. :func:`keyed_change_rows` derives
all four change types in ONE pass: each joined row emits a
conditional array of (change_type, image) structs, nulls compacted,
exploded — one scan of each side, one join, one projection.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StringType, StructField, StructType


def require_keys(keys: list[str] | None, cols: list[str], what: str) -> None:
    """Refuse a keyed derivation without usable keys; ``what`` names
    the commit and why it needs them."""
    if keys is None:
        raise ValueError(
            f"{what} — deriving row changes needs a primary key; pass "
            "keys=[...]"
        )
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(f"change keys not in table schema: {missing}")


def insert_rows(
    new: DataFrame, cols: list[str], stamp_name: str, stamp: Column
) -> DataFrame:
    """Every row of an insert-only commit as an 'insert' change."""
    return new.select(
        *cols, F.lit("insert").alias("_change_type"), stamp.alias(stamp_name)
    )


def derive(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    cols: list[str],
    stamp_name: str,
    stamp: Column,
) -> DataFrame:
    """Keyed changes of a rewrite commit: persist both sides, refuse
    keys that are not unique on either (one fused job), then diff."""
    old = old.persist()
    new = new.persist()
    dup = (
        old.select(F.lit("removed").alias("__side"), *keys)
        .unionByName(new.select(F.lit("added").alias("__side"), *keys))
        .groupBy("__side", *keys)
        .count()
        .filter("count > 1")
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"keys {keys} are not unique among the {dup[0]['__side']} "
            f"rows (e.g. { {k: dup[0][k] for k in keys} }) — row-level "
            "changes need a primary key"
        )
    return keyed_change_rows(old, new, keys, cols, stamp_name, stamp)


def empty_feed(
    spark: SparkSession, schema: StructType, stamp_name: str, stamp_type: DataType
) -> DataFrame:
    """A feed with no rows, typed: ``schema`` + change type + stamp."""
    return spark.createDataFrame(
        [],
        StructType(
            list(schema.fields)
            + [
                StructField("_change_type", StringType(), False),
                StructField(stamp_name, stamp_type, False),
            ]
        ),
    )


def range_union(
    spark: SparkSession,
    frames: list[DataFrame],
    schema_of: Callable[[], StructType],
    stamp_name: str,
    stamp_type: DataType,
) -> DataFrame:
    """The union of a range's per-commit feeds, or the empty feed when
    the range has none (``schema_of()`` is only called then — Hudi's
    table schema costs a footer read)."""
    if frames:
        return reduce(DataFrame.unionByName, frames)
    return empty_feed(spark, schema_of(), stamp_name, stamp_type)


def keyed_change_rows(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    cols: list[str],
    stamp_name: str,
    stamp: Column,
) -> DataFrame:
    """insert / delete / update_preimage / update_postimage rows from
    a keyed full-outer diff of ``old`` vs ``new`` (both carrying
    exactly ``cols``), each stamped with ``stamp`` as ``stamp_name``.
    Rows equal on both sides (copy-overs) emit nothing. Key uniqueness
    is the caller's check (:func:`derive`)."""
    non_keys = [c for c in cols if c not in keys]
    if non_keys:
        payload = F.struct(*[F.col(c).alias(c) for c in non_keys])
    else:
        # all columns are keys: presence IS the payload; updates are
        # impossible (nothing non-key to change)
        payload = F.lit(True)
    o = old.select(*keys, payload.alias("__o"))
    n = new.select(*keys, payload.alias("__n"))
    # shuffle_hash hint: a full outer can never broadcast, and both
    # sides here are stats-free frames (persisted reads of a commit's
    # touched files), so the static planner would fall back to
    # sort-merge — two full sorts the hash join skips. A commit's
    # touched-file rows partition evenly by primary key, and per-task
    # build maps stay bounded by the post-shuffle partition size
    # (AQE skew split still applies first), so the hint is the right
    # call at any scale for THIS shape (guide §3.1: pick the strategy
    # deliberately when you know what the optimizer cannot; r15).
    j = o.join(n.hint("shuffle_hash"), on=keys, how="full_outer")
    has_old = F.col("__o").isNotNull()
    has_new = F.col("__n").isNotNull()
    differs = (
        has_old & has_new & ~F.col("__o").eqNullSafe(F.col("__n"))
        if non_keys
        else F.lit(False)
    )

    def _ent(cond: Column, ctype: str, img: str) -> Column:
        return F.when(
            cond,
            F.struct(
                F.lit(ctype).alias("t"), F.col(img).alias("img")
            ),
        )

    pairs = F.array(
        _ent(has_new & ~has_old, "insert", "__n"),
        _ent(has_old & ~has_new, "delete", "__o"),
        _ent(differs, "update_preimage", "__o"),
        _ent(differs, "update_postimage", "__n"),
    )
    return (
        j.select(*keys, F.explode(F.array_compact(pairs)).alias("__c"))
        .select(
            *keys,
            *[F.col(f"__c.img.{c}").alias(c) for c in non_keys],
            F.col("__c.t").alias("_change_type"),
            stamp.alias(stamp_name),
        )
        .select(*cols, "_change_type", stamp_name)
    )
