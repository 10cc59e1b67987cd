"""The format-independent half of row-level DML (DELETE, UPDATE and
MERGE) for the Delta and Iceberg connectors.

Every flavour — Delta copy-on-write (``delta_dml``), Delta deletion
vectors, Iceberg copy-on-write (``iceberg``) and Iceberg v3 deletion
vectors (``iceberg_dv``) — plans over a scan of the live data files
tagged with each row's file (and, for vectors, its in-file position).
This module holds what they share:

* the MERGE and SET contracts (``check_merge``, ``check_set``);
* the copy-on-write rewrites of an affected file's rows
  (``cow_delete``, ``cow_update``, ``cow_merge``);
* the lineage carry rule (``carry``): a rewritten row keeps its id
  and nulls its version where the statement touched it;
* the deletion-vector side: a budgeted collect of matched positions
  (``collect_positions``) and the pure-Python union of new positions
  with a file's old vector (``union_vectors``).

Each format keeps its tagged scan, its staging and its commit.
"""

from __future__ import annotations

from typing import Callable, Iterable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (id column, version column) of a table's row lineage — Delta row
# tracking's materialized pair, Iceberg v3's (_row_id,
# _last_updated_sequence_number) — or None on an untracked table
Lineage = tuple[str, str] | None

_SRC = "__src_"
_MATCHED = "__matched"


def check_merge(
    source: DataFrame, tcols: list[str], keys: list[str], when_matched: str
) -> DataFrame:
    """The MERGE contract: ``when_matched`` is update, delete or none;
    the source's columns are the table's; the keys are table columns;
    and the source is duplicate-free on them (a target row matching two
    source rows is ambiguous). Returns the source in table order."""
    if when_matched not in ("update", "delete", "none"):
        raise ValueError(
            f"when_matched must be update|delete|none: {when_matched!r}"
        )
    if sorted(source.columns) != sorted(tcols):
        raise ValueError(
            f"source columns {sorted(source.columns)} != table's "
            f"{sorted(tcols)}"
        )
    missing = [k for k in keys if k not in tcols]
    if missing:
        raise ValueError(f"merge keys not in table: {missing}")
    dup = source.groupBy(*keys).count().filter("count > 1").limit(1).collect()
    if dup:
        raise ValueError(
            f"source has duplicate merge keys (e.g. "
            f"{ {k: dup[0][k] for k in keys} }); MERGE would be ambiguous"
        )
    return source.select(*tcols)


def check_set(
    set_exprs: dict[str, str], columns: Iterable[str], refused: Iterable[str]
) -> None:
    """The SET contract: every target is a table column and none is in
    ``refused`` — the partition columns the calling flavour will not
    move in place."""
    bad = set(set_exprs) & set(refused)
    if bad:
        raise ValueError(
            f"cannot UPDATE partition column(s) {sorted(bad)}; "
            "delete+insert (or merge) instead"
        )
    unknown = set(set_exprs) - set(columns)
    if unknown:
        raise ValueError(f"unknown column(s) in SET: {sorted(unknown)}")


def holds(cond: Column) -> Column:
    """SQL-null semantics: a row matches only where ``cond`` is TRUE."""
    return F.coalesce(cond, F.lit(False))


def affected_files(matches: DataFrame, file_col: str) -> list[str]:
    """The tagged files holding at least one matched row — a
    metadata-sized list from one distributed distinct."""
    return [
        r[file_col] for r in matches.select(file_col).distinct().collect()
    ]


def carry(
    lineage: Lineage, touched: Column | None = None, frame=None
) -> list[Column]:
    """The lineage columns a rewritten row carries into its staged file:
    the id always; the version nulled where ``touched`` holds, so the
    new file's own version applies on read while copied rows keep
    theirs. ``frame`` resolves the columns against one side of a join."""
    if lineage is None:
        return []
    col = F.col if frame is None else frame.__getitem__
    id_col, ver_col = lineage
    ver = col(ver_col)
    if touched is not None:
        ver = (
            F.when(touched, F.lit(None).cast("long"))
            .otherwise(ver)
            .alias(ver_col)
        )
    return [col(id_col), ver]


def carry_id(lineage: Lineage) -> list[Column]:
    """A row re-staged by a deletion-vector UPDATE or MERGE keeps only
    its id; its version derives from the new file."""
    return [] if lineage is None else [F.col(lineage[0])]


def set_columns(fields, set_exprs: dict[str, str], where=None) -> list[Column]:
    """The UPDATE projection over a schema's ``fields``: each SET column
    evaluates against the pre-update row, cast to the column's type —
    only where ``where`` holds, when given (other rows keep theirs)."""
    out = []
    for f in fields:
        if f.name not in set_exprs:
            out.append(F.col(f.name))
            continue
        new = F.expr(set_exprs[f.name]).cast(f.dataType)
        if where is not None:
            new = F.when(where, new).otherwise(F.col(f.name))
        out.append(new.alias(f.name))
    return out


def cow_delete(
    rows: DataFrame, cols: list[str], cond: Column, lineage: Lineage
) -> DataFrame:
    """An affected file's surviving rows: copied, lineage kept."""
    return rows.filter(~holds(cond)).select(*cols, *carry(lineage))


def cow_update(
    rows: DataFrame,
    fields,
    set_exprs: dict[str, str],
    cond: Column,
    lineage: Lineage,
) -> DataFrame:
    """An affected file's rows after UPDATE: ``when(hit, expr)`` per SET
    column; hit rows null their lineage version."""
    h = holds(cond)
    return rows.select(*set_columns(fields, set_exprs, h), *carry(lineage, h))


class CowMerge(NamedTuple):
    affected: list[str]  # tagged files holding a matched key
    rewritten: DataFrame | None  # their rows after the WHEN MATCHED clause
    before: DataFrame | None  # matched target rows (table columns)
    after: DataFrame | None  # the source rows that matched them
    inserts: DataFrame  # source rows no target row matches


def cow_merge(
    scan: DataFrame,
    file_col: str,
    source: DataFrame,
    keys: list[str],
    when_matched: str,
    lineage: Lineage,
) -> CowMerge:
    """Copy-on-write MERGE over a tagged ``scan``: one job collects the
    files holding a source key; their rows left-join the
    ``__src_``-aliased source, and the matched flag picks the WHEN
    MATCHED branch — 'update' takes the source row's values, 'delete'
    drops the row, 'none' copies it. ``source`` must be in table column
    order (``check_merge``)."""
    tcols = source.columns
    affected = affected_files(
        scan.join(source.select(*keys).distinct(), on=keys, how="leftsemi"),
        file_col,
    )
    if not affected:
        return CowMerge(affected, None, None, None, source)
    rows = scan.filter(F.col(file_col).isin(affected))
    src = source.select(
        *[F.col(c).alias(f"{_SRC}{c}") for c in tcols]
    ).withColumn(_MATCHED, F.lit(True))
    joined = rows.join(
        src, on=[rows[k] == src[f"{_SRC}{k}"] for k in keys], how="left"
    )
    m = holds(F.col(_MATCHED))
    target = [rows[c] for c in tcols]
    if when_matched == "update":
        rewritten = joined.select(
            *[
                F.when(m, F.col(f"{_SRC}{c}")).otherwise(rows[c]).alias(c)
                for c in tcols
            ],
            *carry(lineage, m, rows),
        )
    elif when_matched == "delete":
        rewritten = joined.filter(~m).select(*target, *carry(lineage, frame=rows))
    else:
        rewritten = joined.select(*target, *carry(lineage, frame=rows))
    matched = joined.filter(m)
    inserts = source.join(
        rows.select(*keys).distinct(), on=keys, how="leftanti"
    )
    return CowMerge(
        affected,
        rewritten,
        matched.select(*target),
        matched.select(*[F.col(f"{_SRC}{c}").alias(c) for c in tcols]),
        inserts,
    )


def collect_positions(
    matches: DataFrame, file_col: str, pos_col: str, budget: int, cow_twin: str
) -> dict[str, set[int]]:
    """Matched positions per file, collected to the driver (a deletion
    vector is driver-built metadata). Above ``budget`` rows this
    refuses and names the copy-on-write twin."""
    rows = matches.select(file_col, pos_col).limit(budget + 1).collect()
    if len(rows) > budget:
        raise NotImplementedError(
            f"deletion-vector DML matched more than {budget} rows; vectors "
            "are driver-built metadata and a change this size should "
            f"rewrite data files — use copy-on-write {cow_twin}"
        )
    out: dict[str, set[int]] = {}
    for f, p in rows:
        out.setdefault(f, set()).add(int(p))
    return out


class VectorUnion(NamedTuple):
    unions: dict[str, list[int]]  # file -> its new vector (old ∪ new)
    retired: list[str]  # files whose union covers every row
    fresh: dict[str, list[int]]  # file -> newly deleted positions


def union_vectors(
    new: dict[str, set[int]],
    old_of: Callable[[str], Iterable[int]],
    rows_of: Callable[[str], int | None],
) -> VectorUnion:
    """The deletion-vector union rule (a new vector must contain the
    one it replaces): per file, ``new`` positions join the old vector.
    A file whose matches were all deleted already is skipped; one whose
    union reaches its row count (``rows_of``, None when unknown) retires
    instead of carrying a 100% vector. ``fresh`` holds only positions no
    old vector covered. Files come out in sorted order."""
    unions: dict[str, list[int]] = {}
    retired: list[str] = []
    fresh: dict[str, list[int]] = {}
    for f, poss in sorted(new.items()):
        old = set(old_of(f))
        union = old | poss
        if len(union) == len(old):
            continue
        fresh[f] = sorted(poss - old)
        n_rows = rows_of(f)
        if n_rows is not None and len(union) == int(n_rows):
            retired.append(f)
        else:
            unions[f] = sorted(union)
    return VectorUnion(unions, retired, fresh)
