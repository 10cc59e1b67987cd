"""The one partitioned-file scan behind the Delta and Iceberg readers.

Both formats keep partition values in their logs (Delta's
``partitionValues``, Iceberg's manifest tuples), not in the data files.
:func:`scan` reads a ``{partition tuple -> file paths}`` map back under
the table schema, adaptively by tuple count:

* up to ``UNION_MAX_TUPLES`` tuples: one scan per tuple with the values
  injected as typed literals, unioned. Catalyst constant-folds partition
  filters against the literals and prunes whole branches at plan time.
  The union starts with an empty branch typed with the table schema:
  literals analyze non-nullable and union nullability is the OR of its
  branches, so the read schema is the table's at any tuple count.
* above it: ONE scan whose partition values are decoded from each file's
  hive ``/name=value/`` directory, so plan width does not grow with the
  partition count. Taken only when every partition field is nullable
  (the decoded column analyzes nullable), no value is null, and every
  file's segment decodes to exactly its tuple's value — the log is
  authoritative, and a layout that disagrees with it keeps the union.

Unpartitioned input is one plain scan. ``hook`` runs on each raw scan
while ``_metadata`` is reachable: a deletion-vector or delete filter, or
tag columns (which it appends and the output keeps after the table's).
"""

from __future__ import annotations

import re
import urllib.parse
from functools import reduce
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

UNION_MAX_TUPLES = 32

_FILE_SCHEME_RE = re.compile(r"^file:/*")


def _url_decode(col):
    # '+' is literal in hive and URI path encoding; java's URLDecoder
    # would turn it into a space, so it is pre-escaped
    return F.url_decode(F.regexp_replace(col, r"\+", "%2B"))


def _norm_path(p: str) -> str:
    """A file path normalized for (path, position) matching: the file:
    scheme stripped (any slash count) and URI %-encoding undone. Driver-
    side twin of :func:`_norm_path_col` — both sides of a path join must
    agree byte for byte."""
    return urllib.parse.unquote(_FILE_SCHEME_RE.sub("/", p))


def _norm_path_col(col):
    """Column twin of :func:`_norm_path` (for ``_metadata.file_path``
    and the file_path column of position-delete files)."""
    return _url_decode(F.regexp_replace(col, r"^file:/*", "/"))


def _segment(name: str) -> str:
    return f"/{re.escape(name)}=([^/]+)/"


def _layout_agrees(
    groups: dict[tuple, list[str]], names: Sequence[str]
) -> bool:
    """Every file's first ``/name=value/`` segment, hive-unescaped,
    equals its tuple's value (the segment the JVM-side decode reads)."""
    for key, paths in groups.items():
        for p in paths:
            for name, v in zip(names, key):
                m = re.search(_segment(name), p)
                if (
                    v is None
                    or m is None
                    or urllib.parse.unquote(m.group(1)) != str(v)
                ):
                    return False
    return True


def scan(
    spark: SparkSession,
    groups: dict[tuple, list[str]],
    schema: StructType,
    partition: Sequence[str] = (),
    hook: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """The rows of ``groups`` (partition tuple -> file paths; values as
    Python literals, None for null) under ``schema``. ``partition`` names
    the schema fields the tuples hold, in tuple order; every other field
    is read from the files. Output: ``schema``'s fields in order, then
    the columns ``hook`` appended. ``groups`` must not be empty."""
    names = schema.fieldNames()
    data = StructType([f for f in schema.fields if f.name not in partition])

    def read(paths, decoded=None) -> tuple[DataFrame, list[str]]:
        raw = spark.read.schema(data).parquet(*sorted(paths))
        if decoded:
            raw = raw.withColumns(decoded)
        out = hook(raw) if hook is not None else raw
        return out, [c for c in out.columns if c not in raw.columns]

    if not partition or (
        len(groups) > UNION_MAX_TUPLES
        and all(schema[c].nullable for c in partition)
        and _layout_agrees(groups, partition)
    ):
        path = F.col("_metadata.file_path")
        # file_path is a URI: the hive-escaped dir name is URI-encoded
        # on top, so it decodes twice
        df, tags = read(
            [p for paths in groups.values() for p in paths],
            {
                c: _url_decode(
                    _url_decode(F.regexp_extract(path, _segment(c), 1))
                ).cast(schema[c].dataType)
                for c in partition
            },
        )
        return df.select(*names, *tags)

    parts = []
    for key, paths in sorted(
        groups.items(), key=lambda kv: tuple(map(str, kv[0]))
    ):
        df, tags = read(paths)
        df = df.withColumns(
            {
                c: F.lit(v).cast(schema[c].dataType)
                for c, v in zip(partition, key)
            }
        )
        parts.append(df.select(*names, *tags))
    like = parts[0].schema
    empty = spark.createDataFrame(
        [],
        StructType(
            [schema[c] if c in names else like[c] for c in like.fieldNames()]
        ),
    )
    return reduce(DataFrame.unionByName, [empty, *parts])
