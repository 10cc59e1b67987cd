"""Table loading for the fixture tables.

The driver materializes a TPC-H-ish star schema plus stream/LLM tables as
parquet under ``/root/testdata/sf{0.001,0.01,0.1}/`` (TESTDATA.md). This
module is the one place that knows those names, so queries never hardcode
paths.

Scan-path policy (the 100 TB part): always ``spark.read.parquet`` with no
schema inference — Catalyst then gets vectorized columnar reads, column
pruning into ``ReadSchema`` and predicate pushdown into ``PushedFilters``
for free. SQL queries that register a scan as a temp view still prune
and push down through it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at ANY scale factor (their
# cardinality is fixed or near-fixed in TPC-H-like schemas).
BROADCASTABLE = {"region", "nation", "supplier"}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def scan_cache_key(path: str) -> tuple | None:
    """Freshness key for the per-session scan-plan memo.

    For a plain file: (path, mtime_ns, size). For a *directory* table the
    directory's own stat is not enough — its mtime changes on entry
    create/delete/rename but NOT on an in-place overwrite of an existing
    part file — so the key additionally folds in the entry count, the
    newest child mtime and the total child size (one extra listdir;
    children are stat'd non-recursively, which covers parquet dirs whose
    data files are direct children — every fixture layout here). Any
    rewrite, append, or in-place part-file overwrite therefore misses,
    including one that preserves mtimes (``cp -p``, ``rsync -t``) but
    changes a size. Remaining gap: an overwrite that keeps every child's
    mtime AND size still hits the stale memo. Returns None (uncacheable)
    when the path is not statable — the plain read then raises its own
    error.
    """
    try:
        st = os.stat(path)
    except OSError:
        return None
    key: tuple = (path, st.st_mtime_ns, st.st_size)
    if os.path.isdir(path):
        try:
            with os.scandir(path) as it:
                n = newest = total = 0
                for entry in it:
                    n += 1
                    try:
                        est = entry.stat()
                    except OSError:
                        return None
                    newest = max(newest, est.st_mtime_ns)
                    total += est.st_size
            key = key + (n, newest, total)
        except OSError:
            return None
    return key


# Backwards-compatible alias for the original private name.
_scan_cache_key = scan_cache_key


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan of one fixture table.

    The built scan PLAN is memoized per session (guide §5: metadata the
    driver already holds should not be recomputed per call): every
    ``spark.read.parquet`` re-lists the path and re-reads the footer
    schema driver-side (~50-90 ms here), and the engine's queries call
    this for the same immutable fixture 1-4 times per invocation. The
    memo holds only the unresolved DataFrame (file listing + schema —
    never rows; every action still scans parquet), lives on the session
    object so it dies with the session, and keys on (path, mtime_ns,
    size) — plus entry count, newest child mtime and total child size
    for directory tables — so a rewritten table misses. This is the
    same session-scoped metadata-cache policy as
    hudi._archive_metas_cached and Spark's own temp-view catalog.

    The ``events`` fixture's ``ts`` has shipped in two physical shapes,
    and this is the ONE place that normalizes both to a session-tz
    TIMESTAMP so every downstream ``unix_micros``/``cast``/watermark
    works unchanged:

    * parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it
      (PARQUET_TYPE_ILLEGAL), so we flip the legacy nanos-as-long switch
      and rebuild with integer ns->us division (``div``, not ``/`` —
      double math loses precision above 2^53 ns). Lossless: the fixture
      carries no sub-microsecond precision.
    * parquet ``timestamp[us]`` with no timezone flag: Spark 4.x infers
      TIMESTAMP_NTZ, which event-time watermarks and ``unix_micros``
      reject. Session tz is pinned UTC engine-wide (session.py), so
      NTZ -> TIMESTAMP is an instant-preserving relabel, and
      ``spark.sql.parquet.inferTimestampNTZ.enabled=false`` (set in
      session.get_spark and __spark_entry__._utc) prevents the inference
      at the scan; the cast branch below is defense for sessions built
      outside our factory.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = table_path(sf_dir, name)
    key = scan_cache_key(path)
    cache: dict = spark.__dict__.setdefault("_ssp_scan_cache", {})
    if key is not None and key in cache:
        return cache[key]
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    if key is not None:
        cache[key] = df
    return df

