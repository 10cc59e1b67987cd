"""load_table's per-session scan-plan memo (r15 optimization): the same
(session, path) pair returns the SAME DataFrame object (no re-listing),
while any rewrite or append to the path changes its mtime key and
misses — so a later load_table always sees the new files, and the memo
only ever holds scan plans for immutable-as-seen paths, never rows.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyspark.sql.functions as F
import pytest

from sparkstreamingtwitter_presidential_spark.io import TABLES, load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def test_scan_plan_memo_hits_per_session(spark):
    a = load_table(spark, SF_DIR, "documents")
    b = load_table(spark, SF_DIR, "documents")
    assert a is b  # plan reuse, not a fresh listing
    # distinct tables get distinct entries
    c = load_table(spark, SF_DIR, "region")
    assert c is not a
    # and the cache is session-scoped state, not module-global
    assert "_ssp_scan_cache" in spark.__dict__


def test_scan_plan_memo_misses_on_rewrite(spark, tmp_path):
    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    load_table(spark, SF_DIR, "region").write.parquet(path)
    one = load_table(spark, sf, "region")
    n_one = one.count()
    # overwrite with MORE rows; the dir mtime/size changes -> cache miss
    shutil.rmtree(path)
    src = load_table(spark, SF_DIR, "region")
    src.unionByName(src).write.parquet(path)
    two = load_table(spark, sf, "region")
    assert two is not one
    assert two.count() == 2 * n_one


def test_scan_plan_memo_caches_plans_not_rows(spark, tmp_path):
    # append a file into the directory AFTER the first action: the memo
    # holds a scan plan, so the next action must see the new file
    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    src = load_table(spark, SF_DIR, "region")
    src.write.parquet(path)
    df = load_table(spark, sf, "region")
    n = df.count()
    src.limit(1).select(*df.columns).write.mode("append").parquet(path)
    assert load_table(spark, sf, "region").count() == n + 1


def test_unknown_table_still_raises(spark):
    with pytest.raises(KeyError):
        load_table(spark, SF_DIR, "nope")
    assert set(TABLES) >= {"events", "documents", "embeddings"}


def test_events_normalization_survives_memo(spark):
    ev = load_table(spark, SF_DIR, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    again = load_table(spark, SF_DIR, "events")
    assert again is ev
    # the normalized plan still computes (watermarkable type end-to-end)
    assert again.select(F.max("ts")).collect()[0][0] is not None


def test_scan_plan_memo_misses_on_in_place_part_rewrite(spark, tmp_path):
    """r16 (VERDICT r15 item 6 / ADVICE): a directory's own mtime does
    NOT change when an existing part file is overwritten in place (no
    entry create/delete/rename), so the freshness key folds in the
    newest child mtime. Overwrite the single part file's bytes (and its
    checksum twin) without touching any directory entry; the next
    load_table must miss and see the new rows."""
    import glob
    import shutil

    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    other = os.path.join(sf, "other")
    src = load_table(spark, SF_DIR, "region")
    src.coalesce(1).write.parquet(path)
    src.unionByName(src).coalesce(1).write.parquet(other)
    one = load_table(spark, sf, "region")
    n_one = one.count()
    entries_before = sorted(os.listdir(path))
    # in-place rewrite: copy the doubled dir's part (and .crc) BYTES
    # over the existing files — same names, same entry count — and
    # stamp each a strictly newer mtime
    for pattern in ("part-*.parquet", ".part-*.crc"):
        [dst] = glob.glob(os.path.join(path, pattern))
        [s] = glob.glob(os.path.join(other, pattern))
        st = os.stat(dst)
        shutil.copyfile(s, dst)
        os.utime(dst, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert sorted(os.listdir(path)) == entries_before  # no entry churn
    two = load_table(spark, sf, "region")
    assert two is not one  # key miss despite unchanged dir entries
    assert two.count() == 2 * n_one


def test_scan_plan_memo_misses_on_mtime_preserving_overwrite(spark, tmp_path):
    """An in-place overwrite that restores every child's mtime (the way
    ``cp -p`` or ``rsync -t`` does) but changes a part file's size must
    still miss: the key folds in the total child size."""
    import glob
    import shutil

    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    other = os.path.join(sf, "other")
    src = load_table(spark, SF_DIR, "region")
    src.coalesce(1).write.parquet(path)
    src.unionByName(src).coalesce(1).write.parquet(other)
    dir_st = os.stat(path)
    [part] = glob.glob(os.path.join(path, "part-*.parquet"))
    part_size = os.path.getsize(part)
    one = load_table(spark, sf, "region")
    n_one = one.count()
    for pattern in ("part-*.parquet", ".part-*.crc"):
        [dst] = glob.glob(os.path.join(path, pattern))
        [s] = glob.glob(os.path.join(other, pattern))
        st = os.stat(dst)
        shutil.copyfile(s, dst)
        os.utime(dst, ns=(st.st_atime_ns, st.st_mtime_ns))  # mtime kept
    assert os.path.getsize(part) != part_size
    # the directory itself is untouched: same mtime, same size
    assert os.stat(path).st_mtime_ns == dir_st.st_mtime_ns
    two = load_table(spark, sf, "region")
    assert two is not one
    assert two.count() == 2 * n_one
