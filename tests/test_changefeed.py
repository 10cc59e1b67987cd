"""The row-change key contract (sources/changefeed.py), pinned once per
table format: on a commit that rewrote rows, every per-commit feed
refuses a missing key, an unknown key and a key that is not unique
among the rewritten rows, with the same messages."""

from __future__ import annotations

import pytest

from sparkstreamingtwitter_presidential_spark.sources import (
    delta,
    delta_dml,
    hudi,
    hudi_mor,
    iceberg,
)

_SCHEMA = "id long, grp string, v double"
# `grp` repeats within the one data file, so it is no key of either side
_ROWS = [(i, "a" if i < 3 else "b", float(i)) for i in range(6)]


def _delta(spark, path, df):
    delta.write_delta(df, path)
    delta_dml.delete_delta(spark, path, "id = 1")
    version = delta.delta_history(path)[0]["version"]
    return lambda keys: delta.delta_row_changes(spark, path, version, keys=keys)


def _iceberg(spark, path, df):
    iceberg.write_iceberg(df, path)
    iceberg.delete_iceberg(spark, path, "id = 1")
    sid = iceberg.current_snapshot_id(path)
    return lambda keys: iceberg.iceberg_row_changes(spark, path, sid, keys=keys)


def _hudi_cow(spark, path, df):
    hudi.write_hudi(df, path, record_key="id")
    up = spark.createDataFrame([(1, "a", 10.0)], _SCHEMA)
    instant = hudi.upsert_hudi(spark, path, up, record_key="id")
    return lambda keys: hudi.hudi_row_changes(spark, path, instant, keys=keys)


def _hudi_mor(spark, path, df):
    hudi.write_hudi(df, path, record_key="id", table_type="MERGE_ON_READ")
    up = spark.createDataFrame([(1, "a", 10.0)], _SCHEMA)
    instant = hudi_mor.upsert_hudi_mor(spark, path, source=up)
    return lambda keys: hudi.hudi_row_changes(spark, path, instant, keys=keys)


_BUILDERS = {
    "delta": _delta,
    "iceberg": _iceberg,
    "hudi_cow": _hudi_cow,
    "hudi_mor": _hudi_mor,
}


@pytest.fixture(scope="module", params=sorted(_BUILDERS))
def rewrite_changes(request, spark, tmp_path_factory):
    """``keys -> row-change frame`` of a rewrite commit, one small
    table per format, built once per module."""
    path = str(tmp_path_factory.mktemp(request.param) / "t")
    df = spark.createDataFrame(_ROWS, _SCHEMA).repartition(1)
    return _BUILDERS[request.param](spark, path, df)


def test_rewrite_commit_refuses_unusable_keys(rewrite_changes):
    with pytest.raises(ValueError, match="primary key"):
        rewrite_changes(None)
    with pytest.raises(ValueError, match="change keys not in table schema"):
        rewrite_changes(["nope"])
    with pytest.raises(ValueError, match="are not unique among the"):
        rewrite_changes(["grp"]).collect()
    # the contract admits a real key
    assert rewrite_changes(["id"]).count() > 0
