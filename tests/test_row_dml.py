"""The format-independent half of row-level DML
(sources/row_dml.py): the deletion-vector union rule, the budgeted
position collect, and the MERGE and SET contracts. Pure driver-side
logic — no Spark session."""

from __future__ import annotations

import pytest

from sparkstreamingtwitter_presidential_spark.sources.row_dml import (
    check_merge,
    check_set,
    collect_positions,
    union_vectors,
)

OLD = {"a": [1, 2], "b": [], "c": [0, 1, 2]}
ROWS = {"a": 10, "b": 3, "c": 4}


def _union(new):
    return union_vectors(new, OLD.__getitem__, ROWS.get)


def test_file_whose_matches_are_all_deleted_is_skipped():
    vu = _union({"a": {1, 2}})
    assert vu.unions == {} and vu.retired == [] and vu.fresh == {}


def test_union_reaching_the_row_count_retires_the_file():
    vu = _union({"b": {0, 1, 2}, "c": {3}})
    assert vu.retired == ["b", "c"]
    assert vu.unions == {}
    assert vu.fresh == {"b": [0, 1, 2], "c": [3]}


def test_fresh_positions_exclude_the_old_vector():
    vu = _union({"a": {2, 3, 7}})
    assert vu.unions == {"a": [1, 2, 3, 7]}
    assert vu.fresh == {"a": [3, 7]}
    assert vu.retired == []


def test_unknown_row_count_never_retires():
    vu = union_vectors({"x": {0}}, lambda f: [], lambda f: None)
    assert vu.unions == {"x": [0]} and vu.retired == []


def test_files_come_out_sorted():
    vu = _union({"c": {3}, "a": {5}, "b": {0}})
    assert list(vu.fresh) == ["a", "b", "c"]


class _Frame:
    """The select/limit/collect chain collect_positions drives."""

    def __init__(self, rows):
        self.rows = rows

    def select(self, *cols):
        return self

    def limit(self, n):
        return _Frame(self.rows[:n])

    def collect(self):
        return self.rows


def test_collect_positions_groups_by_file():
    got = collect_positions(
        _Frame([("f1", 3), ("f2", 0), ("f1", 5)]), "f", "p", 3, "delete_x"
    )
    assert got == {"f1": {3, 5}, "f2": {0}}


def test_budget_plus_one_refuses_naming_the_copy_on_write_twin():
    rows = [("f", i) for i in range(6)]
    assert len(collect_positions(_Frame(rows), "f", "p", 6, "t")["f"]) == 6
    with pytest.raises(NotImplementedError, match="copy-on-write delete_x"):
        collect_positions(_Frame(rows), "f", "p", 5, "delete_x")


class _Source:
    """Only the column list: the contract refuses before any job."""

    def __init__(self, columns):
        self.columns = columns


def test_merge_contract_refuses_bad_when_matched():
    with pytest.raises(ValueError, match="when_matched must be"):
        check_merge(_Source(["id", "v"]), ["id", "v"], ["id"], "upsert")


def test_merge_contract_refuses_unknown_keys():
    with pytest.raises(ValueError, match="merge keys not in table"):
        check_merge(_Source(["id", "v"]), ["id", "v"], ["nope"], "update")


def test_merge_contract_refuses_mismatched_source_columns():
    with pytest.raises(ValueError, match="source columns"):
        check_merge(_Source(["id"]), ["id", "v"], ["id"], "none")


def test_set_contract_refuses_unknown_and_refused_columns():
    with pytest.raises(ValueError, match="unknown column"):
        check_set({"nope": "1"}, ["id", "v"], [])
    with pytest.raises(ValueError, match="cannot UPDATE partition column"):
        check_set({"part": "0"}, ["id", "part"], ["part"])
    check_set({"v": "v + 1"}, ["id", "v", "part"], ["part"])
