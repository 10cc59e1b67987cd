"""Each shared refusal is written once under ``sources/``: the row-level
DML contract (row_dml.py), the row-change key contract (changefeed.py)
and the Hudi row-change commit resolution (hudi._change_commit). A copy
of one of these messages in a format module means a contract was
restated instead of called. The partitioned-file scan's two rules — the
hive path decode and the literal-union ceiling — live in
partition_scan.py the same way. Reads the modules as text; no JVM."""

from __future__ import annotations

import pathlib
import re

import pytest

_SOURCES = (
    pathlib.Path(__file__).resolve().parents[1]
    / "sparkstreamingtwitter_presidential_spark"
    / "sources"
)

_ONCE = {
    # row_dml.py
    "duplicate merge keys": "row_dml.py",
    "when_matched must be": "row_dml.py",
    "merge keys not in table": "row_dml.py",
    "unknown column(s) in SET": "row_dml.py",
    "cannot UPDATE partition column": "row_dml.py",
    "matched more than": "row_dml.py",
    # changefeed.py
    "needs a primary key": "changefeed.py",
    "change keys not in table schema": "changefeed.py",
    "are not unique among the": "changefeed.py",
    # hudi.py
    "is an overwrite — its pre-image": "hudi.py",
}


@pytest.fixture(scope="module")
def sources() -> dict[str, str]:
    return {p.name: p.read_text() for p in sorted(_SOURCES.glob("*.py"))}


@pytest.mark.parametrize("message", sorted(_ONCE))
def test_message_written_once(sources, message):
    hits = {n: t.count(message) for n, t in sources.items() if message in t}
    assert hits == {_ONCE[message]: 1}


_ONCE_CODE = {
    # the hive path decode pre-escapes '+' before url_decode
    "hive path decode": (r'"%2B"', "partition_scan.py"),
    # the 32-tuple ceiling, as a constant or an inline comparison
    "union ceiling": (r"(?<![<>=])(?:[<>]=?|==?)\s*32\b", "partition_scan.py"),
}


@pytest.mark.parametrize("rule", sorted(_ONCE_CODE))
def test_scan_rule_written_once(sources, rule):
    pattern, home = _ONCE_CODE[rule]
    hits = {
        n: len(re.findall(pattern, t))
        for n, t in sources.items()
        if re.search(pattern, t)
    }
    assert hits == {home: 1}
