"""queries.staging.staged: the one crash-safe protocol behind every
staged /tmp fixture. A killed builder's flock is released by the
kernel and the next caller rebuilds at once; a live holder is waited
on; a failed build leaves nothing behind; a partial stage with files
but no marker is rebuilt, never appended to; racing processes build
once; and a cold build sweeps superseded versions."""

from __future__ import annotations

import fcntl
import glob
import os
import subprocess
import sys
import tempfile
import threading
import time

import pytest

from sparkstreamingtwitter_presidential_spark.queries import staging
from sparkstreamingtwitter_presidential_spark.queries.staging import READY, staged
from tests.conftest import REPO_ROOT, SF_DIR, assert_df_matches_oracle

_CHILD_PRELUDE = """
import os, sys, time
from sparkstreamingtwitter_presidential_spark.queries.staging import staged
table = sys.argv[1]
"""


def _child(body: str, *args: str) -> subprocess.Popen:
    env = dict(os.environ, PYTHONPATH=REPO_ROOT)
    return subprocess.Popen(
        [sys.executable, "-c", _CHILD_PRELUDE + body, *args],
        cwd=REPO_ROOT,
        env=env,
    )


def _write(path: str) -> None:
    open(path, "w").close()


def test_killed_builder_is_rebuilt_at_once(tmp_path):
    """(a) A builder SIGKILLed inside build() leaves partial files; the
    kernel drops its lock, so the next caller rebuilds well inside the
    5 s bound and no partial file survives."""
    table = str(tmp_path / "t")
    p = _child(
        """
def build(_spark, t):
    os.makedirs(t)
    open(os.path.join(t, "PARTIAL"), "w").close()
    os.kill(os.getpid(), 9)
staged(None, table, build)
""",
        table,
    )
    assert p.wait(timeout=120) == -9
    assert os.path.exists(os.path.join(table, "PARTIAL"))
    assert not os.path.exists(os.path.join(table, READY))
    built = []

    def build(_s, t):
        built.append(t)
        os.makedirs(t)
        _write(os.path.join(t, "DATA"))

    t0 = time.monotonic()
    assert staged(None, table, build) == table
    assert time.monotonic() - t0 < 5.0
    assert built == [table]
    assert sorted(os.listdir(table)) == ["DATA", READY]


def test_fresh_lock_waits_for_the_live_builder(tmp_path):
    """(b) While another holder keeps the flock, the caller blocks; once
    the holder publishes _READY and releases, the caller returns the
    table without building."""
    table = str(tmp_path / "t")
    built, got = [], []
    with open(f"{table}.lock", "a") as held:
        fcntl.flock(held, fcntl.LOCK_EX)
        waiter = threading.Thread(
            target=lambda: got.append(
                staged(None, table, lambda _s, t: built.append(t))
            )
        )
        waiter.start()
        time.sleep(1.0)
        assert waiter.is_alive() and built == []
        os.makedirs(table)
        _write(os.path.join(table, READY))
    waiter.join(timeout=10)
    assert not waiter.is_alive()
    assert got == [table] and built == []


def test_failed_build_clears_the_claim(tmp_path):
    """(c) The build error propagates, the partial table is removed and
    the lock is free; the next caller builds from scratch."""
    table = str(tmp_path / "t")

    def boom(_s, t):
        os.makedirs(t)
        _write(os.path.join(t, "PARTIAL"))
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        staged(None, table, boom)
    assert not os.path.exists(table)
    with open(f"{table}.lock", "a") as lock:  # nobody still holds it
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)

    def ok(_s, t):
        os.makedirs(t)
        _write(os.path.join(t, "OK"))

    assert staged(None, table, ok) == table
    assert sorted(os.listdir(table)) == ["OK", READY]


def test_partial_pipetext_stage_is_rebuilt_not_appended(
    spark, oracle, tmp_path, monkeypatch
):
    """(d) A pipe-text copy whose writer died after its part files but
    before any marker must be rebuilt. The connector stages with
    mode("append"), so reusing the dir would double every row."""
    from sparkstreamingtwitter_presidential_spark.queries import load_all

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    q = load_all()["io_pipetext_connector_roundtrip"]
    n = q.fn(spark, SF_DIR).count()
    [stage] = [p for p in glob.glob(str(tmp_path / "spark_graft_pipetext_*"))
               if os.path.isdir(p)]
    for marker in ("_SUCCESS", READY):
        os.remove(os.path.join(stage, marker))
    df = q.fn(spark, SF_DIR)
    assert df.count() == n
    assert_df_matches_oracle(df, oracle, q.oracle)


def test_racing_processes_build_once(tmp_path):
    """(e) Two processes released together onto a cold table: one
    builds, the other waits on the flock and reuses the result."""
    table = str(tmp_path / "t")
    go, counter = str(tmp_path / "go"), str(tmp_path / "builds")
    body = """
go, counter, me = sys.argv[2:5]
open(me, "w").close()
while not os.path.exists(go):
    time.sleep(0.01)
def build(_spark, t):
    with open(counter, "a") as fh:
        fh.write("built\\n")
    time.sleep(1.0)
    os.makedirs(t)
    open(os.path.join(t, "DATA"), "w").close()
staged(None, table, build)
"""
    ready = [str(tmp_path / f"ready{i}") for i in range(2)]
    kids = [_child(body, table, go, counter, r) for r in ready]
    deadline = time.monotonic() + 120
    while not all(os.path.exists(r) for r in ready):
        assert time.monotonic() < deadline, "children never started"
        time.sleep(0.05)
    _write(go)
    assert [k.wait(timeout=120) for k in kids] == [0, 0]
    with open(counter) as fh:
        assert fh.read().splitlines() == ["built"]
    assert sorted(os.listdir(table)) == ["DATA", READY]


def test_sweep_superseded_staging_versions(tmp_path):
    """A version bump in a staging family's name (specevo2 -> specevo3)
    retires every LOWER-version sibling and its .lock file, while
    keeping same-version dirs under other keys (other sf_dirs), NEWER
    versions (an old checkout must not delete a newer build's cache),
    and other families."""
    root = tmp_path
    cur = root / "ssp_iceberg_specevo3_0123456789ab"
    keep = [
        cur,
        root / "ssp_iceberg_specevo3_ba9876543210",  # same ver, other key
        root / "ssp_iceberg_specevo4_0123456789ab",  # newer version
        root / "ssp_iceberg_events_0123456789ab",  # other family
        root / "unrelated_dir",
    ]
    sweep = [
        root / "ssp_iceberg_specevo2_0123456789ab",
        root / "ssp_iceberg_specevo_0123456789ab",  # unversioned = v0
    ]
    for d in keep + sweep:
        os.makedirs(d)
        _write(os.path.join(d, "x"))
    keep_locks = [root / "ssp_iceberg_specevo3_ba9876543210.lock",
                  root / "ssp_iceberg_specevo4_0123456789ab.lock"]
    sweep_locks = [root / "ssp_iceberg_specevo2_0123456789ab.lock",
                   root / "ssp_iceberg_specevo_0123456789ab.lock"]
    for f in keep_locks + sweep_locks:
        _write(str(f))
    staging._sweep_superseded_staging(str(cur))
    for p in keep + keep_locks:
        assert p.exists(), f"live cache swept: {p.name}"
    for p in sweep + sweep_locks:
        assert not p.exists(), f"superseded staging kept: {p.name}"
    # a malformed / non-engine name never sweeps anything
    staging._sweep_superseded_staging(str(root / "not_a_staging_dir"))
    assert (root / "ssp_iceberg_events_0123456789ab").exists()


def test_cold_build_sweeps_superseded_versions(tmp_path):
    """The sweep runs after a successful cold build, never on the warm
    path."""
    old = tmp_path / "ssp_fam2_0123456789ab"
    os.makedirs(old)
    table = str(tmp_path / "ssp_fam3_0123456789ab")

    def build(_s, t):
        os.makedirs(t)
        _write(os.path.join(t, "DATA"))

    staged(None, table, build)
    assert not old.exists(), "cold build must sweep the older version"
    # warm path: recreate the old dir; a warm call must NOT sweep it
    os.makedirs(old)
    staged(None, table, build)
    assert old.exists(), "warm path must not touch siblings"
