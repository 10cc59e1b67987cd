"""Crash-safe staging of the fixture tables that queries build once
under /tmp and then reuse (Delta, Iceberg and Hudi tables, replay
dirs, format copies).

``staged(spark, table, build)`` is the only protocol. A finished
table holds a ``_READY`` marker, and the warm path is one ``exists``
check with no lock. A cold caller takes an exclusive ``flock`` on the
sibling file ``<table>.lock``, re-checks the marker, wipes whatever a
dead builder left, runs ``build(spark, table)`` and writes the marker.

* The kernel drops the lock of a process that dies, so a crashed
  build never wedges later callers: the next one gets the lock, finds
  no marker and rebuilds from an empty directory. No liveness signal
  or timeout is involved.
* The lock file sits beside the table, not in it, because several
  builds write with Spark ``mode("overwrite")``, which deletes the
  table directory (and with it any lock inside).
* The lock file is never unlinked while held: a second process could
  then lock a fresh inode and build at the same time.
"""

from __future__ import annotations

import fcntl
import os
import re
import shutil
from typing import Callable

from pyspark.sql import SparkSession

READY = "_READY"


def staged(
    spark: SparkSession, table: str, build: Callable[[SparkSession, str], None]
) -> str:
    """Return ``table`` after making sure ``build`` has filled it once.
    ``build`` gets a path that does not exist yet. If it raises, the
    table is removed and the error propagates; the next call rebuilds."""
    ready = os.path.join(table, READY)
    if os.path.exists(ready):
        return table
    with open(f"{table}.lock", "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(ready):
            return table
        shutil.rmtree(table, ignore_errors=True)
        try:
            build(spark, table)
            os.makedirs(table, exist_ok=True)
            open(ready, "w").close()
        except BaseException:
            shutil.rmtree(table, ignore_errors=True)
            raise
        _sweep_superseded_staging(table)
    return table


def _sweep_superseded_staging(table: str) -> None:
    """Remove the staged tables (and their ``.lock`` siblings) that a
    version bump in the name retired. A staged dir is named
    ``<stem><version>_<key>`` (key = a 12-hex cache hash), so bumping
    ``ssp_iceberg_specevo2_*`` to ``ssp_iceberg_specevo3_*`` would
    otherwise leave every older dir in /tmp. Runs only after a cold
    build. Same-version dirs under other keys (other sf_dirs or
    schemas) and NEWER versions (an old checkout must not delete a
    newer build's cache) are kept."""
    root = os.path.dirname(table) or "/tmp"
    m = re.match(
        r"^(?P<stem>ssp_.*?)(?P<ver>\d*)_[0-9a-f]{12}$", os.path.basename(table)
    )
    if m is None:
        return
    cur = int(m.group("ver") or 0)
    pat = re.compile(
        rf"^{re.escape(m.group('stem'))}(?P<ver>\d*)_[0-9a-f]{{12}}(?:\.lock)?$"
    )
    try:
        names = os.listdir(root)
    except OSError:
        return
    for n in names:
        mm = pat.match(n)
        if mm is None or int(mm.group("ver") or 0) >= cur:
            continue
        full = os.path.join(root, n)
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        else:
            try:
                os.remove(full)
            except OSError:
                pass
