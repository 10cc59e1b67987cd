"""Filesystem primitives shared by the table-format connectors."""

from __future__ import annotations

import os


def put_if_absent(path: str, data: str | bytes) -> bool:
    """Create ``path`` holding ``data`` unless it already exists, as one
    atomic ``O_CREAT | O_EXCL`` claim: of two writers racing for the
    same name exactly one wins. Returns False, writing nothing, when
    the file already exists. This is the commit point of Delta log
    entries, Iceberg metadata versions, Hudi instants and Hudi log
    files."""
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    with os.fdopen(fd, "wb") as fh:
        fh.write(data.encode() if isinstance(data, str) else data)
    return True
