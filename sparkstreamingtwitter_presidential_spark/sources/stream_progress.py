"""Stream admission and durable high-water marks for the Python
DataSource stream readers.

The Python DataSource streaming protocol gives a FRESH reader no
restore signal on a clean restart (last batch committed): Spark calls
``latestOffset()`` first — before ``initialOffset()`` or any
``partitions()`` — so a reader whose admission control counts from an
in-memory zero would return an offset BEHIND the checkpoint, move the
offset log backward, and re-deliver data (duplicates). Persisting the
reader's high-water mark in a caller-supplied ``progress_dir`` (the
query's checkpoint dir is natural) closes the gap: offsets are monotone
across restarts and admission caps stay engaged from the first batch.

The mark is a tiny JSON file written atomically (tmp + rename) on every
commit — one driver-side write per micro-batch, metadata-sized. On a
cluster, ``progress_dir`` is any shared filesystem path, exactly like
checkpointLocation.

Every source that tails a table or directory (``delta_native``,
``iceberg_native``, ``hudi_native``, ``pipetext``) subclasses
``TailReader``, which owns the options, the mark and ``latestOffset``;
``admit`` is the one admission rule they share.
"""

from __future__ import annotations

import datetime
import json
import os
from abc import abstractmethod
from typing import Any, Callable, Iterable

from pyspark.sql.datasource import DataSourceStreamReader


def load_high_water(progress_dir: str | None, name: str, cold: Any = 0) -> Any:
    """The persisted mark, or None when ``progress_dir`` is unset.
    A set-but-empty dir (genuine cold start) loads as ``cold``."""
    if not progress_dir:
        return None
    path = os.path.join(progress_dir, f"{name}-highwater.json")
    try:
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)["v"]
    except (OSError, ValueError, KeyError):
        os.makedirs(progress_dir, exist_ok=True)
        return cold


def save_high_water(progress_dir: str | None, name: str, value: Any) -> None:
    if not progress_dir:
        return
    os.makedirs(progress_dir, exist_ok=True)
    path = os.path.join(progress_dir, f"{name}-highwater.json")
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"v": value}, fh)
    os.replace(tmp, path)  # atomic on POSIX


def admit(
    candidates: Iterable,
    tail: Any,
    max_count: int | None,
    max_bytes: int | None,
    size_of: Callable[[Any], int],
) -> Any:
    """The end clock of the next micro-batch.

    ``candidates`` are the clocks past the mark whose commits deliver
    rows, in clock order; ``tail`` is the source's newest clock. The
    walk stops after ``max_count`` candidates, or before the first one
    that would take the running ``size_of`` total past ``max_bytes``
    (a soft max: the first candidate always admits, so the stream
    progresses). When no cap binds, or there are no candidates, the
    batch runs to ``tail``: commits that deliver nothing never cost a
    trigger of their own."""
    if max_count is None and max_bytes is None:
        return tail
    admitted, total = None, 0
    for n, clock in enumerate(candidates):
        if n == max_count:
            return admitted
        if max_bytes is not None:
            total += size_of(clock)
            if n and total > max_bytes:
                return admitted
        admitted = clock
    return tail


def starting_timestamp_ms(options, clock_option: str) -> int | None:
    """The ``startingTimestamp`` option as epoch millis (a naive value
    is UTC), or None when unset. Refuses it alongside the source's own
    starting-clock option."""
    text = options.get("startingTimestamp")
    if text is None:
        return None
    if options.get(clock_option) is not None:
        raise ValueError(
            f"pass either {clock_option} or startingTimestamp, not both"
        )
    ts = datetime.datetime.fromisoformat(text)
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=datetime.timezone.utc)
    return int(ts.timestamp() * 1000)


class TailReader(DataSourceStreamReader):
    """A stream reader over one monotone commit clock (table versions,
    sequence numbers, instants, file positions). Offsets are
    ``{offset_key: clock}``, "every commit up to clock consumed"; a
    micro-batch covers the commits in ``(start, end]``.

    Subclasses set ``format_name`` (error messages and the mark's file
    name), ``offset_key`` and ``count_option`` (their public
    max-commits-per-trigger option), and implement:

    - ``_start_clock(options)``: the clock just before the first commit
      to deliver;
    - ``_window(floor)``: ``(candidates, tail)`` — the clocks after
      ``floor`` whose commits ``_plan`` does not skip whole, in order
      (any iterable; it is walked once), and the newest clock;
    - ``_size(clock)``: the bytes that commit adds, for
      ``maxBytesPerTrigger`` (the default 0 leaves that cap inert);
    - ``_plan(lo, hi)``: the InputPartitions of the commits in
      ``(lo, hi]``; and ``read``.

    The mark is the highest clock this reader has offered, planned or
    committed. With ``progress_dir`` set it loads at construction (a
    cold start loads the start clock) and saves on every commit, so
    the caps hold from the first batch and across restarts. Without
    it the mark stays unseeded until ``partitions()``/``commit()``,
    and an unseeded ``latestOffset`` returns the uncapped tail: one
    catch-up batch, never a regression."""

    format_name: str
    offset_key: str
    count_option: str

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError(f"{self.format_name}: .load(path) is required")
        self.max_count = int(options.get(self.count_option, "0")) or None
        self.max_bytes = int(options.get("maxBytesPerTrigger", "0")) or None
        self.progress_dir = options.get("progress_dir")
        self.start = self._start_clock(options)
        self._mark = load_high_water(
            self.progress_dir, self.format_name, self.start
        )

    @abstractmethod
    def _start_clock(self, options) -> Any: ...

    @abstractmethod
    def _window(self, floor) -> tuple[Iterable, Any]: ...

    def _size(self, clock) -> int:
        return 0

    @abstractmethod
    def _plan(self, lo, hi) -> list: ...

    def _raise_mark(self, clock) -> Any:
        if self._mark is None or clock > self._mark:
            self._mark = clock
        return self._mark

    def initialOffset(self) -> dict:
        # the stream's logical beginning, NOT the mark: Spark calls
        # latestOffset() before initialOffset() even on a cold start,
        # so the mark may already be past the backlog
        return {self.offset_key: self.start}

    def latestOffset(self) -> dict:
        if self._mark is None:
            _, end = self._window(self.start)
        else:
            candidates, tail = self._window(max(self._mark, self.start))
            end = admit(
                candidates, tail, self.max_count, self.max_bytes, self._size
            )
        return {self.offset_key: self._raise_mark(max(end, self.start))}

    def partitions(self, start: dict, end: dict) -> list:
        # a replayed batch proves the offset log already reached end
        self._raise_mark(end[self.offset_key])
        return self._plan(start[self.offset_key], end[self.offset_key])

    def commit(self, end: dict) -> None:
        save_high_water(
            self.progress_dir,
            self.format_name,
            self._raise_mark(end[self.offset_key]),
        )
