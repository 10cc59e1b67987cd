"""Open-loop event generator for the ``collect_store`` workload.

Runs as its own process so its schedule never slows when the engine
does: file ``i`` is due at ``start + i * period``; every event in it is
stamped with that due time (``created_us``), so latency counts the wait
a stall imposes on later events.  The events are the seeded live sample
of the fixture events (``gen.event_samples``).  Each file is written
under a temp name and renamed into place.  On exit it prints one JSON
line with the write time of every file, from which lateness and backlog
are derived.

    python3 perfbench/streamgen.py --dir D --seed S --skip K --files N \
        --rows R --period-ms P --start-us T
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from gen import event_samples, stream_file, write_event_file  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--skip", type=int, required=True, help="events taken by the backlog sample")
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--period-ms", type=float, required=True)
    ap.add_argument("--start-us", type=int, required=True)
    a = ap.parse_args()
    _, live = event_samples(a.seed, a.skip, a.files * a.rows)
    written = []
    for i in range(a.files):
        due_us = a.start_us + int(i * a.period_ms * 1000)
        table = stream_file(live, i, a.rows, due_us)
        wait = due_us / 1e6 - time.time()
        if wait > 0:
            time.sleep(wait)
        write_event_file(os.path.join(a.dir, f"part-{i:05d}.parquet"), table)
        written.append(time.time())
    print(json.dumps({"written_s": written}))


if __name__ == "__main__":
    main()
