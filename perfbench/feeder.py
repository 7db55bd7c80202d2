"""Open-loop load generator: lands pre-generated files on a fixed schedule.

Run as its own process: ``python3 feeder.py PLAN LOG``. ``PLAN`` is a JSON
object ``{"t0": <epoch s>, "items": [[staged, dest, due_offset_s], ...]}``.
For each item, in order, the feeder sleeps until ``t0 + due_offset_s``, sets
the staged file's mtime to the landing time (the file source orders new files
by mtime) and renames it to ``dest``. It never reads or writes file contents.
``LOG`` receives ``{"due": [...], "landed": [...]}`` in epoch seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time


def feed(plan: dict) -> dict:
    t0 = plan["t0"]
    due, landed = [], []
    for staged, dest, offset in plan["items"]:
        at = t0 + offset
        wait = at - time.time()
        if wait > 0:
            time.sleep(wait)
        now = time.time()
        os.utime(staged, (now, now))
        os.rename(staged, dest)
        due.append(at)
        landed.append(now)
    return {"due": due, "landed": landed}


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[1]) as fh:
        plan = json.load(fh)
    log = feed(plan)
    with open(argv[2] + ".tmp", "w") as fh:
        json.dump(log, fh)
    os.rename(argv[2] + ".tmp", argv[2])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
