"""Open-loop live publisher, run as its own single-threaded process.

Moves pre-rendered JSON-lines files from a staging directory into the
directory the stream watches, one file every ``period`` seconds from the
wall-clock time ``t0``, by atomic rename.  The schedule never waits on the
consumer.  On exit it writes, as JSON, each file's due and actual publish
time, so the benchmark can compute freshness and how late this process ran.

    python3 perfbench/publisher.py STAGING TARGET T0 PERIOD LOG
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(staging: str, target: str, t0: float, period: float, log: str) -> None:
    names = sorted(os.listdir(staging))
    published = []
    for j, name in enumerate(names):
        due = t0 + j * period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        src = os.path.join(staging, name)
        now = time.time()
        os.utime(src, (now, now))
        os.rename(src, os.path.join(target, name))
        published.append({"name": name, "due": due, "at": time.time()})
    with open(log + ".tmp", "w") as fh:
        json.dump(published, fh)
    os.rename(log + ".tmp", log)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], float(sys.argv[3]), float(sys.argv[4]), sys.argv[5])
