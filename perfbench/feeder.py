"""Open-loop feeder for the ``stream_steady`` workload.

Runs as its own single-threaded process so that a slow stream cannot slow
the input schedule.  File ``i`` (in name order) of the staging directory
is due at ``t0 + i * period`` and is moved into the source directory with
one atomic rename as soon as it is due.  The actual rename times are
written as JSON to ``out_json`` when the schedule is done.

Usage: python3 feeder.py STAGING_DIR SOURCE_DIR T0_EPOCH PERIOD_S OUT_JSON
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(staging: str, source: str, t0: float, period: float, out_json: str) -> None:
    names = sorted(os.listdir(staging))
    done = []
    for i, name in enumerate(names):
        due = t0 + i * period
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(staging, name), os.path.join(source, name))
        done.append([name, due, time.time()])
    with open(out_json + ".tmp", "w") as f:
        json.dump(done, f)
    os.replace(out_json + ".tmp", out_json)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], float(sys.argv[3]), float(sys.argv[4]), sys.argv[5])
