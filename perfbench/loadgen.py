"""Open-loop load generator: one process, one thread.

Loads the pre-rendered stream files into memory, prints ``ready``, reads
the schedule's start time (epoch seconds) from stdin, then writes each
file into the source directory when it is due, whether or not the system
keeps up. A file is written under a hidden name and renamed, so the
file source never lists a partial file. At the end it writes a log of
when each file was due and when it landed.

    python3 perfbench/loadgen.py SPOOL_DIR SCHEDULE_JSON SOURCE_DIR LOG_JSON
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(spool: str, schedule_path: str, src: str, log_path: str) -> None:
    with open(schedule_path) as f:
        schedule = json.load(f)  # [{"name": ..., "due_s": ...}, ...] in due order
    payloads = []
    for entry in schedule:
        with open(os.path.join(spool, entry["name"]), "rb") as f:
            payloads.append(f.read())
    print("ready", flush=True)
    t0 = float(sys.stdin.readline())
    written = []
    for entry, data in zip(schedule, payloads):
        delay = t0 + entry["due_s"] - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(src, "." + entry["name"] + ".tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, os.path.join(src, entry["name"]))
        written.append(time.time())
    with open(log_path, "w") as f:
        json.dump({"t0": t0, "written": written}, f)


if __name__ == "__main__":
    main(*sys.argv[1:5])
