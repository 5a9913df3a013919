"""Open-loop feeder for the `stream_trickle` workload.

Runs as its own process with one thread. File i of the source directory
is due at `t0 + i * period`; the feeder sleeps until then, copies the
file under a hidden name into the stream directory and renames it into
place, so the file source never sees a partial file. It does not slow
down when the stream falls behind. When done it writes one JSON line per
file: name, due time and the time the rename finished.

    python3 perfbench/feeder.py SRC DST T0 PERIOD LOG
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def main(src: str, dst: str, t0: float, period: float, log_path: str) -> None:
    log = []
    for i, name in enumerate(sorted(os.listdir(src))):
        due = t0 + i * period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(dst, f".{name}.tmp")
        shutil.copyfile(os.path.join(src, name), tmp)
        os.rename(tmp, os.path.join(dst, name))
        log.append({"name": name, "due": due, "written": time.time()})
    with open(log_path, "w") as f:
        for entry in log:
            f.write(json.dumps(entry) + "\n")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], float(sys.argv[3]), float(sys.argv[4]), sys.argv[5])
