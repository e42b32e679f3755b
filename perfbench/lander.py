"""Open-loop load generator for the replay workload.

Run as its own process: ``python3 lander.py PLAN.json``.  The plan lists
``[staged_path, final_path, due_epoch_s]`` triples.  Each file is landed at
its due time whatever the engine is doing: its mtime is set to the due time
(the file source orders by mtime) and it is atomically renamed into the
source directory.  The actual landing times are written to the plan's
``out`` path.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(plan_path: str) -> None:
    with open(plan_path) as f:
        plan = json.load(f)
    landed = []
    for staged, final, due in plan["files"]:
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.utime(staged, (due, due))
        os.rename(staged, final)
        landed.append(time.time())
    with open(plan["out"], "w") as f:
        json.dump(landed, f)


if __name__ == "__main__":
    main(sys.argv[1])
