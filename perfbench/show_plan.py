#!/usr/bin/env python3
"""Print the physical plan a timed pass executes for one query row (the
noop write, which computes every output column) next to the plan of
`graft.Bench`'s `count()`, which Catalyst may prune.

    python3 perfbench/show_plan.py [row] [scale]   (default: q_bpe_ids_bytes sf0.01)
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

if __name__ == "__main__":
    row = sys.argv[1] if len(sys.argv) > 1 else "q_bpe_ids_bytes"
    sf = sys.argv[2] if len(sys.argv) > 2 else "sf0.01"
    run.java(run.build(), ["plan", "--tables", run.DATA, "--sf", sf, "--row", row,
                           "--work", os.path.join(run.WORK, "plan"), "--cpus", str(run.CPUS)],
             timeout=170, log_name="plan.log")
    with open(os.path.join(run.WORK, "plan.log")) as fh:
        # drop Spark's log lines ("yy/MM/dd HH:mm:ss LEVEL ...")
        print("".join(l for l in fh if not re.match(r"\d\d/\d\d/\d\d |Using Spark", l)), end="")
