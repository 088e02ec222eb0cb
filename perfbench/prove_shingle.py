#!/usr/bin/env python3
"""Show that the shingle-join form of the six all-pairs dedup rows
equals the repo's own DuckDB oracles (SparkEntry.oracleSql), which are
too slow to run at sf0.1 but finish at sf0.01.

    python3 perfbench/prove_shingle.py [sfDir]     (default: <testdata>/sf0.01)

Builds the harness on first use (for the oracle texts), then compares
the two results per row in scripts/check.py's canonical form. Exits 1
on any difference.
"""
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(run.DATA, "sf0.01")
    dump = run.oracle_dump(run.build())
    con = checks.connect()
    checks.attach_tables(con, sf_dir)
    bad = 0
    for row in checks.SHINGLE_ROWS:
        t0 = time.monotonic()
        con.execute(f"CREATE OR REPLACE TEMP TABLE repo AS {dump['oracles'][row]}")
        t1 = time.monotonic()
        if row in checks.CLOSURE_SQL:
            checks.closure(con, dump["constants"])
            sql = checks.CLOSURE_SQL[row]
        else:
            sql = checks.shingle_sql(row, dump["constants"])
        con.execute(f"CREATE OR REPLACE TEMP TABLE shingle AS {sql}")
        t2 = time.monotonic()
        why = checks.compare(con, "shingle", "repo")
        n = con.sql("SELECT count(*) FROM repo").fetchone()[0]
        print(f"{'PASS' if why is None else 'FAIL'} {row}: {n} rows; repo oracle "
              f"{t1 - t0:.1f} s, shingle join {t2 - t1:.1f} s{'' if why is None else '; ' + why}")
        bad += why is not None
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
