#!/usr/bin/env python3
"""Dev-only DuckDB oracle timing (BASELINE.md protocol: in-process,
sequential, 1 cold + median of 5 warm runs per query).

Usage: python3 scripts/duck_time.py <sf_dir> <verify_out_dir> [names...]

Reads <verify_out_dir>/oracle_sql.json and times the named queries (all
if none given). NOT part of the shipped library.

DUCK_RUNS (default 5) overrides the warm-run count — the Spark side's
SPARK_GRAFT_WARM_RUNS precedent: multi-minute 10x-fixture oracles can't
afford 1+5 passes, and a scale CROSSING needs both sides estimated the
same (cheap) way. DUCK_COLD=0 skips the discarded cold pass too (the
r16 one-shot sf1 protocol: a single measured run per row).
"""
import json
import os
import statistics
import sys
import time

from oracle_check import connect


def time_query(con, sql, n_runs=5, cold=True):
    """Run `sql` once discarded (if `cold`), then `n_runs` timed runs;
    return the list of wall seconds per timed run."""
    if cold:
        con.execute(sql).fetchall()
    runs = []
    for _ in range(n_runs):
        t0 = time.time()
        con.execute(sql).fetchall()
        runs.append(time.time() - t0)
    return runs


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = connect(sf_dir)
    n_runs = int(os.environ.get("DUCK_RUNS", "5"))
    cold = os.environ.get("DUCK_COLD", "1") != "0"
    for name in (names or sorted(oracle)):
        runs = time_query(con, oracle[name], n_runs, cold)
        print(f"{name}: {statistics.median(runs):.2f}s "
              f"(runs {' '.join(f'{r:.2f}' for r in runs)})",
              flush=True)


if __name__ == "__main__":
    main()
