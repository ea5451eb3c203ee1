#!/usr/bin/env python3
"""Pins the DuckDB oracle's result hashes for input variants.

Usage (from the repository root):

    python3 perfbench/pin.py RESULT_JSON [VARIANT ...]

RESULT_JSON is a run's raw result (`.perfbench/reports/result-*.json`),
which names the workload and carries each op's oracle SQL.  For each
variant (default: all) the workload's inputs are generated and every
oracle query is hashed into `perfbench/expected/<workload>/`.  Row
counts already pinned for ops without an oracle are kept.
"""
import json
import os
import shutil
import sys

import run
import datagen


def main():
    res = json.load(open(sys.argv[1]))
    workload = res["workload"]
    variants = [int(v) for v in sys.argv[2:]] or range(run.VARIANTS)
    names, sf, n_doc, _ = run.WORKLOADS[workload]
    sqls = {n: c["oracle_sql"] for n, c in res["checks"].items()
            if c.get("oracle_sql")}
    tmp = os.path.join(run.STATE, "pin-data")
    for v in variants:
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write(v, sf, os.path.join(tmp, "data"),
                      os.path.join(tmp, "mirror"), names or datagen.TABLES,
                      n_doc)
        oracle = run.Oracle(os.path.join(tmp, "data"), run.min_cores())
        path = run.pin_path(workload, v)
        pins = json.load(open(path)) if os.path.exists(path) else {}
        for name, sql in sorted(sqls.items()):
            pins[name] = {"sql_sha256": run.sql_sha(sql),
                          "hash": oracle.hash(sql)}
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
        print(f"{workload} variant {v}: {len(sqls)} oracle hashes pinned",
              flush=True)
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
