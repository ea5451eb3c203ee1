#!/usr/bin/env python3
"""Dev-only full paired Spark-vs-DuckDB crossing (r12 verdict item 3).

Usage: python3 scripts/cross_time.py <sf_dir> <verify_out_dir> <bench_json>

For every query with BOTH an oracle_sql.json entry and a Spark seconds
entry in <bench_json> (a Bench full-suite artifact), times the DuckDB
oracle in-process (1 cold + median of 5 warm — the BASELINE.md /
duck_time.py protocol), and emits:
  - a markdown table (query, spark_s, duck_s, ratio) sorted by query
  - the aggregate totals and ratio
NEVER run concurrently with the Spark bench (CPU contention inflated
Spark medians ~7x in one measurement — see the verify skill notes).
NOT part of the shipped library.
"""
import json
import statistics
import sys

from duck_time import time_query
from oracle_check import connect


def main():
    sf_dir, out_dir, bench_json = sys.argv[1], sys.argv[2], sys.argv[3]
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    bench = json.load(open(bench_json))["queries"]
    con = connect(sf_dir)
    rows = []
    for name in sorted(oracle):
        if name not in bench or bench[name] < 0:
            continue
        sql = oracle[name]
        try:
            duck = statistics.median(time_query(con, sql))
        except Exception as e:
            print(f"SKIP {name}: duckdb error: {e}", file=sys.stderr)
            continue
        rows.append((name, bench[name], duck))
        print(f"{name}\t{bench[name]:.3f}\t{duck:.3f}", file=sys.stderr)
    # Rows whose DuckDB "oracle" does categorically less work than the
    # Spark op, making the ratio meaningless as an engine comparison
    # (r14 verdict item 6). x107/x108: Spark decodes REAL PNG/WAV bytes
    # per row; the oracle predicts the hashes analytically from the
    # fixture's generator parameters and decodes nothing.
    NOT_COMPARABLE = {
        "x107_image_hash_dedup": "oracle predicts hashes analytically; "
                                 "Spark decodes real PNG bytes",
        "x108_audio_hash_dedup": "oracle predicts hashes analytically; "
                                 "Spark decodes real WAV bytes",
    }
    print("| query | spark_s | duck_s | ratio |")
    print("|---|---|---|---|")
    for name, s, d in rows:
        ratio = s / d if d > 0 else float("inf")
        note = " †" if name in NOT_COMPARABLE else ""
        print(f"| {name} | {s:.2f} | {d:.2f} | {ratio:.2f}x{note} |")
    ts, td = sum(r[1] for r in rows), sum(r[2] for r in rows)
    print(f"| **aggregate ({len(rows)} pairs)** | **{ts:.1f}** | "
          f"**{td:.1f}** | **{ts / td:.2f}x** |")
    print()
    for name, why in sorted(NOT_COMPARABLE.items()):
        if any(r[0] == name for r in rows):
            print(f"† `{name}`: ratio is codec-vs-analytic-formula, not "
                  f"engine-vs-engine — {why}.")
    print(json.dumps({"pairs": len(rows), "spark_total_s": round(ts, 2),
                      "duck_total_s": round(td, 2),
                      "aggregate_ratio": round(ts / td, 3)}))


if __name__ == "__main__":
    main()
