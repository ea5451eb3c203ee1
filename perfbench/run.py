#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one fresh JVM.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Steps: build the library and the harness (`perfbench/build.sbt`) when
their sources changed; generate the seeded input tables; run the
workload in a fresh JVM at local[N] (N = min(4, cores)) with one
closed-loop client for about `--seconds` seconds of timed passes; check
every op's output; remove every per-run file and verify the work area's
disk use is back to what it was; print the metrics, the last line being
one JSON object.  With `--trace 0` the metrics are the end-to-end ones,
with `--trace 1` the per-layer ones.  See perfbench/README.md.

Exit code 0 only when every op ran and every output checked out.
"""
import argparse
import datetime
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

# per workload: the tables it reads (None: all), their scale factor, the
# documents count when not scale-sized, and its nominal pass length in
# seconds on the reference host (4 vCPUs). A run times
# max(3, seconds // nominal) passes, so every run of a workload measures
# the same work however fast the host happens to be; the median of three
# or more passes also leaves out the first, which runs 10-30% slower
# while the JIT is still at work.
WORKLOADS = {
    "reference_surface": (None, 0.1, None, 8.0),
    "curation": (["documents"], 0.1, 1000, 6.5),
}
# a seed selects one of this many input variants, each with pinned
# expected outputs under perfbench/expected/
VARIANTS = 16
SETUP_REPS = 3
JVM_TIMEOUT_S = 160
EXPECTED_DIR = os.path.join(HERE, "expected")
# x8 is the one op of these workloads without a DuckDB oracle (a MinHash
# LSH estimate); its rows are pinned per variant and checked structurally
NO_ORACLE_MIN_EST = 0.9


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_bytes(path):
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        for f in filenames:
            p = os.path.join(dirpath, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


# ---- build ---------------------------------------------------------------

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark install found: set SPARK_HOME")
    return home


def source_fingerprint():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env):
    """Compiles when the sources changed; returns the classes dir."""
    classes = os.path.join(STATE, "target", "scala-2.13", "classes")
    stamp = os.path.join(STATE, "target", "build.stamp")
    fp = source_fingerprint()
    if os.path.isdir(classes) and os.path.exists(stamp) and \
            open(stamp).read() == fp:
        return classes
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "compile"], cwd=HERE, env=env, stdout=out,
                            stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (sbt exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(fp)
    return classes


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(classes, spark, work, args, env):
    cp = os.pathsep.join([classes, os.path.join(spark, "jars", "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(log).read()[-6000:])
        raise RuntimeError(f"benchmark JVM failed ({rc})")


# ---- output check ----------------------------------------------------------

def render(v):
    """Canonical, type-sensitive cell rendering (scripts/oracle_check.py)."""
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{render(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    return str(v)


def table_hash(tbl):
    """Hash of a result: columns sorted by name, rows in result order."""
    tbl = tbl.select(sorted(tbl.column_names))
    h = hashlib.sha256(",".join(tbl.column_names).encode())
    cols = [c.to_pylist() for c in tbl.columns]
    for row in zip(*cols):
        h.update(("|".join(render(v) for v in row) + "\n").encode())
    return f"{tbl.num_rows}:{h.hexdigest()[:24]}"


def sql_sha(sql):
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


class Oracle:
    """DuckDB over the generated single-file tables."""

    def __init__(self, data, cores):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.con.execute(f"SET threads={cores}")
        for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
            t = os.path.basename(f)[:-len(".parquet")]
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{f}')")

    def hash(self, sql):
        return table_hash(self.con.execute(sql).arrow())


def chunk_index(texts):
    """The 4 KiB chunked index's (chunks, tuples), InspectorCli semantics."""
    chunks, size = 1, 0
    for v in texts:
        if size >= 4096:
            chunks, size = chunks + 1, 0
        size += len(str(len(v))) + len(v)
    return chunks, len(texts)


def check_x8(tbl, docs):
    """Structural check of the MinHash LSH pairs: every pair is within
    one source, its estimate clears the threshold, and every pair of
    same-source documents with identical token sets is reported."""
    cols = tbl.column_names
    ids = [c for c in cols if c not in ("est", "est_sim", "source")]
    if len(ids) < 2:
        return f"unexpected columns {cols}"
    est_col = next((c for c in cols if c.startswith("est")), None)
    got = set(zip(tbl.column(ids[0]).to_pylist(),
                  tbl.column(ids[1]).to_pylist()))
    if est_col and any(e < NO_ORACLE_MIN_EST - 1e-9
                       for e in tbl.column(est_col).to_pylist()):
        return "pair below the estimate threshold"
    src = dict(zip(docs["doc_id"], docs["source"]))
    if any(src.get(a) != src.get(b) for a, b in got):
        return "pair across sources"
    by_set = {}
    for d, s, t in zip(docs["doc_id"], docs["source"], docs["text"]):
        by_set.setdefault((s, frozenset(t.split())), []).append(d)
    for group in by_set.values():
        for i, a in enumerate(group):
            for b in group[i + 1:]:
                if (min(a, b), max(a, b)) not in got and (a, b) not in got \
                        and (b, a) not in got:
                    return f"identical-set pair ({a}, {b}) missing"
    return None


def check_outputs(res, data, cores, pinned):
    """Returns ({op: problem or None}, {op: pinnable expectation})."""
    import pyarrow.parquet as pq
    rows = {t: pq.ParquetFile(os.path.join(data, f"{t}.parquet"))
            .metadata.num_rows for t in ("lineitem", "documents")
            if os.path.exists(os.path.join(data, f"{t}.parquet"))}
    docs = pq.read_table(os.path.join(data, "documents.parquet")).to_pydict()
    pattern = re.compile(r"\bdup\b")
    want_chunks = chunk_index(docs["text"])
    want_matched = sum(1 for t in docs["text"] if pattern.search(t))
    oracle = None
    problems, expect = {}, {}
    for name, c in sorted(res["checks"].items()):
        p = None
        if c.get("error"):
            p = "raised"
        elif c["kind"] == "query" and "path" in c:
            got = pq.read_table(glob.glob(os.path.join(c["path"],
                                                       "*.parquet")))
            if c.get("oracle_sql"):
                sha = sql_sha(c["oracle_sql"])
                pin = pinned.get(name, {})
                want = pin.get("hash") if pin.get("sql_sha256") == sha \
                    else None
                if want is None:
                    oracle = oracle or Oracle(data, cores)
                    want = oracle.hash(c["oracle_sql"])
                expect[name] = {"sql_sha256": sha, "hash": want}
                h = table_hash(got)
                if h != want:
                    p = f"result hash {h} != oracle {want}"
            else:
                expect[name] = {"rows": got.num_rows}
                p = check_x8(got, docs)
                want = pinned.get(name, {}).get("rows")
                if p is None and want is not None and want != got.num_rows:
                    p = f"rows {got.num_rows} != pinned {want}"
        elif c["kind"] == "query":
            if not (c["values_match"] and c["rows"] == c["source_rows"]):
                p = f"read-back {c}"
        elif c["kind"] == "write":
            if not (c["hash_match"] and c["rows"] == c["source_rows"]):
                p = f"written table differs from its source: {c}"
        elif c["kind"] == "inspect":
            t = c.get("table")
            want_rows = rows[t] if t else c.get("source_rows")
            if "footer_rows" in c and c["footer_rows"] != want_rows:
                p = f"footer rows {c['footer_rows']} != {want_rows}"
            elif c.get("columns_match") is False:
                p = "data-page value totals differ from footer rows"
            elif c.get("covers_pages") is False:
                p = "page chunks do not cover the data pages"
            elif "tuples" in c and (c["chunks"], c["tuples"]) != want_chunks:
                p = f"chunk index {(c['chunks'], c['tuples'])} != {want_chunks}"
            elif "matched" in c and (c["matched"], c["values"]) != \
                    (want_matched, rows[t]):
                p = f"regex pages {(c['matched'], c['values'])} != " \
                    f"{(want_matched, rows[t])}"
        problems[name] = p
    return problems, expect


# ---- metrics ---------------------------------------------------------------

def quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a Beta((n+1)q, (n+1)(1-q))
    weighted mean of all order statistics.  On op latencies, which cluster
    by op, it is far steadier than the single order statistic."""
    s = sorted(xs)
    n = len(s)
    if n == 1:
        return s[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    lbeta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    steps = 32
    weights = []
    for i in range(n):
        xs_i = ((i + (k + 0.5) / steps) / n for k in range(steps))
        weights.append(sum(math.exp((a - 1) * math.log(x) +
                                    (b - 1) * math.log1p(-x) - lbeta)
                           for x in xs_i))
    return sum(w * v for w, v in zip(weights, s)) / sum(weights)


def end_to_end(res, datagen_s):
    passes = res["passes"]
    lat = [o["wall_s"] for p in passes for o in p["ops"]]
    writes = [o for p in passes for o in p["ops"] if o["write_s"] > 0]
    src = sum(o["source_bytes"] for o in writes)
    m = {
        "setup_s": (statistics.median(datagen_s) + res["setup_s_jvm"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "op_p50_s": (quantile(lat, 0.5), "s"),
        "op_p90_s": (quantile(lat, 0.9), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    extra = {}
    if writes:
        extra["write_mb_s"] = (src / 1e6 / sum(o["write_s"] for o in writes),
                               "MB/s")
        extra["stored_bytes_per_input_byte"] = (
            sum(o["write_bytes"] for o in writes) / src, "ratio")
    return m, extra, len(lat)


def min_cores():
    """Spark's local[N]: the host's cores, at most 4."""
    return min(4, os.cpu_count() or 1)


def pin_path(workload, variant):
    return os.path.join(EXPECTED_DIR, workload, f"variant-{variant:02d}.json")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record this seed's expected outputs under "
                         "perfbench/expected/")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("the program's sources (src/main/scala) are missing; run from "
            "the root of a full checkout")
    spec = load_spec()

    env = dict(os.environ)
    # the build resolves only from local caches, never from the network
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    env["SPARK_HOME"] = spark_home()
    cores = min_cores()
    classes = build(env)

    work_root = os.path.join(STATE, "work")
    os.makedirs(work_root, exist_ok=True)
    before = tree_bytes(work_root)
    work = os.path.join(work_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    reports = os.path.join(STATE, "reports")
    os.makedirs(reports, exist_ok=True)
    spans = os.path.join(reports, f"spans-{a.workload}-{a.seed}.jsonl")
    variant = a.seed % VARIANTS
    pin_file = pin_path(a.workload, variant)
    pinned = json.load(open(pin_file)) if os.path.exists(pin_file) else {}
    names, sf, n_doc, nominal_s = WORKLOADS[a.workload]
    passes = max(3, int(a.seconds // nominal_s))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import datagen
        datagen_s = []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            datagen.write(variant, sf, os.path.join(work, f"data{i}"),
                          os.path.join(work, f"mirror{i}"),
                          names or datagen.TABLES, n_doc)
            datagen_s.append(time.perf_counter() - t0)
        data = os.path.join(work, f"data{SETUP_REPS - 1}")
        mirror = os.path.join(work, f"mirror{SETUP_REPS - 1}")
        for i in range(SETUP_REPS - 1):
            shutil.rmtree(os.path.join(work, f"data{i}"))
            shutil.rmtree(os.path.join(work, f"mirror{i}"))
        out = os.path.join(work, "result.json")
        run_jvm(classes, env["SPARK_HOME"], work, [
            "--workload", a.workload, "--data", data, "--mirror", mirror,
            "--work", work,
            "--seed", str(a.seed), "--passes", str(passes),
            "--trace", str(a.trace), "--cores", str(cores), "--out", out,
            "--spans", spans], env)
        res = json.load(open(out))
        shutil.copy(out, os.path.join(
            reports, f"result-{a.workload}-{a.seed}-{a.trace}.json"))
        problems, expect = check_outputs(res, data, cores, pinned)
        input_mb = tree_bytes(data) / 1e6
    finally:
        shutil.rmtree(work, ignore_errors=True)
    after = tree_bytes(work_root)

    if a.pin:
        os.makedirs(os.path.dirname(pin_file), exist_ok=True)
        with open(pin_file, "w") as fh:
            json.dump(expect, fh, indent=1, sort_keys=True)

    # every op execution (check, warm-up, timed, traced) is attempted;
    # each one that raised fails, and so does each wrong output
    wrong = sorted(n for n, p in problems.items()
                   if p and not res["checks"][n].get("error"))
    attempted = res["executions"]
    failed = len(res["failures"]) + len(wrong)
    e2e, extra, samples = end_to_end(res, datagen_s)

    print(f"workload {a.workload}  seed {a.seed}  local[{cores}], one "
          f"closed-loop client, {len(res['passes'])} timed passes of "
          f"{len(res['ops'])} ops, input {input_mb:.1f} MB, heap "
          f"{res['heap_max_mb']:.0f} MB")
    for f in res["failures"]:
        print(f"FAILED {f['op']} ({f['stage']}): {f['exception']} / "
              f"{f['root_cause']}: {f['message'][:160]} at {f['frame']}")
    for n in wrong:
        print(f"WRONG {n}: {problems[n]}")
    shown = dict(e2e)
    shown["error_rate"] = (failed / attempted, "ratio")
    shown.update(extra)
    for name in ("setup_s", "pass_s", "op_p50_s", "op_p90_s", "cpu_s",
                 "peak_rss_mb", "error_rate", "write_mb_s",
                 "stored_bytes_per_input_byte"):
        if name in shown:
            v, unit = shown[name]
            note = f" (n={samples} op samples)" if name.startswith("op_") \
                else ""
            print(f"metric {name} = {v:.6g} {unit}{note}")
        else:
            print(f"metric {name} = n/a (this workload writes nothing)")
    if after != before:
        print(f"DISK work area {before} B before, {after} B after")
        failed += 1

    if a.trace:
        t = res["trace"]
        print(f"trace overhead (traced - untraced pass_s) = "
              f"{t['trace.overhead_s']:.4f} s; max |residue| share of op "
              f"wall = {t['trace.max_residue_share']:.4f} "
              f"({t['_worst_residue_op']}); spans in {spans}")
        for r in t["_nonrepeating"]:
            print(f"NONREPEATING {r['op']} {r['count']}: {r['first']} then "
                  f"{r['second']}")
        metrics = {m["name"]: {"value": t[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
