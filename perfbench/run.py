#!/usr/bin/env python3
"""graft benchmark: two seeded workloads, each in a fresh JVM.

    python3 perfbench/run.py --workload cdc|analytics \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles graft and the
benchmark (see build.py); later runs reuse the classes. Each run works
in its own directory under perfbench/.runs, which is removed at the
end, and leaves one artifact in perfbench/results. The last line of
standard output is a JSON object with `correct`, `attempted`, `failed`
and `metrics`: with --trace 0 the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (a layer the workload does not
exercise reports 0). The exit code is 0 only if every oracle check
passed.

Workloads (load comes from one process: Spark local[<=4], one generator
thread, at most one reader thread):

- cdc: dumpr's contract end to end. A generated two-table snapshot plus
  a binlog backlog (multi-event transactions, rollbacks, rotates,
  deletes, PK-changing updates, a filtered table, ALTER versions) goes
  through graft's batch chain into a published UpsertSink view and a
  resume token. That view then goes live: a MemoryStream of
  transactions with Zipf keys through ChangelogStream.filterCommitted
  into UpsertSink.mergeBatch, offered at a fixed rate (open loop) beside
  one closed-loop reader. The bulk load and the final live view are
  checked against a plain-Scala into-entity-map fold.
- analytics: a seed-permuted roster of SparkEntry.queries keys over
  seeded tables, each result checked against DuckDB's replay of
  SparkEntry.oracleSql on the same tables.

End-to-end metrics, per workload:
- setup_s: session start plus the median of three data set-ups
  (cdc: generate and write the inputs; analytics: generate the tables).
  The one-time build and the warm-up pass are reported in the artifact.
- pass_s: median wall time of the workload's unit of work (cdc: one bulk
  load into a published view; analytics: one roster pass).
- visible_lag_ms_p50/p90: from when an input was due to when the output
  holding it became visible (cdc: an open-loop event's creation to the
  publish of the view version that holds it; analytics: a roster query's
  submission to its written result).
- peak_rss_mb: peak resident memory of the run's JVM.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

DEADLINE_S = 170.0
HEAP = "2g"
# C1 only: on a 4-core host, C2 compiler threads compete with Spark's task
# threads for most of a short run, which left the same timed bulk load
# anywhere between 7.3 and 9.0 s; with C1 it is steady and no slower.
JIT = ["-XX:TieredStopAtLevel=1"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
WARM_SEED_OFFSET = 1000003
# analytics tables at 0.3x the row counts of the sf0.01 test data
TABLE_SCALE = 0.3


def jvm(classes, run_dir, main, args, log_path, timeout):
    """Run one JVM from the built classpath; returns (exit code, peak RSS MB)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", "-XX:ReservedCodeCacheSize=512m"] + JIT + [
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), main] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                start_new_session=True)
    timer = threading.Timer(max(5.0, timeout), os.killpg, (proc.pid, signal.SIGKILL))
    timer.start()
    try:
        # wait4 gives this child's own peak RSS, not the largest child's so far
        _, status, usage = os.wait4(proc.pid, 0)
    finally:
        timer.cancel()
    proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024.0


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def duck_check(run_dir, tables, out_dirs):
    """Replay each roster key's oracle SQL in DuckDB over the run's tables
    and compare with every pass's Spark result. Returns (checks, failures)."""
    import duckdb
    import numpy as np
    import pandas as pd

    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                 "temp_directory": os.path.join(run_dir, "duck-tmp")})
    for name in sorted(os.listdir(tables)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{os.path.join(tables, name)}'")

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    checks, failures, secs = 0, [], {}
    for key, sql in sorted(oracle.items()):
        t0 = time.time()
        try:
            exp = canon(con.execute(sql).fetchdf()) if sql else None
        except Exception as e:  # an oracle that cannot run fails every pass
            exp, err = None, f"{key}: oracle error {e}"
        else:
            err = f"{key}: no oracle SQL" if not sql else None
        for out in out_dirs:
            checks += 1
            if err:
                failures.append(err)
                continue
            files = sorted(f for f in os.listdir(os.path.join(out, key)) if f.endswith(".parquet")) \
                if os.path.isdir(os.path.join(out, key)) else []
            if not files:
                failures.append(f"{key}: no Spark output in {os.path.basename(out)}")
                continue
            got = pd.concat([pd.read_parquet(os.path.join(out, key, f)) for f in files], ignore_index=True)
            if sorted(got.columns) != sorted(exp.columns) or len(got) != len(exp):
                failures.append(f"{key}: shape {sorted(got.columns)}x{len(got)} vs "
                                f"{sorted(exp.columns)}x{len(exp)}")
                continue
            g = canon(got)
            for c in g.columns:
                gv, ev = g[c], exp[c]
                if gv.dtype.kind == "f" or ev.dtype.kind == "f":
                    same = np.array_equal(gv.fillna(-9e99).astype(float).values,
                                          ev.fillna(-9e99).astype(float).values)
                else:
                    same = bool((gv.astype(str) == ev.astype(str)).all())
                if not same:
                    failures.append(f"{key}: column {c} differs from DuckDB in {os.path.basename(out)}")
                    break
        secs[key] = time.time() - t0
    con.close()
    return checks, failures, secs


def selftest():
    import filecmp
    import tempfile
    import gen_tables

    classes, _ = build.build()
    ok = True
    work = os.path.join(HERE, ".runs", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        a, b, c = (tempfile.mkdtemp(dir=work) for _ in range(3))
        gen_tables.generate(a, 3, scale=0.2)
        gen_tables.generate(b, 3, scale=0.2)
        gen_tables.generate(c, 4, scale=0.2)
        names = sorted(os.listdir(a))
        same = all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)
        other = any(not filecmp.cmp(os.path.join(a, n), os.path.join(c, n), shallow=False)
                    for n in names if n not in ("nation.parquet", "region.parquet"))
        for name, cond in [("tables: same seed gives byte-identical parquet", same),
                           ("tables: another seed gives other data", other)]:
            print(("PASS " if cond else "FAIL ") + name)
            ok &= cond
        code, _ = jvm(classes, work, "perfbench.SelfTest", [], os.path.join(work, "selftest.log"), 600)
        with open(os.path.join(work, "selftest.log"), errors="replace") as f:
            print("".join(l for l in f if l.startswith(("PASS", "FAIL", "selftest"))), end="")
        ok &= code == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if a.workload not in ("cdc", "analytics"):
        print(f"unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    t_start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classes, build_s = build.build()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(HERE, ".runs", run_id)
    results = os.path.join(HERE, "results")
    os.makedirs(run_dir)
    os.makedirs(results, exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        args = ["--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--run-dir", run_dir, "--run-id", run_id,
                "--out", os.path.join(run_dir, "result.json"),
                "--artifact", os.path.join(results, f"{a.workload}-seed{a.seed}-spans.json")]
        gen_s = []
        if a.workload == "analytics":
            import gen_tables
            tables, warm = os.path.join(run_dir, "tables"), os.path.join(run_dir, "warm-tables")
            for _ in range(3):
                t0 = time.time()
                gen_tables.generate(tables, a.seed, TABLE_SCALE)
                gen_s.append(time.time() - t0)
            gen_tables.generate(warm, a.seed + WARM_SEED_OFFSET, TABLE_SCALE)
            args += ["--tables", tables, "--warm-tables", warm]
        remaining = DEADLINE_S - (time.time() - t_start)
        t_jvm = time.time()
        code, rss = jvm(classes, run_dir, "perfbench.Main", [a.workload] + args, log_path, remaining)
        jvm_s = time.time() - t_jvm
        try:
            with open(os.path.join(run_dir, "result.json")) as f:
                res = json.load(f)
        except (OSError, ValueError):
            sys.stderr.write(tail(log_path))
            print(f"JVM exited with {code} and wrote no result", file=sys.stderr)
            return 1
        if code != 0:
            res["failures"].append(f"JVM exit code {code}")
        e2e, layers, extra = res["e2e"], res["layers"], res["extra"]
        attempted, failures = res["attempted"], list(res["failures"])
        if a.workload == "analytics":
            e2e["setup_s"] = statistics.median(gen_s) + extra["session_start_s"]
            checks, bad, extra["oracle_check_s"] = duck_check(run_dir, tables, extra.get("passes_out", []))
            attempted += checks
            failures += bad
        e2e["peak_rss_mb"] = rss
        values = e2e if not a.trace else layers
        metrics = {}
        for m in wanted:
            v = values.get(m["name"])
            if v is None and a.trace:
                v = 0.0  # the layer does no work in this workload
            if v is None:
                failures.append(f"metric {m['name']} was not measured")
                continue
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        failed = len(failures)
        attempted = max(attempted, failed, 1)
        extra["op_fail_ratio"] = failed / attempted
        extra["build_s"] = build_s
        extra["jvm_wall_s"] = jvm_s
        extra["run_wall_s"] = time.time() - t_start
        artifact = dict(res, failures=failures, attempted=attempted, failed=failed,
                        e2e=e2e, layers=layers, extra=extra, run_id=run_id)
        with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        for msg in failures[:20]:
            print(f"FAIL {msg}", file=sys.stderr)
        if failures and code != 0:
            sys.stderr.write(tail(log_path))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
