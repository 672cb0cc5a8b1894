#!/usr/bin/env python3
"""Dev-only TIMED oracle parity checker for the scale-factor campaigns
(sf0.1 / sf1 artifacts).

Same compare semantics as check.py (columns sorted by name, rows
sorted, exact value equality), plus per-query wall timing, a
per-query DuckDB time budget (oracle replays that exceed it are
recorded as oracle_timeout, not failures), and a JSON artifact dump.

Usage:
  python3 dev/check_timed.py <sfDir> <outDir> <artifact.json> \
      [budget_sec] [query ...]

Each oracle runs in a forked child so a budget overrun is killed
cleanly (DuckDB releases the core the moment the process dies).
This is development tooling only — the shipped Scala library has no
Python dependency.
"""
import sys, os, json, glob, time
import multiprocessing as mp
import queue as queue_mod
import duckdb
import pandas as pd
import numpy as np

sf_dir, out_dir, artifact = sys.argv[1], sys.argv[2], sys.argv[3]
budget = int(sys.argv[4]) if len(sys.argv) > 4 else 1200
only = set(sys.argv[5:])

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def run_oracle(sql, q):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    # heavy replays (dedup_pareto at sf1): raise the memory budget and
    # move spill off the repo dir — the solo-run recipe of
    # `git show 6c9821a:SURVEY.md` §18
    if os.environ.get("GRAFT_DUCK_MEM"):
        con.execute(f"SET memory_limit='{os.environ['GRAFT_DUCK_MEM']}'")
    if os.environ.get("GRAFT_DUCK_TMP"):
        os.makedirs(os.environ["GRAFT_DUCK_TMP"], exist_ok=True)
        con.execute(f"SET temp_directory='{os.environ['GRAFT_DUCK_TMP']}'")
    if os.environ.get("GRAFT_DUCK_THREADS"):
        con.execute(f"SET threads TO {os.environ['GRAFT_DUCK_THREADS']}")
    if os.environ.get("GRAFT_DUCK_NO_ORDER"):
        # result order is irrelevant (compare sorts rows); dropping
        # insertion-order preservation is DuckDB's documented lever for
        # keeping big DISTINCT/join pipelines in budget instead of
        # spilling (the sf1 dedup_pareto replay outgrew this box's disk)
        con.execute("SET preserve_insertion_order=false")
    for f in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(f)[:-8]
        src = f"{f}/*.parquet" if os.path.isdir(f) else f
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    q.put(con.execute(sql).fetchdf())


def compare(got, exp):
    if sorted(got.columns) != sorted(exp.columns):
        return f"cols {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    g, e = canon(got), canon(exp)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == 'f' or ev.dtype.kind == 'f':
            if not np.allclose(gv.fillna(-9e99).astype(float),
                               ev.fillna(-9e99).astype(float), rtol=0, atol=0):
                return f"float mismatch in {c}"
        else:
            if not (gv.astype(str) == ev.astype(str)).all():
                return f"value mismatch in {c}"
    return None


per_query, fails, timeouts = {}, 0, 0
names = sorted(set(oracle) | {os.path.basename(d) for d in glob.glob(f"{out_dir}/*")
                              if os.path.isdir(d)})
for name in names:
    if only and name not in only:
        continue
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        per_query[name] = {"status": "no_spark_output"}
        fails += 1
        print(f"FAIL {name}: no spark output", flush=True)
        continue
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    if name not in oracle:
        per_query[name] = {"status": "rows_only", "rows": len(got)}
        print(f"ROWS {name} ({len(got)} rows)", flush=True)
        continue
    t0 = time.time()
    q = mp.Queue()
    proc = mp.Process(target=run_oracle, args=(oracle[name], q))
    proc.start()
    exp, err = None, None
    deadline = t0 + budget
    while time.time() < deadline:
        try:
            exp = q.get(timeout=min(5, max(0.1, deadline - time.time())))
            break
        # queue.Empty is the poll branch; any OTHER q.get failure
        # (EOFError/unpickling when the child dies mid-write) is a real
        # per-query error — report it truthfully for THIS query instead
        # of mislabeling it "process died" (old bare except) or
        # crashing the whole campaign (a too-narrow except)
        except queue_mod.Empty:
            if not proc.is_alive() and q.empty():
                # the child's feeder thread flushes asynchronously: the
                # process can be dead while its result is still in
                # flight — drain once more before declaring death
                try:
                    exp = q.get(timeout=2)
                    break
                except queue_mod.Empty:
                    err = "oracle process died"
                    break
                except Exception as e:
                    err = f"oracle result error: {e}"
                    break
        except Exception as e:
            err = f"oracle result error: {e}"
            break
    secs = int(time.time() - t0)
    if exp is None and err is None:
        proc.terminate()
        proc.join()
        per_query[name] = {"status": "oracle_timeout", "rows": len(got),
                           "budget_sec": budget}
        timeouts += 1
        print(f"TIMEOUT {name} (> {budget}s)", flush=True)
        continue
    # bounded join: the result is already in hand, but a child whose
    # feeder thread wedges must not hang the whole campaign
    proc.join(timeout=30)
    if proc.is_alive():
        proc.terminate()
        proc.join()
    if err:
        per_query[name] = {"status": "oracle_error", "err": err}
        fails += 1
        print(f"FAIL {name}: {err}", flush=True)
        continue
    diff = compare(got, exp)
    if diff:
        per_query[name] = {"status": "fail", "diff": diff, "oracle_sec": secs}
        fails += 1
        print(f"FAIL {name}: {diff}", flush=True)
    else:
        per_query[name] = {"status": "pass", "rows": len(got), "oracle_sec": secs}
        print(f"PASS {name} ({len(got)} rows, {secs}s)", flush=True)

summary = {
    "sf_dir": sf_dir,
    "oracles": sum(1 for v in per_query.values() if v["status"] != "rows_only"),
    "pass": sum(1 for v in per_query.values() if v["status"] == "pass"),
    "fail": fails,
    "oracle_timeout": sorted(k for k, v in per_query.items()
                             if v["status"] == "oracle_timeout"),
    "rows_only_queries": sorted(k for k, v in per_query.items()
                                if v["status"] == "rows_only"),
    "per_query": per_query,
}
with open(artifact, "w") as f:
    json.dump(summary, f, indent=1, sort_keys=False)
print(f"PASS: {summary['pass']}  FAIL: {fails}  TIMEOUT: {timeouts}")
