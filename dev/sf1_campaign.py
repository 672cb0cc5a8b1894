#!/usr/bin/env python3
"""Resumable full-surface sf1 oracle campaign (dev tooling only).

Runs every SparkEntry query against the x10 replica (sf1-scale) in
CHUNKED FRESH JVMs (shuffle files outlive clearCache; one JVM per
chunk keeps the disk bounded — `git show 6c9821a:SURVEY.md` §18),
replays each DuckDB oracle with dev/check_timed.py under a per-query
budget, and merges the per-chunk artifacts into one
CORRECTNESS_SF1_r{N}.json via merge_sf1.

Invokes Verify with a DIRECT java -cp (classes + /opt/spark/jars), not
sbt, so a concurrent sbt session can't deadlock the campaign; compile
with sbt first.

Usage:
  python3 dev/sf1_campaign.py <x10dir> <workdir> <out.json> <timings.json> \
      [--budget 1800] [--chunk 10] [--skip k1,k2] [--only k1,k2] [--all]

<timings.json> is the `_timings.json` of a full graft.Verify run (e.g.
the sf0.01 check run's `<outDir>/_timings.json`): it names every key
that run attempted, failed ones included, so its keys are the surface.

dedup_pareto is EXCLUDED by default (its sf1 oracle replay needs a
~105 GB DuckDB memory_limit and a dedicated temp dir — run it solo,
see `git show 6c9821a:SURVEY.md` §18), then merged in from its solo artifact.
"""
import sys, os, json, subprocess

x10, work, out, timings = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
budget, chunk_sz = 1800, 10
DEFAULT_SKIP = {"dedup_pareto"}
user_skip, only, run_all = set(), None, False
args = sys.argv[5:]
while args:
    a = args.pop(0)
    if a == "--budget": budget = int(args.pop(0))
    elif a == "--chunk": chunk_sz = int(args.pop(0))
    elif a == "--skip": user_skip |= set(args.pop(0).split(","))
    elif a == "--only": only = set(args.pop(0).split(","))
    # sf0.1 campaigns: the dedup_pareto replay is light there — clear
    # the DEFAULT sf1 skip and run the genuinely full surface. An
    # explicit --skip is the user's, not the default's: it survives
    # --all regardless of argument order (advisor r17).
    elif a == "--all": run_all = True
    else: raise SystemExit(f"unknown arg {a}")
skip = user_skip | (set() if run_all else DEFAULT_SKIP)

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# GRAFT_SF1_CP lets the campaign run from a classes SNAPSHOT so later
# recompiles can't change code under a multi-hour run
CLASSES = os.environ.get("GRAFT_SF1_CP", "target/scala-2.13/classes")
JAVA = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Xmx48g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-cp", f"{CLASSES}:/opt/spark/jars/*",
]

keys = sorted(json.load(open(timings)).keys())
if only is not None:
    keys = [k for k in keys if k in only]
keys = [k for k in keys if k not in skip]
print(f"[sf1] {len(keys)} keys from {timings}, chunk={chunk_sz}, budget={budget}s")

os.makedirs(work, exist_ok=True)
env = dict(os.environ)
env.setdefault("SPARK_GRAFT_CPUS", "32")
env["GRAFT_VERIFY_GC"] = "1"

artifacts = []
for ci in range(0, len(keys), chunk_sz):
    chunk = keys[ci:ci + chunk_sz]
    tag = f"chunk{ci // chunk_sz:02d}"
    out_dir = f"{work}/{tag}"
    art = f"{work}/{tag}.json"
    artifacts.append(art)
    if os.path.exists(art):
        print(f"[sf1] {tag} already done, skipping")
        continue
    print(f"[sf1] {tag}: {' '.join(chunk)}", flush=True)
    r = subprocess.run(JAVA + ["graft.Verify", x10, out_dir] + chunk,
                       env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if r.returncode != 0:
        print(f"[sf1] {tag} Verify FAILED rc={r.returncode}", flush=True)
        continue
    r2 = subprocess.run([sys.executable, "dev/check_timed.py", x10, out_dir, art,
                         str(budget)] + chunk)
    print(f"[sf1] {tag} check rc={r2.returncode}", flush=True)

subprocess.run([sys.executable, "dev/merge_sf1.py", out] +
               [a for a in artifacts if os.path.exists(a)])
print(f"[sf1] merged -> {out}")
