#!/usr/bin/env python3
"""StreamBench regression gate (dev tooling): diff two STREAMBENCH
artifacts and FAIL (exit 1) if any operator's measured rate drops more
than `threshold`× at equal state size — closing the loop the r14
verdict asked for (the instrument existed; this makes it a gate).

Usage: python3 dev/compare_streambench.py OLD.json NEW.json [threshold]
Default threshold 2.0 (a >2× rate drop at the same resident-key count
is a structural regression, not host noise — the committed artifacts
show <1.3× round-to-round variance).

The two artifacts must cover the same ops and cells. An op or an
(op, size) cell present in OLD but absent from NEW fails (evidence must
not silently narrow), and so does one present only in NEW: a gate with
no baseline for an op cannot see that op slow down. A new instrument
lands together with a baseline regenerated to include it.
"""
import sys, json

old_p, new_p = sys.argv[1], sys.argv[2]
threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 2.0
old, new = json.load(open(old_p)), json.load(open(new_p))

fails = []
for op, sizes in sorted(old["ops"].items()):
    if op not in new["ops"]:
        fails.append(f"{op}: present in {old_p} but MISSING from {new_p}")
        continue
    for size, old_rate in sorted(sizes.items(), key=lambda kv: int(kv[0])):
        new_rate = new["ops"][op].get(size)
        if new_rate is None:
            fails.append(f"{op}@{size}: cell present in {old_p} but MISSING "
                         f"from {new_p} (old {old_rate:.0f} rows/s)")
            continue
        ratio = old_rate / new_rate if new_rate else float("inf")
        flag = "FAIL" if ratio > threshold else "ok"
        print(f"  {op}@{size}: {old_rate:.0f} -> {new_rate:.0f} rows/s "
              f"({ratio:.2f}x slower) {flag}")
        if ratio > threshold:
            fails.append(f"{op}@{size}: {ratio:.2f}x rate drop (>{threshold}x)")
for op, sizes in sorted(new["ops"].items()):
    for size in sorted(set(sizes) - set(old["ops"].get(op, {})), key=int):
        fails.append(f"{op}@{size}: measured in {new_p} but NO BASELINE in "
                     f"{old_p} (regenerate the baseline to include it)")

if fails:
    print("\nREGRESSIONS:")
    for f in fails:
        print(f"  {f}")
    sys.exit(1)
print("\nstreambench gate: PASS")
