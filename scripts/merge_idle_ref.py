#!/usr/bin/env python3
"""Merge N full-surface idle bench JSONs into the committed per-query idle
reference (BENCH_IDLE_REF.tsv): element-wise MIN across runs — the
measurement procedure the r11 host note established (per-run minima spread
across runs under a noisy hypervisor; the element-wise min is the stable
idle estimate). Usage:
  python3 scripts/merge_idle_ref.py BENCH_IDLE_a.json BENCH_IDLE_b.json ...
Writes BENCH_IDLE_REF.tsv (with the #sf and #cpus headers taken from the
runs; all runs must share both) and prints the merged total. Bench applies
the reference only to runs with the same SF and core count.

--append: treat the existing BENCH_IDLE_REF.tsv as one more input "run"
(its committed minima carry over; new queries from the given subset runs
are unioned in — the r11 q_retrieval_ndcg procedure, kept inside the
sole writer). The TSV's #sf and #cpus headers must match the runs'.
"""
import json, sys, os

args = sys.argv[1:]
append = "--append" in args
if append:
    args.remove("--append")

runs = [json.load(open(p)) for p in args]
assert runs, "pass at least one bench json"
for p, r in zip(args, runs):
    assert r.get("sf"), f"{p}: missing 'sf' key — refusing to write an empty #sf header"
    assert r.get("cpus"), f"{p}: missing 'cpus' key — the reference needs its core count"
sfs = {os.path.basename(r["sf"]) for r in runs}
assert len(sfs) == 1, f"mixed SFs: {sfs}"
sf = sfs.pop()
cpuss = {r["cpus"] for r in runs}
assert len(cpuss) == 1, f"mixed core counts: {cpuss}"
cpus = cpuss.pop()
if append:
    assert os.path.exists("BENCH_IDLE_REF.tsv"), "--append needs an existing TSV"
    lines = open("BENCH_IDLE_REF.tsv").read().splitlines()
    header = dict((l.split("\t", 1) + [""])[:2] for l in lines if l.startswith("#"))
    tsv_sf = header.get("#sf", "sf0.1").strip()
    assert tsv_sf == sf, f"--append SF mismatch: TSV {tsv_sf} vs runs {sf}"
    tsv_cpus = header.get("#cpus", "").strip()
    assert tsv_cpus == str(cpus), \
        f"--append cpus mismatch: TSV {tsv_cpus or 'unrecorded'} vs runs {cpus}"
    committed = {}
    for l in lines:
        if l.startswith("#"):
            continue
        k, v = l.split("\t")
        committed[k] = float(v)
    runs.append({"sf": sf, "cpus": cpus, "queries": committed})
if len(runs) < 3:
    print(f"WARNING: only {len(runs)} run(s) — the committed reference "
          f"procedure is min over >= 3 separate JVM invocations",
          file=sys.stderr)
keys = set()
for r in runs:
    keys |= set(r["queries"].keys())
merged = {}
partial = []
for k in sorted(keys):
    vals = [r["queries"][k] for r in runs if k in r["queries"]
            and r["queries"][k] >= 0]
    assert vals, f"{k} failed in every run"
    if len(vals) < len(runs):
        partial.append((k, len(vals)))
    merged[k] = min(vals)
for k, n in partial:
    # in --append mode a query already in the committed TSV is by
    # definition "partial" vs the subset runs — only NEW queries with a
    # thin sample base are worth a warning there
    if append and k in committed:
        continue
    print(f"WARNING: {k} covered by only {n}/{len(runs)} runs — its 'min' "
          f"is a {n}-sample estimate", file=sys.stderr)
with open("BENCH_IDLE_REF.tsv", "w") as f:
    f.write(f"#sf\t{sf}\n#cpus\t{cpus}\n")
    for k, v in merged.items():
        f.write(f"{k}\t{v:.3f}\n")
total = sum(merged.values())
print(f"merged {len(runs)} runs, {len(merged)} queries, "
      f"total {total:.1f}s = {total/len(merged):.3f} s/query at {sf}, "
      f"{cpus} cpus")
