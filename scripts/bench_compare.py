#!/usr/bin/env python3
"""Compare a fresh Bench JSON line against a recorded BASELINE.md row.

Usage: bench_compare.py NEW_JSON_FILE BASELINE_JSON_FILE
Each file holds one {"metric":...,"queries":{...}} line (extract the
recorded row from BASELINE.md into a file first). Prints shared-key
totals, the ratio, the four promotion controls, and the worst shared
ratios. Artifact rows (artifact_*) are reported separately per the
round-12 forward-rule amendment.
"""
import json, sys

CONTROLS = ["q_tpch_q6", "q_agg_hash", "q_scan_parquet", "q_emb_whiten"]

def load(path):
    with open(path) as f:
        return json.loads(f.read().strip())

new, base = load(sys.argv[1]), load(sys.argv[2])
nq, bq = new["queries"], base["queries"]
# Negative values mark FAILED queries in Bench's output; zero-second
# entries would poison every ratio below. Both are excluded from the
# shared comparison set (and both are listed at the end).
shared = [k for k in nq
          if k in bq and not k.startswith("artifact_")
          and nq[k] > 0 and bq[k] > 0]
sn = sum(nq[k] for k in shared)
sb = sum(bq[k] for k in shared)
ratio = f"{sn/sb:.3f}x" if sb > 0 else "n/a (base total 0)"
print(f"shared-{len(shared)} query totals: new {sn:.1f} s vs base {sb:.1f} s = {ratio}")
print(f"new full total: {new['value']:.1f} s over {len(nq)} entries "
      f"(artifacts_total {new.get('artifacts_total', 0):.2f} s)")
print("controls:")
for c in CONTROLS:
    if c in nq and c in bq and bq[c] > 0:
        print(f"  {c}: {nq[c]:.3f} vs {bq[c]:.3f} = {nq[c]/bq[c]:.2f}x")
    elif c in nq:
        print(f"  {c}: {nq[c]:.3f} vs base missing/zero — no ratio")
arts = [k for k in nq if k.startswith("artifact_")]
if arts:
    an = sum(abs(nq[k]) for k in arts)
    ab = sum(abs(bq[k]) for k in arts if k in bq)
    print(f"artifact rows (outside the gate): new {an:.1f} s vs base {ab:.1f} s")
fails = [k for k, v in nq.items() if v < 0]
if fails:
    print(f"FAILED queries (negative): {fails}")
base_fails = [k for k, v in bq.items() if v < 0]
if base_fails:
    print(f"FAILED in base (excluded from ratios): {base_fails}")
for side, qs in (("new", nq), ("base", bq)):
    zeros = [k for k, v in qs.items() if v == 0 and not k.startswith("artifact_")]
    if zeros:
        print(f"ZERO-valued in {side} (excluded from ratios): {zeros}")
worst = sorted(shared, key=lambda k: nq[k] / bq[k], reverse=True)[:8]
print("worst shared ratios:")
for k in worst:
    print(f"  {k}: {nq[k]:.2f} vs {bq[k]:.2f} = {nq[k]/bq[k]:.2f}x")
newkeys = [k for k in nq if k not in bq]
print(f"{len(newkeys)} keys not in base: " + ", ".join(
    f"{k}={nq[k]:.2f}s" for k in sorted(newkeys, key=lambda k: -nq[k])[:10]) +
    (" ..." if len(newkeys) > 10 else ""))
