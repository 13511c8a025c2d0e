#!/usr/bin/env python3
"""Generate SCALING.md from two graft.Bench JSON files taken at two
scale factors (default sf0.01 vs sf0.1, a 10x data step).

For each query the scaling exponent is log(t_hi / t_lo) / log(sf_ratio):
1.0 = perfectly linear in input size, < 1 = fixed per-query overhead
(planning/codegen, constant-size sketches) still dominates at the small
end, > 1 = super-linear growth worth a look. Exponents are measured with
SPARK_GRAFT_REPEAT=2 (minimum kept) so first-plan codegen does not
masquerade as data-dependent cost.

Usage:
  scripts/scaling_report.py /tmp/scale_sf001.json /tmp/scale_sf01.json \
      [sf_ratio] > SCALING.md
"""
import json
import math
import sys

lo = json.load(open(sys.argv[1]))
hi = json.load(open(sys.argv[2]))
ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0
FLAG = 1.2

rows = []
for name in sorted(set(lo["queries"]) & set(hi["queries"])):
    tl, th = lo["queries"][name], hi["queries"][name]
    # a 0-second leg (clock resolution / missing timing) has no exponent;
    # NaN renders in the table but is excluded from flag/summary math
    exp = math.log(th / tl) / math.log(ratio) if tl > 0 and th > 0 \
        else float("nan")
    rows.append((name, tl, th, exp))

if not rows:
    sys.exit("no queries common to both bench files — nothing to compare")

print("# SCALING — heavy-tier scaling exponents (%s -> %s)" %
      (lo["sf"], hi["sf"]))
print()
print("Generated by `scripts/scaling_report.py` from two "
      "`SPARK_GRAFT_REPEAT=2` bench runs; exponent = "
      "log(t_hi/t_lo)/log(%g). 1.0 is linear; below 1 the small-SF run "
      "is overhead-bound; above %g is flagged for inspection." %
      (ratio, FLAG))
print()
print("| query | t(%s) s | t(%s) s | exponent | |" % (lo["sf"], hi["sf"]))
print("|---|---|---|---|---|")
for name, tl, th, exp in rows:
    flag = "**FLAG**" if exp > FLAG else ""
    print("| %s | %.3f | %.3f | %.2f | %s |" % (name, tl, th, exp, flag))
missing = sorted(set(lo["queries"]) ^ set(hi["queries"]))
if missing:
    print()
    print("Present in only one run: " + ", ".join(missing))

scored = [r for r in rows if not math.isnan(r[3])]
flagged = [r for r in scored if r[3] > FLAG]
worst = max(scored, key=lambda r: r[3]) if scored else None
print()
print("## Findings")
print()
print("- %d/%d queries flagged above exponent %g%s." %
      (len(flagged), len(rows), FLAG,
       "" if not flagged else ": " + ", ".join(r[0] for r in flagged)))
if worst is not None:
    print("- Steepest: %s at %.2f (t %.3fs -> %.3fs)." %
          (worst[0], worst[3], worst[1], worst[2]))
print("- Exponents well below 1 mean the %s leg is dominated by "
      "per-query constants (planning, 32-task dispatch, sketch state) "
      "rather than data volume — expected on local[32] at these scale "
      "factors. The gate this artifact exists for is the ABSENCE of "
      "super-linear growth: a quadratic candidate blowup (hot LSH "
      "buckets, unblocked self-joins) would show an exponent near 2 "
      "here long before it killed a 100 TB run." % lo["sf"].rstrip("/"))
