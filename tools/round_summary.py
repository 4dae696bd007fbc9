#!/usr/bin/env python3
"""Summarize the committed bench artifacts for the round's NOTES bullet:
baseline ratio on the shared query set, skew/uniform ratio, worst ratios,
and per-query deltas vs the previous round's committed artifacts.

Usage: tools/round_summary.py <bench artifact, e.g. BENCH_LOCAL_sf0.1_c32.json>
"""
import json
import sys


def load(p):
    return json.load(open(p))


if len(sys.argv) != 2:
    sys.exit(__doc__.strip().splitlines()[-1])
loc_path = sys.argv[1]
loc = load(loc_path)
print(f"bench artifact: {loc_path}")
uni = load("BENCH_UNIFORM100.json")
skw = load("BENCH_SKEW100.json")
# BENCH_r01.json stores the driver's truncated tail; recover the queries
# map with a real JSON parse anchored at the object start (raw_decode stops
# at the matching brace — manual brace counting miscounts if any string
# value contains one; advisor r15)
_t = load("BENCH_r01.json")["tail"]
_i = _t.index('"queries":{') + len('"queries":')
_bq, _ = json.JSONDecoder().raw_decode(_t, _i)
base = {"queries": _bq}

for label, art in (("LOCAL", loc), ("UNIFORM100", uni), ("SKEW100", skw)):
    print(f"{label:12s} total {art['value']:.1f} n {len(art['queries'])} "
          f"errors {art.get('errors')}")
print(f"skew/uniform = {skw['value']/uni['value']:.3f}")

bq = base["queries"]
shared = [q for q in bq if q in loc["queries"]]
s_base = sum(bq[q] for q in shared)
s_loc = sum(loc["queries"][q] for q in shared)
print(f"\nshared-with-baseline: {len(shared)} queries; "
      f"{s_loc:.1f} vs {s_base:.1f} s = {s_loc/s_base:.2f}x")
worst = sorted(shared, key=lambda q: loc["queries"][q]/bq[q], reverse=True)[:6]
for q in worst:
    print(f"  {q:26s} {loc['queries'][q]/bq[q]:5.2f}x  ({loc['queries'][q]:.2f} s abs)")

print("\nworst skew/uniform per-query (>=1s uniform):")
ws = sorted((q for q in uni["queries"] if uni["queries"][q] >= 1),
            key=lambda q: skw["queries"].get(q, 0)/uni["queries"][q], reverse=True)[:6]
for q in ws:
    print(f"  {q:26s} {skw['queries'].get(q,0)/uni['queries'][q]:5.2f}x "
          f"(skew {skw['queries'].get(q,0):.2f} / uni {uni['queries'][q]:.2f})")

print("\nd-family + headline at uniform100:")
for q in ["d3_lsh_pairs", "d4_jaccard_verify", "x17_incremental_dedup",
          "x21_atrest_pairs", "x23_atrest_resolve", "d7_dedup_resolve",
          "x18_incremental_resolve", "x19_atrest_build", "x20_atrest_tfidf",
          "x22_labels_build", "x12_tfidf_topk", "w7_downsample"]:
    print(f"  {q:26s} uni {uni['queries'].get(q,-1):6.2f}  "
          f"skew {skw['queries'].get(q,-1):6.2f}")
