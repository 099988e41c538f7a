#!/usr/bin/env python3
"""Per-family scale attribution between two full-suite draws at
different data scales (e.g. 16x vs 64x): groups per-query medians by
registry family prefix, prints family totals, the cost ratio, and the
top per-query ratios — the attribution table a full-scale draw's
NOTES.md row is written from.

Usage: python3 tools/scale_family_compare.py <small.json> <big.json>
       [data_ratio]   (data_ratio only annotates the header)
"""
import json
import re
import sys

FAMILIES = [
    ("llm_dd_", "dedup"), ("llm_ss_", "similarity"), ("llm_ta_", "text"),
    ("llm_sample_", "sampling"), ("llm_mm_", "multimodal"),
    ("llm_pipeline_", "pipeline"), ("llm_graph_", "graph"),
    ("llm_models_", "models"), ("st_", "streaming"), ("bench_", "bench"),
    ("q", "relational"),
]


def fam(name):
    for p, f in FAMILIES:
        if name.startswith(p):
            return f
    return "other"


def load(path):
    d = json.load(open(path))
    # a query whose every timed draw failed has a null median: skip it
    return {k: v["median"] if isinstance(v, dict) else v
            for k, v in d["queries"].items()
            if not (isinstance(v, dict) and v["median"] is None)}, d


def main():
    small, ds = load(sys.argv[1])
    big, db = load(sys.argv[2])
    ratio = sys.argv[3] if len(sys.argv) > 3 else "?"
    shared = sorted(set(small) & set(big))
    print(f"-- shared queries: {len(shared)} "
          f"(small-only {len(set(small)-set(big))}, "
          f"big-only {len(set(big)-set(small))}); data ratio {ratio}x")
    if "jvm" in db:
        print(f"-- big-draw jvm: {db['jvm']}")
    by = {}
    for n in shared:
        by.setdefault(fam(n), []).append((n, small[n], big[n]))
    print(f"{'family':12s} {'n':>4s} {'small_s':>9s} {'big_s':>9s} "
          f"{'ratio':>6s}  worst query (ratio)")
    rows = []
    for f, xs in by.items():
        s = sum(a for _, a, _ in xs)
        b = sum(c for _, _, c in xs)
        # worst-query annotation only means something when at least one
        # query clears the small-draw noise floor; otherwise max() picks
        # an arbitrary entry and the 1e-9 guard prints an absurd ratio
        eligible = [t for t in xs if t[1] > 0.05]
        if eligible:
            worst = max(eligible, key=lambda t: t[2] / t[1])
            wtxt = f"{worst[0]} ({worst[2]/worst[1]:.1f}x)"
        else:
            wtxt = "-"
        rows.append((b, f, len(xs), s, b, wtxt))
    for _, f, n, s, b, w in sorted(rows, reverse=True):
        print(f"{f:12s} {n:4d} {s:9.1f} {b:9.1f} {b/max(s,1e-9):6.2f}  {w}")
    st = sum(small[n] for n in shared)
    bt = sum(big[n] for n in shared)
    print(f"{'TOTAL':12s} {len(shared):4d} {st:9.1f} {bt:9.1f} "
          f"{bt/st:6.2f}")
    print("-- top-12 per-query cost ratios (median, small >= 0.1s):")
    tops = sorted(((big[n] / small[n], n, small[n], big[n])
                   for n in shared if small[n] >= 0.1), reverse=True)[:12]
    for r, n, a, b in tops:
        print(f"   {n}: {a:.2f}s -> {b:.2f}s ({r:.1f}x)")
    print("-- top-12 absolute big-draw costs:")
    for n in sorted(shared, key=lambda n: -big[n])[:12]:
        print(f"   {n}: {big[n]:.2f}s (small {small[n]:.2f}s)")


if __name__ == "__main__":
    main()
