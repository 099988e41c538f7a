#!/usr/bin/env python3
"""Compare two archived bench draws per-query, separating host noise
from plan regressions.

Usage: python3 tools/bench_compare.py <old.json> <new.json> [threshold]

Accepts either format found under docs/bench/:
  - the per-query file graft.Bench writes to target/bench_last.json
    ({"queries": {name: {"median": s, "min": s, "runs": [...],
    "failed": n}}}; `runs` holds passing draws only, and a query with no
    passing draw has null seconds and is skipped), or
  - the driver's BENCH_rNN.json wrapper (totals only, per-query data
    in the embedded stdout tail) — wrapper inputs degrade to a
    total-level compare.

Prints every query whose median moved more than `threshold` (default
1.5x in either direction, min 0.1 s absolute), worst regressions first,
then the totals. Each mover carries a noise classification: when either
draw's intra-draw spread (median/min) exceeds NOISE_SPREAD the host was
throttling during those runs and the median move is NOISE-SUSPECT; only
tight-spread movers are plan-regression candidates. (The round-8 q12
lesson: a 3.9 s median with a 0.25 s min is suite/host state, not a
plan change — it cost a `weak` verdict to re-litigate.) Exit 0 always —
this is an attribution report, not a gate.
"""
import json
import re
import sys

NOISE_SPREAD = 3.0  # median/min beyond this = host throttle, not plan


def load(path):
    d = json.load(open(path))
    if "queries" in d and isinstance(d["queries"], dict):
        qs, mins = {}, {}
        for k, v in d["queries"].items():
            if isinstance(v, dict):
                if v.get("median", 0) is None:
                    continue  # every timed draw failed: no time to compare
                qs[k] = v.get("median", v)
                if "min" in v:
                    mins[k] = v["min"]
                elif isinstance(v.get("runs"), list) and v["runs"]:
                    mins[k] = min(v["runs"])
            else:
                qs[k] = v
        return qs, mins, float(d.get("value", sum(qs.values())))
    # driver wrapper: only the total line survives in the tail
    tail = d.get("tail", "")
    m = re.findall(r'\{"metric":"total","value":([0-9.]+)', tail)
    total = float(m[-1]) if m else None
    if total is None and isinstance(d.get("parsed"), dict):
        total = float(d["parsed"].get("value", 0))
    return {}, {}, total


def spread_tag(name, old_min, new_min, a, b):
    """Classify a median move: host noise vs plan-regression candidate."""
    spreads = []
    if name in old_min and old_min[name] > 0:
        spreads.append(a / old_min[name])
    if name in new_min and new_min[name] > 0:
        spreads.append(b / new_min[name])
    if not spreads:
        return "?spread-unknown"
    if max(spreads) > NOISE_SPREAD:
        return f"NOISE-SUSPECT (med/min {max(spreads):.1f}x)"
    # medians are tight around their minima on both sides: the move is
    # real work, not scheduling jitter
    return f"plan-suspect (med/min {max(spreads):.1f}x)"


def main():
    args = [a for a in sys.argv[1:] if a != "--gate"]
    gate = "--gate" in sys.argv[1:]
    old_path, new_path = args[0], args[1]
    ratio = float(args[2]) if len(args) > 2 else 1.5
    old_q, old_min, old_total = load(old_path)
    new_q, new_min, new_total = load(new_path)
    if gate and old_q and new_q:
        # a scale16/64 or isolated-subset baseline shares few queries
        # (or a different SF cost profile) with a full warm draw;
        # gating against it is meaningless. Require the baseline to be
        # substantially covered by the new draw.
        overlap = len(set(old_q) & set(new_q))
        if overlap < 0.8 * len(old_q):
            print(f"GATE FAIL: baseline/new query sets mismatch "
                  f"({overlap}/{len(old_q)} baseline queries present in "
                  f"new draw) — baseline is likely a subset/scale draw")
            sys.exit(1)
    if old_q and new_q:
        moved = []
        for name in sorted(set(old_q) | set(new_q)):
            a, b = old_q.get(name), new_q.get(name)
            if a is None:
                print(f"NEW       {name}: {b:.3f}s")
                continue
            if b is None:
                print(f"REMOVED   {name} (was {a:.3f}s)")
                continue
            if max(a, b) < 0.1:
                continue
            r = b / a if a > 0 else float("inf")
            if r > ratio or r < 1 / ratio:
                moved.append((r, name, a, b))
        for r, name, a, b in sorted(moved, reverse=True):
            tag = "SLOWER" if r > 1 else "faster"
            cls = spread_tag(name, old_min, new_min, a, b) if r > 1 else ""
            print(f"{tag:9s} {name}: {a:.3f}s -> {b:.3f}s ({r:.2f}x) {cls}")
        if not moved:
            print(f"no per-query median moved beyond {ratio}x")
        # always name the top-10 regressions, threshold or not, so a
        # round's verdict can attribute drift mechanically even when
        # every mover sits under the noise bar; min->min ratio is the
        # throttle-resistant signal (a plan regression moves the MIN)
        both = [(b / a, n, a, b) for n in set(old_q) & set(new_q)
                for a, b in [(old_q[n], new_q[n])] if a > 0 and max(a, b) >= 0.1]
        print("-- top-10 median regressions (any size):")
        for r, name, a, b in sorted(both, reverse=True)[:10]:
            cls = spread_tag(name, old_min, new_min, a, b)
            mm = ""
            if name in old_min and name in new_min and old_min[name] > 0:
                mm = f" min {old_min[name]:.3f}->{new_min[name]:.3f} " \
                     f"({new_min[name] / old_min[name]:.2f}x)"
            print(f"   {name}: {a:.3f}s -> {b:.3f}s ({r:.2f}x) {cls}{mm}")
        plan_sus = [n for r, n, a, b in sorted(both, reverse=True)[:10]
                    if r > ratio and
                    spread_tag(n, old_min, new_min, a, b).startswith("plan")]
        if plan_sus:
            print(f"-- tight-spread regressions needing a plan look: "
                  f"{', '.join(plan_sus)}")
        else:
            print("-- no tight-spread regression beyond the bar: "
                  "drift attributes to host noise")
        if gate:
            # gate mode (tools/gate.sh): block the round on any
            # tight-spread mover whose MIN also moved beyond the bar —
            # the min is the throttle-resistant signal, so med+min both
            # over `ratio` with tight spreads is a plan regression, not
            # host noise. Exit 1 names the queries.
            blockers = [
                n for n in plan_sus
                if n in old_min and n in new_min and old_min[n] > 0
                and new_min[n] / old_min[n] > ratio]
            if blockers:
                print(f"GATE FAIL: plan-suspect regressions (median AND "
                      f"min > {ratio}x, tight spreads): "
                      f"{', '.join(blockers)}")
                sys.exit(1)
            print("GATE OK: no tight-spread min-confirmed regression")
    else:
        if gate:
            # a gate with no per-query signal must fail loudly, not
            # pass silently — this is exactly when a wrong baseline
            # (wrapper file, different draw format) slips through.
            print("GATE FAIL: per-query data missing on one side — "
                  "cannot evaluate blockers (pick a full-suite warm "
                  "draw as baseline)")
            sys.exit(1)
        print("per-query data missing on one side; totals only")
    if old_total is not None and new_total is not None:
        print(f"total: {old_total:.3f}s -> {new_total:.3f}s "
              f"({new_total / old_total:.2f}x)")


if __name__ == "__main__":
    main()
