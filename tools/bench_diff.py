#!/usr/bin/env python3
"""Round-over-round bench bookkeeping, scripted (r7 verdict item 3).

Usage: python3 tools/bench_diff.py OLD_full.json NEW_full.json [topN]

Reads two committed full bench maps (the record Bench writes to
SPARK_GRAFT_BENCH_FULL_OUT, or a driver BENCH_rN.json) and prints, from
the artifacts alone:
  - per-map totals over every timed (>=0) query;
  - the COMMON-query subset, its total in each map, and the delta;
  - top regressions / improvements on the common subset.
SURVEY §7h round-over-round figures must be pasted from this output —
hand-carried numbers went stale in r4 and again in r7.

A record holds one object per query ({"suite": s, "isolated": i, ...});
older maps hold plain numbers. The SUITE number is the comparable one and
is what this script reads (isolated is the drift-immune re-measure).
"""
import json
import sys


def load(path):
    with open(path) as f:
        doc = json.load(f)
    # r12 verdict item 5: a driver BENCH_rN.json is the ~1850-char
    # stdout TAIL — its parsed map held 77 of 318 timed queries in r12,
    # so diffs computed from it silently see an 80%-smaller common
    # subset. The driver wrapper carries the raw tail under "tail";
    # treat its presence (or a suspiciously small map next to a known
    # full map) as truncation and say so loudly.
    if isinstance(doc, dict) and "tail" in doc:
        print(f"WARNING: {path} is a driver stdout-tail artifact "
              f"(truncated per-query map) — prefer the committed "
              f"BENCH_full_latest.json / BENCH_builder_*_full.json "
              f"for round-over-round diffs", file=sys.stderr)
    qs = doc.get("queries", doc)
    out = {}
    for k, v in qs.items():
        if isinstance(v, dict):
            v = v.get("suite", v.get("isolated"))
        if isinstance(v, (int, float)) and v >= 0:
            out[k] = float(v)
    return out


def main():
    old_p, new_p = sys.argv[1], sys.argv[2]
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    old, new = load(old_p), load(new_p)
    common = sorted(set(old) & set(new))
    t_old_all, t_new_all = sum(old.values()), sum(new.values())
    t_old, t_new = sum(old[q] for q in common), sum(new[q] for q in common)
    print(f"{old_p}: {len(old)} timed queries, total {t_old_all:.1f} s")
    print(f"{new_p}: {len(new)} timed queries, total {t_new_all:.1f} s")
    pct = f"{100 * (t_new - t_old) / t_old:+.1f} %" if t_old > 0 else "n/a"
    print(f"common ({len(common)} queries): {t_old:.1f} -> {t_new:.1f} s "
          f"({t_new - t_old:+.1f} s, {pct})")
    deltas = sorted(((new[q] - old[q], q) for q in common), reverse=True)
    print(f"top {top_n} regressions:")
    for d, q in deltas[:top_n]:
        if d <= 0:
            break
        print(f"  {q}: {old[q]:.2f} -> {new[q]:.2f} ({d:+.2f})")
    print(f"top {top_n} improvements:")
    for d, q in reversed(deltas[-top_n:]):
        if d >= 0:
            break
        print(f"  {q}: {old[q]:.2f} -> {new[q]:.2f} ({d:+.2f})")
    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))
    if only_old:
        print(f"dropped ({len(only_old)}): {', '.join(only_old)}")
    if only_new:
        print(f"added ({len(only_new)}): {', '.join(only_new)}")


if __name__ == "__main__":
    main()
