#!/usr/bin/env python3
"""Compare/merge bench detail JSONs (r21 optimization evidence tooling).

Usage:
  benchcmp.py merge OUT.json RUN1.json RUN2.json [...]
      best-of-N merge: per key, the MINIMUM p50 across runs (the repo's
      established quiet-window protocol: each run's p50 already absorbs
      warmup; min-across-runs drops windows with episodic load).
  benchcmp.py cmp BEFORE.json AFTER.json [threshold]
      per-key ratio table (after/before p50), sorted; prints keys beyond
      the threshold (default 0.10) plus board sums and the geomean.
"""
import json
import math
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    return d


def merge(out, paths):
    runs = [load(p) for p in paths]
    keys = set()
    for r in runs:
        keys |= set(r.get("queries_p50", {}))
    merged = dict(runs[0])
    merged["queries_p50"] = {
        k: min(r["queries_p50"][k] for r in runs if k in r.get("queries_p50", {}))
        for k in sorted(keys)
    }
    # the board sum covers only keys every run timed: a key present in a
    # subset run alone would make the sum depend on which runs were merged
    in_all = [k for k in merged["queries_p50"]
              if all(k in r.get("queries_p50", {}) for r in runs)]
    merged["total_p50"] = sum(merged["queries_p50"][k] for k in in_all)
    merged["total_p50_dropped"] = len(keys) - len(in_all)
    merged["merged_from"] = paths
    with open(out, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
    print(f"merged {len(paths)} runs, {len(keys)} keys, "
          f"board p50 sum {merged['total_p50']:.1f}s over {len(in_all)} keys "
          f"in every run ({merged['total_p50_dropped']} dropped) -> {out}")


def cmp(before, after, thresh=0.10):
    """Print the comparison; return the geomean ratio (None if undefined)."""
    b = load(before)["queries_p50"]
    a = load(after)["queries_p50"]
    common = sorted(set(b) & set(a))
    if not common:
        print("no common keys")
        return None
    rows = [(k, b[k], a[k], a[k] / b[k] if b[k] > 0 else float("inf"))
            for k in common]
    worse = [r for r in rows if r[3] > 1 + thresh]
    better = [r for r in rows if r[3] < 1 - thresh]
    print(f"common {len(common)}  before sum {sum(b[k] for k in common):.1f}s"
          f"  after sum {sum(a[k] for k in common):.1f}s")
    # a zero or infinite ratio has no logarithm: leave it out of the
    # geomean and divide by the ratios actually included
    finite = [r[3] for r in rows if 0 < r[3] < float("inf")]
    gm = None
    if finite:
        gm = math.exp(sum(math.log(x) for x in finite) / len(finite))
        print(f"geomean after/before: {gm:.3f} (speedup {1/gm:.3f}x) "
              f"over {len(finite)} of {len(rows)} keys")
    med = sorted(r[3] for r in rows)[len(rows) // 2]
    print(f"median per-key ratio: {med:.3f} (window-control)")
    for title, rs in (("IMPROVED >", better), ("REGRESSED >", worse)):
        print(f"\n{title}{thresh:.0%}: {len(rs)}")
        for k, bb, aa, r in sorted(rs, key=lambda x: x[3]):
            print(f"  {k:36s} {bb:7.3f} -> {aa:7.3f}  x{r:5.2f}")
    return gm


if __name__ == "__main__":
    if sys.argv[1] == "merge":
        merge(sys.argv[2], sys.argv[3:])
    elif sys.argv[1] == "cmp":
        t = float(sys.argv[4]) if len(sys.argv) > 4 else 0.10
        cmp(sys.argv[2], sys.argv[3], t)
    else:
        sys.exit(__doc__)
