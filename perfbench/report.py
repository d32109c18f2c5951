"""Turn the JVM's raw samples into the benchmark's metrics."""

import math
import statistics

# The percentiles a tail may be reported at, highest first.
TAILS = (99, 95, 90, 75)


def percentile(xs, p):
    """The p-th percentile (nearest rank), or None unless at least ten
    samples lie strictly beyond it."""
    if not xs:
        return None
    s = sorted(xs)
    v = s[min(len(s) - 1, max(0, math.ceil(p / 100.0 * len(s)) - 1))]
    return v if sum(1 for x in s if x > v) >= 10 else None


def tail(xs):
    """(p, value) for the highest percentile with ten samples beyond it."""
    for p in TAILS:
        v = percentile(xs, p)
        if v is not None:
            return p, v
    return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw):
    """Every end-to-end metric, from one workload's raw result."""
    return {
        "setup_s": median(raw["setup_s"]),
        "cache_mb": raw["cache_mb"],
        "op_p50_ms": median(raw["op_ms"]),
        "rate_per_s": raw["units"] / raw["window_s"] if raw["window_s"] else 0.0,
    }


# The workload-specific names of the same figures (see README), printed in the
# human-readable report beside the generic ones.
ALIASES = {
    "kg_lookup": {"op_p50_ms": "lookup_p50_ms", "rate_per_s": "lookup_qps"},
    "curation_batch": {"op_p50_ms": "pass_p50_ms", "rate_per_s": "curation_docs_per_s"},
}


def select(values, specs):
    """The metrics named in BENCHMARK.json, in its order, with units. A
    per-layer figure a workload never produced (the layer did no work)
    reads 0."""
    return {s["name"]: {"value": float(values.get(s["name"], 0.0)), "unit": s["unit"]}
            for s in specs}


def summary(workload, raw, e2e):
    """Human-readable lines: each end-to-end metric with its workload name,
    the latency tail with its sample count, and the host record."""
    alias = ALIASES.get(workload, {})
    lines = ["%-12s %s" % (k, "%.4f" % v + ("   (%s)" % alias[k] if k in alias else ""))
             for k, v in e2e.items()]
    ops = raw["op_ms"]
    t = tail(ops)
    lines.append("op samples %d, tail %s" % (
        len(ops), "p%d %.2f ms" % t if t else "n/a (fewer than 10 samples beyond p75)"))
    lines.append("host " + " ".join("%s=%s" % kv for kv in sorted(raw["host"].items())))
    return lines
