"""Pure helpers of the benchmark runner: percentiles, span self time,
due-time latency, failure accounting, the oracle comparison and the check of
the per-layer metric map. `run.py` uses them; `tests/` tests them."""

import math

# Percentile levels the tail rule may pick from, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1] (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return quantile(values, 0.5)


def tail_percentile(n, min_beyond=10):
    """The highest percentile of TAIL_LADDER with at least `min_beyond` of
    `n` samples beyond it, or None when even the median has fewer."""
    best = None
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:  # 100 - 99.9 is inexact
            best = p
    return best


def due_latencies(due_ms, done_ms):
    """Open-loop latency of each completed operation, timed from when it was
    *due*, not from when the generator got round to sending it: a stalled
    generator then shows as latency instead of hiding the queue. Operations
    that never completed (None or NaN) are left out; count them as failed."""
    out = []
    for d, t in zip(due_ms, done_ms):
        if t is None or (isinstance(t, float) and math.isnan(t)):
            continue
        out.append(t - d)
    return out


def lateness(due_ms, sent_ms):
    """How late the generator sent each operation, in ms (never negative)."""
    return [max(0.0, s - d) for d, s in zip(due_ms, sent_ms)
            if s is not None and not (isinstance(s, float) and math.isnan(s))]


def overhead(traced, before, after):
    """Relative cost of tracing: a traced figure against the mean of the
    untraced figures measured just before and just after it."""
    return traced / ((before + after) / 2.0) - 1.0


def _union_length(intervals):
    total = 0.0
    end = -math.inf
    for s, t in sorted(intervals):
        if t <= end:
            continue
        total += t - max(s, end)
        end = t
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that the union of its children covers (children clipped to the parent).
    `spans` are dicts with id, start, end and parent. Returns {id: ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        covered = _union_length([(a, b) for a, b in kids if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans):
    """Sum of self time and count per span name."""
    st = self_times(spans)
    agg = {}
    for s in spans:
        a = agg.setdefault(s["name"], {"count": 0, "self_ms": 0.0, "total_ms": 0.0})
        a["count"] += 1
        a["self_ms"] += st[s["id"]]
        a["total_ms"] += s["end"] - s["start"]
    return agg


def account(phases, check_failures=0, check_attempted=0):
    """Failure accounting over the phases a run timed plus its untimed
    correctness checks. Every operation that did not succeed is failed; an
    integrity violation (a digest mismatch, a wrong manifest or quarantine
    set) fails the whole run. Returns (correct, attempted, failed)."""
    attempted = sum(int(p["attempted"]) for p in phases) + int(check_attempted)
    failed = sum(int(p["failed"]) for p in phases) + int(check_failures)
    violations = sum(len(p.get("violations", [])) for p in phases)
    correct = violations == 0 and failed == 0 and attempted > 0
    return correct, max(attempted, 1), failed


def values_match(x, y):
    """Cell equality by the rules of the repo's oracle comparison: equal,
    both null, both NaN, or equal as strings."""
    if x == y:
        return True
    try:
        if (x is None and y is None) or (x != x and y != y):
            return True
    except Exception:
        pass
    return str(x) == str(y)


def frames_match(exp_cols, exp_rows, got_cols, got_rows):
    """Compare an oracle result with a Spark result: columns compared after
    sorting by name, then shape, then every cell in row order. Returns None
    when they match, else a short reason."""
    if sorted(exp_cols) != sorted(got_cols):
        return f"columns {sorted(exp_cols)} != {sorted(got_cols)}"
    if len(exp_rows) != len(got_rows):
        return f"rows {len(exp_rows)} != {len(got_rows)}"
    ei = [exp_cols.index(c) for c in sorted(exp_cols)]
    gi = [got_cols.index(c) for c in sorted(got_cols)]
    for r, (er, gr) in enumerate(zip(exp_rows, got_rows)):
        for c, (a, b) in enumerate(zip(ei, gi)):
            if not values_match(er[a], gr[b]):
                return f"row {r} column {sorted(exp_cols)[c]}: {er[a]!r} != {gr[b]!r}"
    return None


def check_layer_map(bench, layer_map):
    """Every per-layer metric of BENCHMARK.json must name, in the layer map,
    an end-to-end metric and a workload that BENCHMARK.json defines.
    Returns the list of problems (empty when the map is sound)."""
    e2e = {m["name"] for m in bench["end_to_end"]}
    workloads = {w["name"] for w in bench["workloads"]}
    problems = []
    for m in bench["per_layer"]:
        entry = layer_map.get(m["name"])
        if entry is None:
            problems.append(f"{m['name']}: not in the layer map")
            continue
        if not entry.get("moves"):
            problems.append(f"{m['name']}: names no end-to-end metric")
        for target in entry.get("moves", []):
            if target.get("metric") not in e2e:
                problems.append(f"{m['name']}: unknown end-to-end metric {target.get('metric')}")
            if target.get("workload") not in workloads:
                problems.append(f"{m['name']}: unknown workload {target.get('workload')}")
    extra = set(layer_map) - {m["name"] for m in bench["per_layer"]}
    problems += [f"{n}: in the layer map but not in BENCHMARK.json" for n in sorted(extra)]
    return problems
