"""Metric arithmetic over a run record: percentiles, core utilisation,
span self times and fingerprint comparison. Pure functions, unit-tested
in perfbench/tests."""
import math

# a percentile is reported as well-supported only when at least this many
# samples lie beyond it (an interpolated p90 therefore needs 92 or more)
MIN_BEYOND = 10


def percentile(values, q, min_beyond=MIN_BEYOND):
    """q-th percentile (0 < q < 100) of `values`, linearly interpolated
    between the closest ranks (numpy's default; q = 50 is the usual median).

    Returns (value, n, beyond, supported): `beyond` counts the samples
    strictly above the percentile, and `supported` says whether that is at
    least `min_beyond`.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return (math.nan, 0, 0, False)
    pos = q / 100.0 * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    v = xs[lo] + (pos - lo) * (xs[hi] - xs[lo])
    beyond = sum(1 for x in xs if x > v)
    return (v, n, beyond, beyond >= min_beyond)


def core_util(task_run_s, wall_s, cores):
    """Executor task time as a share of the cores available over the wall
    time: 1.0 means every core ran a task for the whole interval."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return task_run_s / (wall_s * cores)


def self_times(spans):
    """Self time of each span: its duration minus its children's.

    `spans` are dicts with `id`, `parent` (-1 for a root), `t0` and `t1`
    (nanoseconds). Returns {id: seconds}.
    """
    child = {}
    for s in spans:
        child.setdefault(s["parent"], 0)
        child[s["parent"]] += s["t1"] - s["t0"]
    return {s["id"]: max(0, (s["t1"] - s["t0"]) - child.get(s["id"], 0)) / 1e9 for s in spans}


def subtree_counters(spans, root_id):
    """Sum of the counters of `root_id` and every span below it."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    total = {}
    stack = [s for s in spans if s["id"] == root_id]
    while stack:
        s = stack.pop()
        for k, v in s["c"].items():
            total[k] = total.get(k, 0.0) + v
        stack.extend(kids.get(s["id"], []))
    return total


def fingerprint_mismatch(actual, expected, rtol=1e-9):
    """None when two result fingerprints agree, else a short reason.

    Row count and the exact hash of the non-floating values must be equal;
    the two float sums must agree within `rtol` of the float magnitude sum.
    """
    if actual is None:
        return "no result"
    if actual["rows"] != expected["rows"]:
        return f"rows {actual['rows']} != expected {expected['rows']}"
    if actual["hash"] != expected["hash"]:
        return "value hash differs from expected"
    scale = max(abs(actual["fabs"]), abs(expected["fabs"]))
    for k in ("f1", "f2"):
        if abs(actual[k] - expected[k]) > rtol * scale + 1e-12:
            return f"float sum {k} {actual[k]!r} != expected {expected[k]!r}"
    return None
