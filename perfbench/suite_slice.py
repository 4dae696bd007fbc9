#!/usr/bin/env python3
"""Choose the queries of the suite-sf0.1 workload from a measured profile.

    python3 perfbench/suite_slice.py profile   # traced run of every registered query
    python3 perfbench/suite_slice.py select    # pick the slice from the profile
    python3 perfbench/suite_slice.py verify    # traced run of the slice, compared

All 108 queries do not fit one benchmark run, so the workload runs a slice
whose traffic matches the whole suite's: `profile` records each query's
wall, construction and job count in one traced run over the sf0.1 tables
(perfbench/suite_profile.json); `select` searches, with a fixed seed, for
the subset within a time budget whose construction share and per-module
time shares are closest to the suite's (perfbench/suite_slice.json, which
run.py reads); `verify` runs the slice as the benchmark does and records
its measured shares beside the suite's. Run from the root of a checkout.
"""
import json
import random
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
from benchlib import build, stats  # noqa: E402
from benchlib.layers import MODULES  # noqa: E402

PROFILE = HERE / "suite_profile.json"
SLICE = HERE / "suite_slice.json"
BUDGET_S = 22.0      # summed profiled wall of the slice: one pass fits a run
# the largest share difference a measured slice may have from the suite;
# two traced runs of the whole suite differ by up to about 0.02
TOLERANCE = 0.05
CONSUMER_S = 0.5     # cold-minus-warm seconds that mark a memo consumer
MEDIAN_WEIGHT = 0.05
OUTLIER = 1.5        # in-slice slow-down, over the run's median, that excludes a query
SEARCH_SEED = 0
RESTARTS = 40


def traced_queries(queries, cold=False):
    """One traced run of `queries` ("all" or a list); per-query profile.
    `cold`: session memos and cached frames are dropped before each query."""
    cp, _ = build.ensure_built(run.ROOT, run.log)
    run_dir = run.RUNS / f"profile-{int(time.time())}"
    names = queries if queries == "all" else ",".join(queries)
    try:
        rec, _ = run.run_jvm(cp, ["--workload", "queries", "--trace", "1", "--data", run.SF_DIR,
                                  "--queries", names, "--cold", str(int(cold))], run_dir, time.time() + 900)
    finally:
        run.shutil.rmtree(run_dir, ignore_errors=True)
    spans = rec["spans"]
    errors = [op["error"] for op in rec["ops"] if op["error"]]
    if errors:
        raise SystemExit("queries failed:\n" + "\n".join(errors))
    prof = {op["name"]: {"module": op["module"], "wall_s": op["wall_s"]} for op in rec["ops"]}
    for q in (s for s in spans if s["kind"] == "query"):
        p = prof[q["name"]]
        p["jobs"] = stats.subtree_counters(spans, q["id"]).get("jobs", 0.0)
        for s in spans:
            if s["parent"] == q["id"]:
                p[f"{s['kind']}_s"] = (s["t1"] - s["t0"]) / 1e9
    return {"cores": rec["cores"], "queries": prof}


def shares(prof, names):
    """Construction share and per-module time shares of `names`."""
    total = sum(prof[n]["wall_s"] for n in names)
    out = {"construct": sum(prof[n].get("construct_s", 0.0) for n in names) / total}
    for m in MODULES:
        out[m] = sum(prof[n]["wall_s"] for n in names if prof[n]["module"] == m) / total
    return out


def distance(a, b):
    return max(abs(a[k] - b[k]) for k in a)


def in_slice(prof):
    """The profile as a slice sees it: a query that reads a session memo or
    cached frame an earlier query of the suite built (its cold run is over
    CONSUMER_S and half again slower than its warm one) may run without
    that query in the slice, so it is costed cold, the difference counted
    as construction."""
    out = {}
    for n, q in prof.items():
        extra = q["cold_wall_s"] - q["wall_s"]
        if extra > CONSUMER_S and q["cold_wall_s"] > 1.5 * q["wall_s"]:
            q = dict(q, wall_s=q["cold_wall_s"], construct_s=q.get("construct_s", 0.0) + extra)
        out[n] = q
    return out


def context_outliers(model, measured):
    """Slice queries that ran far slower than modelled, against the run's
    own median slow-down (the box's speed drifts between runs): their cost
    depends on queries outside the slice in a way the cold profile misses,
    e.g. an at-rest artifact an earlier query wrote."""
    ratio = {n: t / model[n]["wall_s"] for n, t in measured.items()}
    typical = statistics.median(ratio.values())
    return sorted(n for n, r in ratio.items() if r > OUTLIER * typical and measured[n] > 1.0)


def select(prof, excluded=()):
    """The subset within BUDGET_S, with a query of every module, whose
    shares are closest to the whole suite's: seeded restarts of a
    first-improvement local search over adding, dropping and swapping one
    query."""
    keys = ["construct"] + MODULES
    target = shares(prof, prof)
    goal_p50 = statistics.median(q["wall_s"] for q in prof.values())
    prof = in_slice(prof)
    names = sorted(n for n in prof if n not in excluded)
    # per query: its wall and its contribution to each share's numerator
    wall = {n: prof[n]["wall_s"] for n in names}
    part = {n: [prof[n].get("construct_s", 0.0)]
            + [wall[n] if prof[n]["module"] == m else 0.0 for m in MODULES] for n in names}
    goal = [target[k] for k in keys]

    def loss(sums, total, sel):
        if total > BUDGET_S or min(sums[1:]) < 1e-9:  # every module present
            return 2.0
        # the median query is weighed too, a 10% miss as a 0.005 share miss
        p50 = statistics.median(wall[n] for n in sel)
        return max([abs(x / total - g) for x, g in zip(sums, goal)]
                   + [MEDIAN_WEIGHT * abs(p50 / goal_p50 - 1)])

    def moved(sums, total, out, inn):
        sums, total = list(sums), total
        for n, sign in ((out, -1), (inn, 1)):
            if n is not None:
                sums = [x + sign * y for x, y in zip(sums, part[n])]
                total += sign * wall[n]
        return sums, total

    rng = random.Random(SEARCH_SEED)
    best, best_loss = None, 3.0
    for _ in range(RESTARTS):
        sel, sums, total = set(), [0.0] * len(keys), 0.0
        for n in rng.sample(names, len(names)):
            if total + wall[n] <= BUDGET_S:
                sel.add(n)
                sums, total = moved(sums, total, None, n)
        cur = loss(sums, total, sel)
        improved = True
        while improved:
            improved = False
            outs = [None] + sorted(sel)
            ins = [None] + [n for n in names if n not in sel]
            for o, i in ((o, i) for o in outs for i in ins if (o, i) != (None, None)):
                s2, t2 = moved(sums, total, o, i)
                cand = (sel - {o}) | ({i} - {None})
                c = loss(s2, t2, cand) if cand else 2.0
                if c < cur - 1e-12:
                    sel, sums, total, cur, improved = cand, s2, t2, c, True
                    break
        if cur < best_loss:
            best, best_loss = set(sel), cur
    return sorted(best)


def table(prof, sliced, measured=None):
    rows = [("", "suite", "slice (profile)") + (("slice (measured)",) if measured else ())]
    suite = shares(prof, prof)
    cost = in_slice(prof)
    pick = shares(cost, sliced)
    for k in ["construct"] + MODULES:
        rows.append((k, f"{suite[k]:.3f}", f"{pick[k]:.3f}")
                    + ((f"{measured[k]:.3f}",) if measured else ()))
    rows.append(("median query s", f"{statistics.median(q['wall_s'] for q in prof.values()):.3f}",
                 f"{statistics.median(cost[n]['wall_s'] for n in sliced):.3f}")
                + ((f"{measured['median_s']:.3f}",) if measured else ()))
    return "\n".join("  ".join(f"{c:>16s}" for c in r) for r in rows)


def main(argv):
    cmd = argv[1] if len(argv) > 1 else ""
    if cmd == "profile":
        p = traced_queries("all")
        cold = traced_queries("all", cold=True)["queries"]
        for n, q in p["queries"].items():
            q["cold_wall_s"] = cold[n]["wall_s"]
        p.update(data="sf0.1", date=time.strftime("%Y-%m-%d"),
                 note="one traced run of every registered query, sorted-name order")
        PROFILE.write_text(json.dumps(p, indent=1, sort_keys=True) + "\n")
        walls = [q["wall_s"] for q in p["queries"].values()]
        print(f"{len(walls)} queries, {sum(walls):.1f} s, median {statistics.median(walls):.3f} s")
    elif cmd == "select":
        prof = json.loads(PROFILE.read_text())["queries"]
        excluded = json.loads(SLICE.read_text()).get("excluded", []) if SLICE.exists() else []
        sliced = select(prof, excluded)
        d = distance(shares(in_slice(prof), sliced), shares(prof, prof))
        SLICE.write_text(json.dumps({
            "budget_s": BUDGET_S, "tolerance": TOLERANCE, "distance": d,
            "excluded": excluded, "queries": sliced}, indent=1) + "\n")
        print(table(prof, sliced))
        print(f"{len(sliced)} queries, {sum(in_slice(prof)[n]['wall_s'] for n in sliced):.1f} s "
              f"profiled, largest share difference {d:.3f} (tolerance {TOLERANCE})")
    elif cmd == "verify":
        prof = json.loads(PROFILE.read_text())["queries"]
        sl = json.loads(SLICE.read_text())
        got = traced_queries(sl["queries"])["queries"]
        measured = shares(got, got)
        measured["median_s"] = statistics.median(q["wall_s"] for q in got.values())
        sl["measured"] = {k: round(v, 4) for k, v in measured.items()}
        sl["measured_distance"] = distance(shares(got, got), shares(prof, prof))
        sl["measured_wall_s"] = sum(q["wall_s"] for q in got.values())
        sl["measured_queries"] = {n: round(q["wall_s"], 3) for n, q in sorted(got.items())}
        out = sl["outliers"] = context_outliers(in_slice(prof), sl["measured_queries"])
        SLICE.write_text(json.dumps(sl, indent=1) + "\n")
        print(table(prof, sl["queries"], measured))
        print(f"measured: {sl['measured_wall_s']:.1f} s, largest share difference "
              f"{sl['measured_distance']:.3f} (tolerance {TOLERANCE})")
        if out:
            print(f"context-dependent: {', '.join(out)} (add to \"excluded\" and select again)")
        if sl["measured_distance"] > TOLERANCE:
            return 1
    else:
        print(__doc__)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
