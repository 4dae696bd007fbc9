"""Per-layer metrics of a traced run.

Every workload reports every layer metric; a layer the workload does not
exercise reads 0 (the suite runs no VCF step, the pipeline runs no
registered query). BENCH.md maps each metric to the end-to-end metric and
workload it should move.
"""
from benchlib import stats

MODULES = ["Relational", "IntervalOps", "TextDedup", "Similarity", "MultimodalQ",
           "DomainMath", "Curation", "ReportGrid", "AtRest"]

# vcf-pipeline phase span -> layer metric
PHASES = {
    "bgzf_write": "Bgzf.write_s",
    "tabix_build": "Tabix.build_s",
    "vcf_scan": "VcfV2.scan_s",
    "intervals_restrict": "Intervals.restrict_s",
    "concordance_label": "Concordance.label_s",
    "pr_curve": "Concordance.pr_curve_s",
    "var_report": "VarReport.write_s",
    "vcf_write": "VcfWriteV2.write_s",
    "region_lookups": "VcfV2.region_s",
}
# vcf-pipeline measured values -> unit
VCF_VALUES = {
    "Bgzf.bytes_out": "B",
    "VcfV2.rows_out": "count",
    "VcfWriteV2.bytes_out": "B",
    "VcfWriteV2.bytes_per_record": "B",
    "Tabix.prune_ratio": "ratio",
}
SPARK = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_run_s": "s",
    "task_cpu_s": "s", "gc_s": "s", "scan_bytes": "B", "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B", "spill_bytes": "B",
}


def _dur(s):
    return (s["t1"] - s["t0"]) / 1e9


def per_layer(rec):
    """{metric: (value, unit, samples, description)} for a traced record."""
    spans = rec["spans"]
    by_id = {s["id"]: s for s in spans}
    wl = next(s for s in spans if s["kind"] == "workload")
    out = {}
    setup = rec["setup"]
    out["setup.session_s"] = (setup["session_s"], "s", 1, "Spark.session")
    out["setup.warmup_s"] = (setup["warmup_s"], "s", 1, "warm-up job")
    out["setup.atrest_seed_s"] = (setup.get("atrest_seed_s", 0.0), "s", 1, "AtRest.preSeed")
    out["setup.open_inputs_s"] = (setup.get("open_inputs_s", 0.0), "s", 1,
                                  "VCF headers and BED opened")

    # registered queries: construct / plan / exec under each query span
    module_of = {op["name"]: op["module"] for op in rec.get("ops", [])}
    mod = {m: {"construct_s": 0.0, "exec_s": 0.0, "jobs": 0.0, "n": 0} for m in MODULES}
    construct_s = plan_s = construct_jobs = 0.0
    queries = [s for s in spans if s["kind"] == "query"]
    for q in queries:
        m = mod[module_of[q["name"]]]
        m["n"] += 1
        m["jobs"] += stats.subtree_counters(spans, q["id"]).get("jobs", 0.0)
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is None or parent["kind"] != "query":
            continue
        m = mod[module_of[parent["name"]]]
        if s["kind"] == "construct":
            m["construct_s"] += _dur(s)
            construct_s += _dur(s)
            construct_jobs += s["c"]["jobs"]
        elif s["kind"] == "exec":
            m["exec_s"] += _dur(s)
        elif s["kind"] == "plan":
            plan_s += _dur(s)
    for name in MODULES:
        m = mod[name]
        out[f"{name}.construct_s"] = (m["construct_s"], "s", m["n"],
                                      "in the query function, before a DataFrame returns")
        out[f"{name}.exec_s"] = (m["exec_s"], "s", m["n"], "executing the returned plan")
        out[f"{name}.jobs"] = (m["jobs"], "count", m["n"], "Spark jobs of the module's queries")
    wall = _dur(wl)
    out["queries.construct_s"] = (construct_s, "s", len(queries), "all queries")
    out["queries.construct_jobs"] = (construct_jobs, "count", len(queries),
                                     "eager jobs during construction")
    out["queries.plan_s"] = (plan_s, "s", len(queries), "forcing executedPlan")
    out["queries.construct_share"] = (construct_s / wall if queries else 0.0, "ratio",
                                      len(queries), "construction / traced wall")

    # Spark execution over the timed phase
    c = stats.subtree_counters(spans, wl["id"])
    for k, unit in SPARK.items():
        out[f"spark.{k}"] = (c.get(k, 0.0), unit, 1, "timed phase, SparkListener")
    jobs = c.get("jobs", 0.0)
    out["spark.tasks_per_job"] = (c.get("tasks", 0.0) / jobs if jobs else 0.0, "count", 1,
                                  "tasks / jobs")
    out["spark.core_util"] = (stats.core_util(c.get("task_run_s", 0.0), wall, rec["cores"]),
                              "ratio", 1, f"task run time / (wall x {rec['cores']} cores)")

    # vcf-pipeline steps
    phase_s = {s["name"]: _dur(s) for s in spans if s["kind"] == "phase"}
    for phase, name in PHASES.items():
        out[name] = (phase_s.get(phase, 0.0), "s", 1, f"phase {phase}")
    layers = rec.get("layers", {})
    for name, unit in VCF_VALUES.items():
        out[name] = (layers.get(name, 0.0), unit, 1, "vcf-pipeline")

    self_s = stats.self_times(spans)
    harness = sum(self_s[s["id"]] for s in spans if s["kind"] in ("workload", "query"))
    out["trace.harness_self_s"] = (harness, "s", 1, "span self time outside any layer call")
    out["trace.wall_s"] = (rec["wall_s"], "s", 1, "traced wall_s; minus untraced = overhead")
    out["trace.cpu_s"] = (rec["cpu_s"], "s", 1, "traced cpu_s; minus untraced = overhead")
    return out
