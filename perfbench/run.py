#!/usr/bin/env python3
"""Repository benchmark: one workload per run, in a fresh JVM.

    python3 perfbench/run.py --workload suite-sf0.1|vcf-pipeline \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness (perfbench/jvm) with sbt; inputs are generated from the seed and
cached per (workload, seed) under .bench_cache/; each run gets its own
temp, at-rest and Spark local directories under .bench_run/, deleted
afterwards. Every metric is printed with its unit and sample count, and the
last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics (from a traced run) with --trace 1.
See perfbench/BENCH.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from benchlib import build, stats  # noqa: E402
from benchlib.layers import per_layer  # noqa: E402

ROOT = HERE.parent
CACHE = ROOT / ".bench_cache"
RUNS = ROOT / ".bench_run"
EXPECT = CACHE / "suite-sf0.1" / "expect.json"
DEADLINE_S = 170

# The sf0.1 test tables (TESTDATA.md); the program's own bench (graft.Bench)
# reads the same variable.
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))

# suite-sf0.1: a slice of graft.SparkEntry.queries, run in sorted-name
# order, whose construction share and per-module time shares match the whole
# suite's measured profile; perfbench/suite_slice.py chose it (BENCH.md).
SUITE_QUERIES = json.loads((HERE / "suite_slice.json").read_text())["queries"]
VCF_SITES = 100_000
VCF_LOOKUPS = 100


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------- inputs

def vcf_inputs(seed):
    from benchlib import vcfgen
    out = CACHE / "vcf-pipeline" / f"seed-{seed}"
    if not (out / "_DONE").exists():
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        log(f"generating VCF inputs for seed {seed}")
        vcfgen.generate(str(out), seed, VCF_SITES, VCF_LOOKUPS)
        (out / "_DONE").write_text("")
    return out


# ---------------------------------------------------------------- the JVM

def run_jvm(cp, args, run_dir, deadline):
    """Launch the harness; return (record, launch epoch seconds)."""
    for d in ("tmp", "atrest", "spark-local", "work"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "GRAFT_ATREST_DIR": str(run_dir / "atrest"),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
    })
    out = run_dir / "record.json"
    cmd = (["java"] + build.java_options(ROOT) + build.jvm_memory(ROOT) + [
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={HERE / 'jvm' / 'log4j2.properties'}",
        "-cp", cp, "graftbench.Main", "--out", str(out),
        "--work", str(run_dir / "work")] + args)
    launched = time.time()
    with open(run_dir / "jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=jlog,
                                stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness JVM exceeded the run deadline")
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not out.exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-25:]
        raise RuntimeError("harness JVM failed:\n" + "\n".join(tail))
    return json.loads(out.read_text()), launched


# ---------------------------------------------------------------- checks

def oracle_check(calib, data_dir, deadline):
    """Run the repository's oracle gate, tools/check.py, over the results a
    calibrating run wrote to `calib` (`oracle_sql.json` plus one parquet
    directory per query). Returns {query: None if it passed, else the
    reason}; queries without oracle SQL are not in it."""
    proc = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"), str(calib),
                           str(data_dir)], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=max(1.0, deadline - time.time()))
    with_sql = json.loads((calib / "oracle_sql.json").read_text())
    return parse_check_output(proc.stdout, with_sql)


def parse_check_output(text, with_sql):
    """{query: None | reason} from check.py's `PASS name` and `FAIL name:
    reason` lines; a query with oracle SQL but no verdict fails."""
    tail = " | ".join(text.strip().splitlines()[-2:])
    verdicts = {n: f"no verdict from tools/check.py: {tail}"[:200] for n in with_sql}
    for line in text.splitlines():
        if line.startswith("PASS "):
            verdicts[line.split()[1]] = None
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            verdicts[name] = why or "failed"
    return verdicts


def make_expectations(rec, verdicts):
    """The expectation of each query of a calibrating run: its fingerprint
    and the oracle's verdict. A query without oracle SQL keeps
    self-consistency as its check. Returns (expectations, complete):
    complete when every query ran and passed, so the set may be cached."""
    expect = {}
    for op in rec["ops"]:
        n = op["name"]
        if op["error"]:
            continue  # failed in this run already; nothing to expect
        expect[n] = {"fp": op["fp"], "oracle_error": verdicts.get(n)}
    complete = (len(expect) == len(rec["ops"])
                and all(e["oracle_error"] is None for e in expect.values()))
    return expect, complete


def calibrate(rec, calib, data_dir, names, deadline):
    """Make the expectations of `names` on `data_dir` from a run that wrote
    its results to `calib`: the oracle checks each result once, and the
    result's fingerprint becomes the expectation of later runs. Only a
    complete, passing set is cached; otherwise the next run calibrates again."""
    log("checking the suite's results with tools/check.py (once per input set)")
    expect, complete = make_expectations(rec, oracle_check(calib, data_dir, deadline))
    if complete:
        EXPECT.parent.mkdir(parents=True, exist_ok=True)
        EXPECT.write_text(json.dumps({"data": str(data_dir), "queries": sorted(names),
                                      "expect": expect}))
    else:
        log("calibration incomplete (a query failed); no expectations cached")
    return expect


def load_expectations(data_dir, names):
    if EXPECT.exists():
        exp = json.loads(EXPECT.read_text())
        if exp["data"] == str(data_dir) and exp["queries"] == sorted(names):
            return exp["expect"]
    return None


def check_queries(rec, expect):
    errors = {}
    for op in rec["ops"]:
        n = op["name"]
        e = expect.get(n)
        if op["error"]:
            errors[n] = op["error"]
        elif e is None:
            errors[n] = f"{n}: no expectation"
        elif e["oracle_error"]:
            errors[n] = f"{n}: oracle mismatch at calibration: {e['oracle_error']}"[:240]
        else:
            why = stats.fingerprint_mismatch(op["fp"], e["fp"])
            if why:
                errors[n] = f"{n}: result fingerprint: {why}"[:240]
    return len(rec["ops"]), errors


def check_vcf(rec, inputs):
    exp = json.loads((inputs / "expected.json").read_text())
    errors = {}
    got = {a["category"]: a for a in rec["accuracy"]}
    for cat, want in exp["accuracy"].items():
        have = got.get(cat)
        if have is None or any(have[k] != want[k] for k in ("tp", "fp", "fn")):
            errors[f"accuracy.{cat}"] = f"accuracy {cat}: got {have} expected {want}"[:240]
    if rec["pr_curve_rows"] <= 0:
        errors["pr_curve"] = "pr_curve: no curve points"
    why = stats.fingerprint_mismatch(rec["written_fp"], rec["scanned_fp"])
    if why or rec["scanned_fp"]["rows"] != exp["calls_kept"]:
        errors["vcf_roundtrip"] = (f"vcf_roundtrip: written VCF re-read vs scanned rows: {why}; "
                                   f"scanned {rec['scanned_fp']['rows']} expected "
                                   f"{exp['calls_kept']}")[:240]
    for i, (lk, want) in enumerate(zip(rec["lookups"], exp["lookup_rows"])):
        if lk["rows"] != want:
            errors[f"lookup{i}"] = (f"lookup {i} {lk['chrom']}:{lk['lo']}-{lk['hi']}: "
                                    f"{lk['rows']} rows, expected {want}")
    if len(rec["lookups"]) != len(exp["lookup_rows"]):
        errors["lookups"] = "lookups: count differs from the generator's"
    attempted = len(exp["accuracy"]) + 2 + len(exp["lookup_rows"])
    return attempted, errors


# ---------------------------------------------------------------- metrics

def end_to_end(workload, rec, launched):
    """The gated metrics, timings in CPU seconds of the harness JVM (every
    thread: Spark driver and tasks, GC, JIT), which steal on a shared host
    moves about half as much as wall time; and the wall-clock figures and
    what disturbed the run, printed but not gated (BENCH.md)."""
    ops = rec["lookups"] if workload == "vcf-pipeline" else rec["ops"]
    op_kind = "region lookup" if workload == "vcf-pipeline" else "query"

    def pct(key, q):
        v, n, beyond, ok = stats.percentile([op[key] for op in ops], q)
        note = "" if ok else f" (< {stats.MIN_BEYOND}: weakly supported)"
        return (v, "s", n, f"per-{op_kind} {key[:-2]} time, {beyond} samples beyond{note}")
    gated = {
        "setup_s": (rec["setup"]["ready_cpu_s"], "s", 1, "JVM CPU time, process start to ready"),
        "cpu_s": (rec["cpu_s"], "s", 1, "JVM CPU time of the timed phase"),
        "op_cpu_p50_s": pct("cpu_s", 50),
        "op_cpu_p90_s": pct("cpu_s", 90),
        "peak_rss_mb": (rec["peak_rss_mb"], "MiB", 1, "JVM VmHWM"),
    }
    info = {
        "setup_wall_s": (rec["setup"]["ready_epoch_s"] - launched, "s", 1,
                         "process start to ready"),
        "wall_s": (rec["wall_s"], "s", 1, "timed phase"),
        "op_wall_p50_s": pct("wall_s", 50),
        "op_wall_p90_s": pct("wall_s", 90),
        "jit_cpu_s": (rec["jvm_cpu_s"].get("jit", 0.0), "s", 1, "JIT compiler threads, timed phase"),
        "gc_cpu_s": (rec["jvm_cpu_s"].get("gc", 0.0), "s", 1, "GC threads, timed phase"),
        "steal_s": (rec["steal_s"], "s", 1, "host steal over all CPUs, timed phase"),
    }
    return gated, info


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["suite-sf0.1", "vcf-pipeline"])
    ap.add_argument("--seed", type=int, default=1)
    # accepted for the benchmark contract; each workload is one fixed pass
    # (BENCH.md), so that runs compare whatever their speed
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # turn SIGTERM into an exception, so cleanup runs and the JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    start = time.time()
    try:
        cp, built = build.ensure_built(ROOT, log)
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        log(f"cannot build the program: {e}")
        return 2
    # a run that had to build has the first-run allowance; the budget of
    # every other run starts at process start
    deadline = (time.time() if built else start) + DEADLINE_S

    run_dir = RUNS / f"{a.workload}-{a.seed}-{os.getpid()}"
    try:
        if a.workload == "vcf-pipeline":
            inputs = vcf_inputs(a.seed)
            rec, launched = run_jvm(cp, ["--workload", "vcf", "--trace", str(a.trace),
                                         "--vcf-inputs", str(inputs)], run_dir, deadline)
            attempted, errors = check_vcf(rec, inputs)
        else:
            data, names = Path(SF_DIR), SUITE_QUERIES
            if not (data / "lineitem.parquet").exists():
                log(f"input tables not found under {data}")
                return 2
            args = ["--data", str(data), "--queries", ",".join(names)]
            expect = load_expectations(data, names)
            calib = run_dir / "results"
            if expect is None:
                args += ["--calibrate", str(calib)]
            rec, launched = run_jvm(cp, ["--workload", "queries", "--trace", str(a.trace)] + args,
                                    run_dir, deadline)
            if expect is None:
                expect = calibrate(rec, calib, data, names, deadline)
            attempted, errors = check_queries(rec, expect)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log(str(e))
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.trace:
        metrics, info = per_layer(rec), {}
    else:
        metrics, info = end_to_end(a.workload, rec, launched)
    for name, err in sorted(errors.items()):
        print(f"FAILED {err}")
    for name, (v, unit, n, what) in metrics.items():
        print(f"{name:32s} {v:14.6f} {unit:6s} n={n:<4d} {what}")
    for name, (v, unit, n, what) in info.items():
        print(f"{name:32s} {v:14.6f} {unit:6s} n={n:<4d} {what} (not gated)")
    print(f"{'fail_ratio':32s} {len(errors) / attempted:14.6f} ratio  n={attempted:<4d} "
          "operations that threw or returned wrong output")
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": len(errors),
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
