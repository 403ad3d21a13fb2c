#!/usr/bin/env python3
"""The repository benchmark: timed ETL ticks and materialized query rosters.

Run from the repository root:

    python3 perfbench/run.py --workload etl_fleet --seed 1 --seconds 20 --trace 0

It builds the program and the harness from source (sbt, offline) on first
use, generates the workload's inputs from the seed, runs one harness JVM
(`local[4]`), checks every output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With `--trace 0` the metrics
are the end-to-end ones, with `--trace 1` the per-layer ones. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import etl_fixtures  # noqa: E402
import warehouse  # noqa: E402

ROOT = os.getcwd()
PROGRAM_FILES = ["build.sbt", "src/main/scala/graft/etl/Tasks.scala",
                 "src/main/scala/graft/SparkEntry.scala"]
JVM_DEADLINE_S = 165
PASS_SECONDS = 4  # query workloads: one timed roster pass per 4 s of --seconds

# The 22 graft.queries.Relational queries: scans, joins and aggregates over
# the warehouse star.
WAREHOUSE_ROSTER = [
    "q01_pricing_agg", "q02_topk_revenue", "q03_region_revenue",
    "q04_filter_sum", "q05_argmax_checkpoint", "q06_minby_audit",
    "q07_anti_join", "q08_semi_join", "q09_upsert_lastwins",
    "q10_window_rank", "q11_set_union", "q12_keyset_cursor", "q13_tuple_in",
    "q14_count_check", "q15_content_hash", "q16_normalize_cols", "q37_rollup",
    "q38_asof_signup", "q64_bucketed_join", "q70_zorder_stats",
    "q137_order_histogram", "q144_status_cube"]

WORKLOADS = {
    "etl_fleet": dict(family="etl", idle_ticks=3),
    "etl_wide": dict(family="etl", idle_ticks=3),
    "warehouse_queries": dict(family="query", sf=0.02, roster=WAREHOUSE_ROSTER),
}

KINDS = ["cold", "idle", "delta"]
ETL_LAYER_KEYS = (
    ["%s.%s" % (k, m) for k in KINDS for m in
     ("accounting_s", "accounting_jobs", "meta_replaces", "meta_reads", "driver_other_s")] +
    ["%s.%s" % (k, m) for k in ("cold", "delta") for m in
     ("extract_s", "extract_calls", "load_s", "load_jobs", "rows_written",
      "files_written", "bytes_written", "spark_jobs_per_sheet")] +
    ["delta.hash_skip_ratio"])
RUNTIME_KEYS = ["spark_jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "input_bytes"]
QUERY_LAYER_KEYS = ["plan_s", "exec_s"] + ["q.%s_s" % q.split("_")[0] for q in WAREHOUSE_ROSTER]
END_TO_END = ["setup_s", "suite_s", "op_max_s", "op_p50_s", "op_min_s"]
PER_LAYER = ETL_LAYER_KEYS + QUERY_LAYER_KEYS + RUNTIME_KEYS + ["jvm.heap_peak_mb", "trace_overhead_s"]


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_per_sheet"):
        return "jobs/sheet"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Compile program + harness with sbt when the sources changed since the
    last build; return the runtime classpath."""
    cache = os.path.join(HERE, "target", "perfbench-classpath.txt")
    stamp = _source_stamp()
    if os.path.exists(cache):
        with open(cache) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    log("building program and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = proc.stdout.splitlines()
    cps = [line for line in lines if line.startswith("/") and ".jar" in line]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        f.write(stamp + "\n" + cps[-1])
    return cps[-1]


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_harness(cp, spec, work, deadline):
    spec_path = os.path.join(work, "spec.json")
    result_path = os.path.join(work, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx2g", "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + tmp, "-Dspark.sql.warehouse.dir=" + os.path.join(work, "spark-warehouse"),
           "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", spec_path, result_path]
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log_file:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log_file, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(log_path, errors="replace") as f:
        lines = f.read().splitlines()
    sys.stderr.write("".join(line + "\n" for line in lines if line.startswith("[perfbench]")))
    if proc.returncode != 0 or not os.path.exists(result_path):
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise SystemExit("perfbench: harness failed or exceeded its deadline (exit %d)" % proc.returncode)
    with open(result_path) as f:
        return json.load(f)


# ------------------------------------------------------------------ metrics

def median(xs):
    return statistics.median(xs) if xs else None


def kind_summary(per_kind):
    """The end-to-end reduction shared by both families: per operation kind
    (tick kind or query) the median time, then their sum, max, median, min."""
    meds = [m for m in per_kind.values() if m is not None]
    if len(meds) != len(per_kind):
        return {}
    return {"suite_s": sum(meds), "op_max_s": max(meds),
            "op_p50_s": statistics.median(meds), "op_min_s": min(meds)}


def etl_checks(ticks, sheets, config, mutations):
    """Judge every tick; return the list of (tick, ok, reason)."""
    jobs = {(s["spreadsheetId"], s["sheetName"]) for s in sheets}
    content = {(s["spreadsheetId"], s["sheetName"]) for s in mutations["content"]}
    touch = {(s["spreadsheetId"], s["sheetName"]) for s in mutations["touch"]}
    changed = {(s["spreadsheetId"], s["sheetName"]): s for s in mutations["content"]}
    expected = {
        "cold": etl_fixtures.expected_tables(sheets, config),
        "delta": etl_fixtures.expected_tables(
            [changed.get((s["spreadsheetId"], s["sheetName"]), s) for s in sheets], config)}
    want_loaded = {"cold": jobs, "idle": set(), "delta": content | touch}
    want_rewritten = {"cold": jobs, "idle": set(), "delta": content}
    verdicts = []
    for t in ticks:
        kind, reason = t["kind"], None
        if t["error"] is not None:
            reason = t["error"]
        elif not t["audit_ok"]:
            reason = "access audit failed"
        elif {tuple(x) for x in t["loaded"]} != want_loaded[kind]:
            reason = "loaded %d sheets, expected %d" % (len(t["loaded"]), len(want_loaded[kind]))
        elif {tuple(x) if x else None for x in t["rewritten"]} != want_rewritten[kind]:
            reason = "rewrote %d partitions, expected %d" % (len(t["rewritten"]), len(want_rewritten[kind]))
        elif kind != "idle" and t["tables"] != expected[kind]:
            bad = sorted(k for k in expected[kind] if (t["tables"] or {}).get(k) != expected[kind][k])
            reason = "target tables differ from the expected model: %s" % bad
        verdicts.append((t, reason is None, reason))
    return verdicts


def etl_layers(t):
    """Per-layer numbers of one traced tick."""
    L = t["layers"]
    mods = L["modules"]

    def mod(name, key):
        return mods.get(name, {}).get(key, 0)
    accounting = L["meta_storage_s"] + mod("MetaStore", "seconds")
    load = mod("TargetStore", "seconds")
    sheets = len(t["loaded"])
    out = {
        "accounting_s": accounting,
        "accounting_jobs": mod("MetaStore", "jobs") + mod("MetaStorage", "jobs"),
        "meta_replaces": L["meta_replaces"], "meta_reads": L["meta_reads"],
        "driver_other_s": t["seconds"] - accounting - L["extract_s"] - load,
        "extract_s": L["extract_s"], "extract_calls": L["extract_calls"],
        "load_s": load, "load_jobs": mod("TargetStore", "jobs"),
        "rows_written": mod("TargetStore", "rows_written"),
        "files_written": t["files_written"],
        "bytes_written": mod("TargetStore", "bytes_written"),
        "spark_jobs_per_sheet": sum(m["jobs"] for m in mods.values()) / sheets if sheets else 0.0,
        "hash_skip_ratio": (sheets - len(t["rewritten"])) / sheets if sheets else 0.0,
    }
    for key in RUNTIME_KEYS:
        out[key] = sum(m[key.replace("spark_", "")] for m in mods.values())
    return out


def etl_metrics(plain, traced):
    """End-to-end metrics from the untraced run's passing ticks; with a
    traced run, the per-layer metrics from its passing ticks."""
    def summary(ticks):
        return kind_summary({k: median([t["seconds"] for t, ok in ticks if ok and t["kind"] == k])
                             for k in KINDS})
    out = summary(plain)
    if traced is None:
        return out
    layers = [(t, etl_layers(t)) for t, ok in traced if ok]
    for key in ETL_LAYER_KEYS:
        kind, name = key.split(".", 1)
        out[key] = median([L[name] for t, L in layers if t["kind"] == kind])
    for key in RUNTIME_KEYS:  # per tick sequence
        out[key] = sum(L[key] for _, L in layers)
    for key in QUERY_LAYER_KEYS:
        out[key] = 0.0
    traced_summary = summary(traced)
    if traced_summary and "suite_s" in out:
        out["trace_overhead_s"] = traced_summary["suite_s"] - out["suite_s"]
    return out


def query_metrics(result, bad, trace):
    passes = result["passes"]

    def per_query(traced, value):
        return {q: median([value(p["queries"][q]) for p in passes
                           if p["traced"] == traced and p["queries"][q]["error"] is None and q not in bad])
                for q in result["checked"]}

    plain = kind_summary(per_query(False, lambda r: r["seconds"]))
    if not trace:
        return plain
    totals = per_query(True, lambda r: r["seconds"])
    plans = per_query(True, lambda r: r["plan_s"])
    out = {key: 0.0 for key in ETL_LAYER_KEYS}
    if None not in plans.values():
        out["plan_s"] = sum(plans.values())
        out["exec_s"] = sum(totals.values()) - out["plan_s"]
    for q, v in totals.items():
        out["q.%s_s" % q.split("_")[0]] = v
    traced_passes = [p for p in passes if p["traced"]]
    for key in RUNTIME_KEYS:
        out[key] = median([sum(m[key.replace("spark_", "")] for m in p["modules"].values())
                           for p in traced_passes])
    out["jvm.heap_peak_mb"] = result["heap_peak_mb"]
    traced = kind_summary(totals)
    if traced and plain:
        out["trace_overhead_s"] = traced["suite_s"] - plain["suite_s"]
    return out


# ------------------------------------------------------------------ main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-fault", choices=["none", "tick", "query"], default="none",
                    help="break the program on purpose to prove the output checks")
    args = ap.parse_args(argv)
    # turn SIGTERM into an exit that runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.time()
    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit("perfbench: run from the repository root; missing %s" % ", ".join(missing))
    cp = classpath()
    deadline = time.time() + JVM_DEADLINE_S
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".bench_work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        setup_t0 = time.time()
        spec = dict(family=wl["family"], work=work, trace=bool(args.trace), fault=args.inject_fault)
        if wl["family"] == "etl":
            # one untraced JVM for the end-to-end metrics; a traced run adds
            # a second, traced JVM on the same inputs for the layers
            spec["fixtures"] = os.path.join(work, "fixtures")
            spec["idle_ticks"] = wl["idle_ticks"]
            inputs = etl_fixtures.write_fixtures(spec["fixtures"], args.workload, args.seed)
            judged = []
            for traced in [False, True][:1 + args.trace]:
                result = run_harness(cp, dict(spec, trace=traced), work, deadline)
                verdicts = etl_checks(result["ticks"], *inputs)
                for t, ok, reason in verdicts:
                    if not ok:
                        log("%s tick failed: %s" % (t["kind"], reason))
                judged.append([(t, ok) for t, ok, _ in verdicts])
                if not traced:
                    measure_start_ms = result["measure_start_ms"]
            attempted = sum(len(j) for j in judged)
            failed = sum(1 for j in judged for _, ok in j if not ok)
            metrics = etl_metrics(judged[0], judged[1] if args.trace else None)
            metrics["jvm.heap_peak_mb"] = result["heap_peak_mb"]
        else:
            data = os.path.join(work, "data")
            warehouse.generate(data, args.seed, wl["sf"])
            # a fixed amount of work per run, so both commits measure the same:
            # one timed pass per PASS_SECONDS of --seconds, and two at least
            # in a traced run (one untraced, one traced)
            passes = max(1 + args.trace, math.ceil(args.seconds / PASS_SECONDS))
            spec.update(data=data, out=os.path.join(work, "answers"), roster=wl["roster"],
                        passes=passes)
            result = run_harness(cp, spec, work, deadline)
            verdicts = warehouse.check(data, spec["out"], result["oracle_sql"])
            bad = set()
            for q, err in result["checked"].items():
                reason = err or verdicts.get(q)
                if reason:
                    bad.add(q)
                    log("query %s failed its output check: %s" % (q, reason))
            runs = [r for p in result["passes"] for q, r in p["queries"].items()]
            attempted = len(result["checked"]) + len(runs)
            failed = len(bad) + sum(1 for p in result["passes"] for q, r in p["queries"].items()
                                    if q in bad or r["error"] is not None)
            metrics = query_metrics(result, bad, args.trace)
            measure_start_ms = result["measure_start_ms"]
        metrics["setup_s"] = measure_start_ms / 1000.0 - setup_t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    names = END_TO_END if not args.trace else PER_LAYER
    out = {n: {"value": metrics[n], "unit": unit_of(n)} for n in names
           if metrics.get(n) is not None}
    for n in names:
        if n in out:
            log("%-32s %14.6f %s" % (n, out[n]["value"], out[n]["unit"]))
    log("error_rate %d/%d; wall %.1f s" % (failed, attempted, time.time() - started))
    print(json.dumps({"correct": failed == 0 and len(out) == len(names),
                      "attempted": attempted, "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
