"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload foldscan --seed 1 --seconds 20 --trace 0

Builds the program and harness from source (perfbench/build.py), runs one
JVM at local[N] (N = usable cores) over the sf0.01 fixtures in
perfbench/fixtures, checks every query's output digest against
perfbench/goldens.json, and prints one JSON line as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports
the end-to-end metrics, --trace 1 the per-layer ones. The full record of a
run (per-pass host telemetry; with --trace 1 also spans, the per-query
ledger and self times) is written to perfbench/out/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

BENCH = Path(__file__).resolve().parent
FIXTURES = BENCH / "fixtures" / "sf0.01"
GOLDENS = BENCH / "goldens.json"
WORKLOADS = ("foldscan", "pipeline", "streaming")
JVM_TIMEOUT_S = 170

# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--heap", default="3g", help="JVM heap (-Xms and -Xmx)")
    p.add_argument("--kernel-rows", type=int, default=400000)
    p.add_argument("--kernel-null-share", type=float, default=0.05)
    p.add_argument("--write-goldens", action="store_true",
                   help="record the digests of every workload query in goldens.json")
    return p.parse_args(argv)


def run_jvm(args, cp, cores, work):
    out = work / "result.json"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # The heap is fixed and touched up front, so peak RSS is the heap plus
    # what the JVM and Spark hold outside it, not an accident of GC timing.
    cmd = (["java", f"-Xms{args.heap}", f"-Xmx{args.heap}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--fixtures", str(FIXTURES), "--out", str(out), "--cores", str(cores),
              "--kernel-rows", str(args.kernel_rows),
              "--kernel-null-share", str(args.kernel_null_share),
              "--write-goldens", "1" if args.write_goldens else "0"])
    log = work / "jvm.log"
    launch = time.time()
    with open(log, "wb") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # Also reached on SIGTERM (see main): never leave the JVM behind.
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not out.exists():
        tail = log.read_text(errors="replace")[-4000:]
        raise RuntimeError(f"harness JVM failed ({rc}):\n{tail}")
    return launch, json.loads(out.read_text())


def check_outputs(res, goldens):
    """Compares each check-pass digest with its golden. Returns the
    failures as {query: reason}."""
    bad = {}
    for c in res["checks"]:
        g = goldens["queries"].get(c["name"])
        if c["error"]:
            bad[c["name"]] = "error: " + c["error"]
        elif g is None:
            bad[c["name"]] = "no golden digest"
        elif (c["rows"], c["digest"]) != (g["rows"], g["digest"]):
            bad[c["name"]] = f"digest {c['rows']}/{c['digest']} != golden {g['rows']}/{g['digest']}"
    return bad


def end_to_end(res, launch, passes, failed, attempted):
    lat = [q["build_s"] + q["action_s"] for p in passes for q in p["queries"] if not q["error"]]
    by_query = {}
    for p in passes:
        for q in p["queries"]:
            by_query.setdefault(q["name"], []).append(q["build_s"] + q["action_s"])
    return {
        "setup_s": (res["setup_end_ms"] / 1000.0 - launch, "s"),
        # The median pass, taken query by query: one slow pass moves only
        # the queries it hit, not the whole figure.
        "wall_s": (sum(stats.median(xs) for xs in by_query.values()) or None, "s"),
        "query_p50_s": (stats.median(lat), "s"),
        "cpu_s": (stats.median([p["cpu_s"] for p in passes]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "ok_frac": (1.0 - failed / attempted, "fraction"),
    }, lat


def per_layer(res, cores):
    """Per-layer metrics from the traced passes, each a mean per pass
    unless its name says otherwise, plus the per-query ledger."""
    L = res["layer"]
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    n = len(traced)
    spans = L["spans"]
    parents = {s["id"]: s["parent"] for s in spans}
    pass_of = {p["span"]: p for p in traced}
    query_spans = {s["id"]: s["name"].split(":", 1)[1] for s in spans
                   if s["name"].startswith("query:")}

    def in_traced_pass(rec):
        return stats.ancestor(rec["span"], parents, pass_of) is not None

    def query_of(rec):
        return query_spans.get(stats.ancestor(rec["span"], parents, query_spans))

    jobs = [j for j in L["jobs"] if in_traced_pass(j)]
    sql = [q for q in L["sql"] if in_traced_pass(q)]
    batches = [b for b in L["batches"] if in_traced_pass(b)]
    wall = sum(p["wall_s"] for p in traced) / n
    run_s = sum(j["run_ms"] for j in jobs) / 1000 / n
    no_job = sum(
        (p["end_ns"] - p["start_ns"]) / 1e9 - stats.union_length(
            [(j["start_ms"] * 1e6, j["end_ms"] * 1e6) for j in jobs
             if stats.ancestor(j["span"], parents, {p["span"]}) is not None],
            p["start_ns"], p["end_ns"]) / 1e9
        for p in traced) / n
    # Final state of each stream: its last batch.
    last = {}
    for b in batches:
        if b["run_id"] not in last or b["batch"] >= last[b["run_id"]]["batch"]:
            last[b["run_id"]] = b
    trig_s = sum(b["trigger_ms"] for b in batches) / 1000
    ops = {o["name"]: o["seconds"] for o in L["operators"]}
    m = {
        "queries.build_s": sum(q["build_s"] for p in traced for q in p["queries"]) / n,
        "queries.action_s": sum(q["action_s"] for p in traced for q in p["queries"]) / n,
        "spark.jobs": len(jobs) / n,
        "spark.stages": sum(j["stages"] for j in jobs) / n,
        "spark.tasks": sum(j["tasks"] for j in jobs) / n,
        "spark.task_run_core_s": run_s,
        "spark.task_cpu_core_s": sum(j["cpu_ns"] for j in jobs) / 1e9 / n,
        "spark.task_gc_core_s": sum(j["gc_ms"] for j in jobs) / 1000 / n,
        "spark.core_util": run_s / (wall * cores),
        "spark.no_job_s": no_job,
        "spark.result_mb": sum(j["result_bytes"] for j in jobs) / 2**20 / n,
        "spark.shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in jobs) / 2**20 / n,
        "spark.spill_mb": sum(j["spill_bytes"] for j in jobs) / 2**20 / n,
        "sql.executions": len(sql) / n,
        "sql.plan_s": sum(q["plan_ms"] for q in sql) / 1000 / n,
        "plumba.kernel_fold_rows_per_core_s": L["kernel"]["fold_rows_per_core_s"],
        "plumba.kernel_scan_rows_per_core_s": L["kernel"]["scan_rows_per_core_s"],
        **{f"plumba.{k}": ops.get(k, -1.0) for k in (
            "collect_fold_seq_s", "collect_fold_merge_s", "collect_scan_seq_s",
            "collect_scan_merge_s", "group_fold_s", "group_fold_merge_s", "group_scan_s",
            "group_scan_merge_s")},
        "streaming.batches": len(batches) / n,
        "streaming.batch_p50_ms": stats.median([b["trigger_ms"] for b in batches]) or 0.0,
        "streaming.add_batch_s": sum(b["add_batch_ms"] for b in batches) / 1000 / n,
        "streaming.commit_s": sum(b["commit_ms"] for b in batches) / 1000 / n,
        "streaming.plan_s": sum(b["plan_ms"] for b in batches) / 1000 / n,
        "streaming.state_rows": sum(b["state_rows"] for b in last.values()) / n,
        "streaming.state_mb": sum(b["state_bytes"] for b in last.values()) / 2**20 / n,
        "streaming.input_rows_per_s":
            sum(b["input_rows"] for b in batches) / trig_s if trig_s else 0.0,
        "host.steal_s": stats.median([p["steal_s"] for p in res["passes"]]),
        "host.load1": stats.median([p["load1"] for p in res["passes"]]),
        # Passes run untraced, traced, untraced, traced, ... Leaving out the
        # cold first pass and comparing means cancels a steady warm-up drift.
        "trace.overhead_frac":
            statistics.mean(p["wall_s"] for p in traced)
            / statistics.mean(p["wall_s"] for p in plain[1:]) - 1,
    }

    # Per-query ledger, a mean per traced pass.
    ledger = {}
    for p in traced:
        for q in p["queries"]:
            e = ledger.setdefault(q["name"], dict.fromkeys(
                ("build_s", "action_s", "jobs", "stages", "tasks", "task_core_s", "mb_moved",
                 "plan_s", "batches"), 0.0))
            e["build_s"] += q["build_s"] / n
            e["action_s"] += q["action_s"] / n
    for j in jobs:
        e = ledger.get(query_of(j))
        if e is not None:
            e["jobs"] += 1 / n
            e["stages"] += j["stages"] / n
            e["tasks"] += j["tasks"] / n
            e["task_core_s"] += j["run_ms"] / 1000 / n
            e["mb_moved"] += (j["result_bytes"] + j["shuffle_write_bytes"]) / 2**20 / n
    for q in sql:
        if query_of(q) in ledger:
            ledger[query_of(q)]["plan_s"] += q["plan_ms"] / 1000 / n
    for b in batches:
        if query_of(b) in ledger:
            ledger[query_of(b)]["batches"] += 1 / n

    # Spark jobs and streaming batches become child spans of the span that
    # ran them, so self time separates driver-side work from cluster work.
    all_spans = list(spans)
    next_id = max((s["id"] for s in spans), default=-1) + 1
    for j in L["jobs"]:
        if j["end_ms"] >= 0:
            all_spans.append({"id": next_id, "parent": j["span"], "name": "spark.job",
                              "start_ns": j["start_ms"] * 10**6, "end_ns": j["end_ms"] * 10**6})
            next_id += 1
    for b in L["batches"]:
        all_spans.append({"id": next_id, "parent": b["span"], "name": "streaming.batch",
                          "start_ns": b["start_ms"] * 10**6,
                          "end_ns": (b["start_ms"] + b["trigger_ms"]) * 10**6})
        next_id += 1
    self_ns = stats.self_times(all_spans)
    all_parents = {s["id"]: s["parent"] for s in all_spans}
    self_by_name = {}
    for s in all_spans:
        if stats.ancestor(s["id"], all_parents, pass_of) is not None:
            key = s["name"].split(":", 1)[0]
            self_by_name[key] = self_by_name.get(key, 0.0) + self_ns[s["id"]] / 1e9 / n
    ops_ok = L["kernel"]["ok"] and all(o["ok"] for o in L["operators"])
    return m, ledger, all_spans, self_ns, self_by_name, ops_ok


def ledger_table(ledger):
    cols = ("build_s", "action_s", "jobs", "stages", "tasks", "task_core_s", "mb_moved",
            "plan_s", "batches")
    rows = ["| query | " + " | ".join(cols) + " |", "|---" * (len(cols) + 1) + "|"]
    for name, e in sorted(ledger.items(), key=lambda kv: -(kv[1]["build_s"] + kv[1]["action_s"])):
        rows.append(f"| `{name}` | " + " | ".join(f"{e[c]:.3f}" for c in cols) + " |")
    return "\n".join(rows) + "\n"


def main(argv):
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    cores = len(os.sched_getaffinity(0))
    try:
        cp = build.classpath()
    except build.BuildError as e:
        print(f"benchmark build failed: {e}", file=sys.stderr)
        return 2
    if not (FIXTURES / "lineitem.parquet").exists():
        print(f"missing fixtures under {FIXTURES}", file=sys.stderr)
        return 2
    goldens = json.loads(GOLDENS.read_text()) if GOLDENS.exists() else {"queries": {}}

    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        launch, res = run_jvm(args, cp, cores, work)
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.write_goldens:
        known = goldens.get("known_defects", {})
        errs = {c["name"]: c["error"] for c in res["checks"] if c["error"]}
        if errs:
            print(f"queries failed while recording goldens: {errs}", file=sys.stderr)
            return 1
        goldens["queries"] = {c["name"]: {"rows": c["rows"], "digest": c["digest"]}
                              for c in res["checks"] if c["name"] not in known}
        GOLDENS.write_text(json.dumps(goldens, indent=1, sort_keys=True) + "\n")
        print(f"wrote {len(goldens['queries'])} digests to {GOLDENS}", file=sys.stderr)
        return 0

    bad = check_outputs(res, goldens)
    timed_errors = [(p["index"], q["name"], q["error"])
                    for p in res["passes"] for q in p["queries"] if q["error"]]
    attempted = len(res["checks"]) + sum(len(p["queries"]) for p in res["passes"])
    failed = len(bad) + len(timed_errors)

    plain = [p for p in res["passes"] if not p["traced"]]
    e2e, lat = end_to_end(res, launch, plain, failed, attempted)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": cores,
              "heap": args.heap, "fixtures": "sf0.01", "failed_frac": failed / attempted,
              "output_failures": bad, "timed_errors": timed_errors,
              "latency_samples": len(lat), "query_p90": stats.percentile(lat, 0.9),
              "query_tail": stats.tail(lat),
              "passes": [dict({k: p[k] for k in ("index", "traced", "wall_s", "cpu_s", "steal_s",
                                                   "load1")},
                              queries={q["name"]: round(q["build_s"] + q["action_s"], 4)
                                       for q in p["queries"]})
                         for p in res["passes"]],
              "check_s": {c["name"]: c["seconds"] for c in res["checks"]},
              "end_to_end": {k: v for k, (v, _) in e2e.items()},
              "host": {"steal_s": stats.median([p["steal_s"] for p in res["passes"]]),
                       "load1": stats.median([p["load1"] for p in res["passes"]])}}
    if args.trace:
        m, ledger, all_spans, self_ns, self_by_name, ops_ok = per_layer(res, cores)
        if not ops_ok:
            failed += 1
            record["layer_probe_failures"] = {"kernel": res["layer"]["kernel"],
                                              "operators": res["layer"]["operators"]}
        metrics = {k: (v, PER_LAYER_UNITS[k]) for k, v in m.items()}
        run_id = f"{args.workload}-{args.seed}-{int(launch * 1000)}"
        record.update(per_layer=m, ledger=ledger, self_s_by_span_name=self_by_name,
                      run_id=run_id,
                      spans=[dict(s, self_ns=self_ns[s["id"]], run_id=run_id)
                             for s in all_spans],
                      kernel=res["layer"]["kernel"], operators=res["layer"]["operators"])
    else:
        metrics = e2e
    missing = [k for k, (v, _) in metrics.items() if v is None]
    if missing:
        print(f"metrics without a value: {missing}", file=sys.stderr)
        failed += 1

    outdir = BENCH / "out"
    outdir.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (outdir / f"{stem}.json").write_text(json.dumps(record, indent=1) + "\n")
    if args.trace:
        (outdir / f"{stem}-ledger.md").write_text(ledger_table(record["ledger"]))
    for p in record["passes"]:
        print(f"pass {p['index']} traced={p['traced']} wall_s={p['wall_s']:.3f} "
              f"cpu_s={p['cpu_s']:.3f} host.steal_s={p['steal_s']:.2f} "
              f"host.load1={p['load1']:.2f}", file=sys.stderr)
    for name, why in bad.items():
        print(f"output check failed: {name}: {why}", file=sys.stderr)
    for i, name, err in timed_errors:
        print(f"pass {i}: {name} failed: {err}", file=sys.stderr)

    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items() if v is not None},
    }))
    return 0 if correct else 1


PER_LAYER_UNITS = {
    "queries.build_s": "s", "queries.action_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_core_s": "core-s", "spark.task_cpu_core_s": "core-s",
    "spark.task_gc_core_s": "core-s", "spark.core_util": "fraction", "spark.no_job_s": "s",
    "spark.result_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "sql.executions": "count", "sql.plan_s": "s",
    "plumba.kernel_fold_rows_per_core_s": "rows/core-s",
    "plumba.kernel_scan_rows_per_core_s": "rows/core-s",
    "plumba.collect_fold_seq_s": "s", "plumba.collect_fold_merge_s": "s",
    "plumba.collect_scan_seq_s": "s", "plumba.collect_scan_merge_s": "s",
    "plumba.group_fold_s": "s", "plumba.group_fold_merge_s": "s",
    "plumba.group_scan_s": "s", "plumba.group_scan_merge_s": "s",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.add_batch_s": "s", "streaming.commit_s": "s", "streaming.plan_s": "s",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.input_rows_per_s": "1/s",
    "host.steal_s": "s", "host.load1": "count", "trace.overhead_frac": "fraction",
}

if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
