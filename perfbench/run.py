#!/usr/bin/env python3
"""Benchmark for the graft Spark engine: one workload per call.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call compiles the engine and the
benchmark's JVM side with the Scala compiler shipped in the Spark jars
($SPARK_HOME/jars, else the directory build.sbt names as unmanagedBase);
every file it makes lives under .bench_build/perfbench/.

Each call generates the workload's tables from the seed, starts one JVM
that sets the engine up (session start and four warm-up passes), runs the
operation mix as a single-client closed loop of whole passes for --seconds, checks every
timed output (digest against the warm-up output, which in turn is compared
with the DuckDB answer of the query's SparkEntry.oracleSql), and prints a
detail line and then one result line: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. perfbench/README.md has the details.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

# Why each workload exists is recorded in perfbench/README.md.
WORKLOADS = {
    "ts_panel": {
        "tables": {"events": 10_000, "lineitem": 60_000},
        "ops": ["q_study_facade_events", "q_asof_join_events", "q_regimes_core_events",
                "q_stationarity_core_events", "q_weighted_bins_lineitem"],
    },
    "llm_corpus": {
        "tables": {"documents": 5_000, "embeddings": 2_000},
        "ops": ["q_dedup_minhash_docs", "q_collocations_docs", "q_bm25_topk_docs",
                "q_similarity_topk_brute", "q_cms_stream_docs"],
    },
}
# Passed as -Xms too: when G1 shrank the heap after each pass's System.gc(),
# whole runs came out up to 30% slower at random.
HEAP = "3g"
JVM_BUDGET_S = 150  # a call must end within 180 s; the DuckDB check follows the JVM
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("cannot locate the Spark jars: set SPARK_HOME")
    return m.group(1)


def build(root, work, jars):
    """Compile src/main and the benchmark's JVM side once per source digest.
    Class directories of other digests are kept, so switching between two
    source trees in one checkout does not recompile."""
    sources = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        raise SystemExit("no engine sources under src/main/scala")
    sources += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(work, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(sources)} sources")
    t0 = time.time()
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                    "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, "-nowarn", "-d", tmp]
                   + sources,
                   check=True, stdout=sys.stderr)
    os.rename(tmp, classes)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def make_inputs(work, workload, seed):
    """Generate (or reuse) the seeded tables; returns (dir, rows, digest).
    The directory is named after the generator's source, the table sizes
    and the seed, so a changed generator or size never reuses old tables."""
    spec = WORKLOADS[workload]["tables"]
    h = hashlib.sha256()
    with open(gen.__file__, "rb") as f:
        h.update(f.read())
    h.update(json.dumps([spec, seed], sort_keys=True).encode())
    d = os.path.join(work, "data", f"{workload}-{seed}-{h.hexdigest()[:16]}")
    meta = os.path.join(d, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        rows, digest = gen.generate(spec, seed, d)
        with open(meta, "w") as f:
            json.dump({"rows": rows, "digest": digest}, f)
    with open(meta) as f:
        m = json.load(f)
    return d, m["rows"], m["digest"]


def run_jvm(classes, jars, work, workload, data, out, seconds, trace, deadline):
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens, f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
            "perfbench.PerfBench", workload, data, out, str(seconds), str(trace),
            ",".join(WORKLOADS[workload]["ops"])])
    with open(os.path.join(work, f"jvm-{workload}.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("JVM exceeded its time budget")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        with open(os.path.join(work, f"jvm-{workload}.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"JVM exited with {code}")
    with open(os.path.join(out, "raw.json")) as f:
        return json.load(f)


def check_references(raw, workload, data, cache):
    """DuckDB check of each operation's reference output: {op: [problems]}.
    DuckDB answers are cached under `cache`, named after the input digest."""
    con = oracle.connect(data)
    result = {}
    for op in WORKLOADS[workload]["ops"]:
        sql = raw["oracle_sql"].get(op)
        ref = raw["references"].get(op)
        if sql is None:
            result[op] = ["no oracle SQL"]
        elif ref is None:
            result[op] = ["no reference output: " + raw["warm_errors"].get(op, "?")]
        else:
            want = oracle.expected(con, sql, cache)
            result[op] = oracle.compare(oracle.read_output(ref), want)
    return result


def tally(execs, checks):
    """Failed timed calls: those that threw or whose output digest differed
    from the reference, plus every call of an operation whose reference
    failed the DuckDB check. Returns (failed calls, {op: first reason})."""
    bad_ops = {op for op, problems in checks.items() if problems}
    failed = [e for e in execs if not e["ok"] or e["op"] in bad_ops]
    why = {}
    for e in failed:
        why.setdefault(e["op"], e["err"] or "; ".join(checks.get(e["op"], [])))
    return failed, why


def pass_walls(raw, traced):
    """Per pass: first call's start to last call's result, in s."""
    walls = []
    for p in raw["passes"]:
        if p["traced"] == traced:
            es = [e for e in raw["execs"] if e["pass"] == p["pass"]]
            walls.append((max(e["end"] for e in es) - min(e["start"] for e in es)) / 1e3)
    return walls


def end_to_end(raw, rows_total, samples):
    """End-to-end metrics, and the detail-line figures, from the untraced
    passes; latencies come from `samples` (the successful calls)."""
    walls = pass_walls(raw, traced=False)
    wall = statistics.median(walls)
    by_op = {}
    for e in samples:
        by_op.setdefault(e["op"], []).append((e["end"] - e["start"]) / 1e3)
    lat = [x for v in by_op.values() for x in v]
    q, tail_v, n = stats.tail(lat)
    metrics = {
        "wall_s": (wall, "s"),
        "rows_per_s": (rows_total / wall, "1/s"),
        "op_geomean_s": (stats.geomean([statistics.median(v) for v in by_op.values()]), "s"),
        "setup_s": (raw["setup_s"], "s"),
    }
    return metrics, {"pass_walls_s": walls,
                     "op_p50_s": statistics.median(lat),
                     "pass_cpu_s": [p["cpu_s"] for p in raw["passes"] if not p["traced"]],
                     "op_tail_s": tail_v,
                     "tail_percentile": q, "latency_samples": n,
                     "passes": len(walls), "peak_rss_mb": raw["peak_rss_mb"],
                     "op_calls_s": dict(sorted(by_op.items()))}


def owner(event):
    """(call id, step) of a job or stage from its job group, else None."""
    group = event.get("group") or ""
    return tuple(group.split("/", 1)) if "/" in group else None


def per_layer(raw, rows_total):
    """Per-layer metrics from the traced passes, as means per call. Jobs
    and stages belong to a call's step through their job group
    `<call id>/<step>`; a span's children are the spans naming it parent."""
    execs = [e for e in raw["execs"] if e["traced"]]
    n = len(execs)
    spans = {}
    for s in raw["spans"]:
        spans.setdefault(s["id"], []).append(s)
    ids = {e["id"] for e in execs}
    jobs = [j for j in raw["jobs"] if (owner(j) or ("",))[0] in ids]
    stages = [s for s in raw["stages"] if (owner(s) or ("",))[0] in ids]
    jobs_of, stages_of = {}, {}
    for j in jobs:
        jobs_of.setdefault(owner(j)[0], []).append(j)
    for s in stages:
        stages_of.setdefault(owner(s)[0], []).append(s)
    qes = raw["qes"]  # the query listener is registered in traced passes only

    def iv(x):
        return (x["start"], x["end"])

    total = {k: 0.0 for k in ("build", "build_jobs", "build_self", "plan", "exec", "op_self",
                               "gap", "op", "jobs", "stages", "tasks")}
    per_op = {}
    for e in execs:
        sp = {s["name"]: s for s in spans[e["id"]]}
        op = iv(sp["op"])
        kids = [iv(s) for s in spans[e["id"]] if s["parent"] == "op"]
        call_jobs = jobs_of.get(e["id"], [])
        call_stages = stages_of.get(e["id"], [])
        b = iv(sp["build"]) if "build" in sp else (op[0], op[0])
        bj = [iv(j) for j in call_jobs if owner(j)[1] == "build"]
        total["build"] += b[1] - b[0]
        total["build_jobs"] += len(bj)
        total["build_self"] += stats.self_time(b, bj)
        total["plan"] += sp["plan"]["end"] - sp["plan"]["start"] if "plan" in sp else 0.0
        total["exec"] += sp["execute"]["end"] - sp["execute"]["start"] if "execute" in sp else 0.0
        total["op_self"] += stats.self_time(op, kids)
        gap = stats.self_time(op, [iv(s) for s in call_stages])
        total["gap"] += gap
        total["op"] += op[1] - op[0]
        total["jobs"] += len(call_jobs)
        total["stages"] += len(call_stages)
        total["tasks"] += sum(s["tasks"] for s in call_stages)
        per_op.setdefault(e["op"], []).append(
            {"driver_gap": gap / 1e3,
             **{k: (sp[k]["end"] - sp[k]["start"]) / 1e3 for k in ("op", "build", "plan", "execute")
                if k in sp}})

    def ssum(key):
        return sum(s.get(key, 0) for s in stages)

    def phase(name):
        return sum(x[name][1] - x[name][0] for x in qes if x[name])

    skews = [max(s["task_ms"]) / statistics.median(s["task_ms"]) for s in stages
             if len(s["task_ms"]) >= 2 and statistics.median(s["task_ms"]) >= 10]
    writes = [x for x in qes if x["write"]]
    traced_walls = pass_walls(raw, traced=True)
    plain_walls = pass_walls(raw, traced=False)
    passes = n / len({e["op"] for e in execs})  # calls per traced pass
    cg = raw["codegen"]
    m = {
        "build.s": (total["build"] / n / 1e3, "s"),
        "build.jobs": (total["build_jobs"] / n, "count"),
        "build.self_s": (total["build_self"] / n / 1e3, "s"),
        "plan.s": (total["plan"] / n / 1e3, "s"),
        "exec.s": (total["exec"] / n / 1e3, "s"),
        "op.self_s": (total["op_self"] / n / 1e3, "s"),
        "catalyst.analysis_ms": (phase("analysis") / n, "ms"),
        "catalyst.optimizer_ms": (phase("optimization") / n, "ms"),
        "catalyst.planning_ms": (phase("planning") / n, "ms"),
        "codegen.compile_ms": (sum(c["compile_ms"] for c in cg) / n, "ms"),
        "codegen.classes": (sum(c["classes"] for c in cg) / n, "count"),
        "sched.jobs": (total["jobs"] / n, "count"),
        "sched.stages": (total["stages"] / n, "count"),
        "sched.tasks": (total["tasks"] / n, "count"),
        "sched.driver_gap_s": (total["gap"] / n / 1e3, "s"),
        "sched.driver_gap_share": (total["gap"] / total["op"], "ratio"),
        "sched.max_concurrent_jobs": (stats.max_concurrent([(j["start"], j["end"]) for j in jobs]), "count"),
        "task.cpu_s": (ssum("cpu_ns") / n / 1e9, "s"),
        "task.run_s": (ssum("run_ms") / n / 1e3, "s"),
        "task.gc_ms": (ssum("gc_ms") / n, "ms"),
        "stage.skew_max_over_median": (max(skews) if skews else 1.0, "ratio"),
        "shuffle.write_bytes": (ssum("shuffle_write") / n, "bytes"),
        "shuffle.read_bytes": (ssum("shuffle_read") / n, "bytes"),
        "shuffle.fetch_wait_ms": (ssum("fetch_wait_ms") / n, "ms"),
        "shuffle.write_bytes_per_input_row": (ssum("shuffle_write") / passes / rows_total, "bytes/row"),
        "spill.mem_bytes": (ssum("spill_mem") / n, "bytes"),
        "spill.disk_bytes": (ssum("spill_disk") / n, "bytes"),
        "task.peak_exec_mem_bytes": (max([s.get("peak_mem", 0) for s in stages] or [0]), "bytes"),
        "scan.bytes": (ssum("scan_bytes") / n, "bytes"),
        "scan.rows": (ssum("scan_rows") / n, "rows"),
        "sink.bytes_written": (sum(x["bytes"] for x in writes) / n, "bytes"),
        "sink.files": (sum(x["files"] for x in writes) / n, "count"),
        "sink.s": (sum(x["dur_ms"] for x in writes) / n / 1e3, "s"),
        "trace.overhead_s": (statistics.median(traced_walls) - statistics.median(plain_walls), "s"),
    }
    ops = {name: {k: statistics.median([r[k] for r in rs if k in r]) for k in rs[0]}
           for name, rs in sorted(per_op.items())}
    # jobs of the traced passes that no call step claims, e.g. ones started
    # on a thread that did not inherit the job group
    unclaimed = sum(1 for j in raw["jobs"] if (owner(j) or ("",))[0] not in ids)
    return m, ops, unclaimed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind so that run_jvm stops the JVM before exiting
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    jars = spark_jars(root)
    classes = build(root, work, jars)
    data, rows, digest = make_inputs(work, args.workload, args.seed)
    out = os.path.join(work, "out", args.workload)
    shutil.rmtree(out, ignore_errors=True)
    raw = run_jvm(classes, jars, work, args.workload, data, out, args.seconds, args.trace,
                  time.time() + JVM_BUDGET_S)
    checks = check_references(raw, args.workload, data, os.path.join(work, "expected", digest))
    shutil.rmtree(out, ignore_errors=True)

    execs = raw["execs"]
    failed, why = tally(execs, checks)
    failed_ids = {e["id"] for e in failed}
    ok_execs = [e for e in execs if e["id"] not in failed_ids and not e["traced"]]
    rows_total = sum(rows.values())
    detail = {
        "workload": args.workload, "seed": args.seed,
        "input": {"digest": digest, "rows": rows, "rows_total": rows_total},
        "cores": raw["cores"], "max_heap_mb": raw["max_heap_mb"],
        "spark_version": raw["spark_version"],
        "failed_ratio": len(failed) / len(execs),
        "failures": [{"op": op, "count": sum(1 for e in failed if e["op"] == op), "why": w}
                     for op, w in sorted(why.items())],
        "oracle": {op: (p or "ok") for op, p in sorted(checks.items())},
    }
    if args.trace:
        metrics, detail["ops"], detail["unclaimed_jobs"] = per_layer(raw, rows_total)
    else:
        metrics, info = end_to_end(raw, rows_total, ok_execs or execs)
        detail.update(info)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": not failed, "attempted": len(execs), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
