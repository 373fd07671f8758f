#!/usr/bin/env python3
"""Benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark harness in
perfbench/harness from source (sbt, offline) when their sources changed,
generates the workload's inputs from the seed, runs one JVM with
local[<cpus>] Spark, checks the outputs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 reports the per-layer metrics and leaves
the spans in perfbench/.work/<workload>-trace1/out/spans.jsonl.
Exits non-zero when an output check fails.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

# Input sizes: why each was chosen is in README.md.
SIZES = {
    "analytics_tpch": {"sf": 0.01},
    "kmeans_lloyd": {"points": 250_000},
    "curate_dedup": {"docs": 2_000},
}
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 160
# What spark-submit adds for Spark on JDK 17 (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole
    group and waits for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_digest(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"), os.path.join(HERE, "harness")]
    for top in tops:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target" and not (
                x == "project" and os.path.basename(d) == "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, root).encode())
                    h.update(open(p, "rb").read())
    return h.hexdigest()


def build(root):
    """Compiles engine + harness with sbt unless the last build saw the
    same sources; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        b = json.load(open(stamp))
        if b["digest"] == digest:
            return b["classpath"]
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    out = os.path.join(WORK, "build.log")
    with open(out, "w") as f:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export harness/Runtime/fullClasspath"],
                       timeout=600, cwd=os.path.join(HERE, "harness"), env=env,
                       stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = [l.strip() for l in open(out) if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        sys.exit(f"build failed (exit {rc}); see {out}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def make_inputs(workload, seed, inp):
    """Generates this run's inputs; returns generator facts the checks need."""
    import gen
    os.makedirs(inp)
    size = SIZES[workload]
    if workload == "analytics_tpch":
        gen.tpch(inp, seed, size["sf"])
        return {}
    if workload == "kmeans_lloyd":
        gen.points(f"{inp}/points.txt", seed, size["points"])
        return {"points": size["points"]}
    n, clusters = gen.corpus(f"{inp}/docs", seed, size["docs"])
    return {"docs": n, "clusters": clusters}


def quantile(xs, q):
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def end_to_end(res, ops, items):
    t = [o["s"] for o in ops]
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "ok_frac": (len(ops) / len(res["ops"]), "ratio"),
        "op_p50_s": (statistics.median(t), "s"),
        "items_per_s": (sum(items(o) for o in ops) / sum(t), "1/s"),
        "proc_cpu_s_per_op": (statistics.mean(o["cpu_s"] for o in ops), "s"),
    }


LAYER_COUNTS = {  # raw listener counter -> (metric, scale, unit)
    "analysis_ms": ("plan.analysis_ms", 1, "ms"),
    "optimization_ms": ("plan.optimization_ms", 1, "ms"),
    "planning_ms": ("plan.planning_ms", 1, "ms"),
    "compiles": ("codegen.compiles", 1, "count"),
    "compile_ns": ("codegen.compile_ms", 1e-6, "ms"),
    "jobs": ("sched.jobs", 1, "count"),
    "stages": ("sched.stages", 1, "count"),
    "tasks": ("sched.tasks", 1, "count"),
    "driver_only_ms": ("driver_s", 1e-3, "s"),
    "run_ms": ("exec.run_s", 1e-3, "s"),
    "cpu_ns": ("exec.cpu_s", 1e-9, "s"),
    "gc_ms": ("exec.gc_s", 1e-3, "s"),
    "shuffle_write_b": ("shuffle.write_mb", 1e-6, "MB"),
    "shuffle_read_b": ("shuffle.read_mb", 1e-6, "MB"),
    "fetch_wait_ms": ("shuffle.fetch_wait_s", 1e-3, "s"),
    "spill_b": ("spill_mb", 1e-6, "MB"),
    "input_b": ("sources.input_mb", 1e-6, "MB"),
    "output_b": ("sources.output_mb", 1e-6, "MB"),
}
COUNT_METRICS = {"codegen.compiles", "sched.jobs", "sched.stages", "sched.tasks",
                 "shuffle.write_mb", "shuffle.read_mb", "spill_mb", "sources.input_mb",
                 "sources.output_mb"}
SPAN_METRICS = {  # span name -> metric
    "plan.build": "plan.build_s",
    "sources.points_read": "sources.points_read_s",
    "sources.init_sample": "sources.init_sample_s",
    "sources.write": "sources.write_s",
    "kmeans.lloyd": "kmeans.lloyd_s",
    "curate.filter": "curate.filter_s",
    "dedup.exact": "dedup.exact_s",
    "dedup.shingle": "dedup.shingle_s",
    "dedup.minhash": "dedup.minhash_s",
    "dedup.lsh": "dedup.lsh_s",
    "dedup.verify": "dedup.verify_s",
    "dedup.components": "dedup.components_s",
}
TPCH_ENTRIES = ["q1_pricing", "q2_mincost", "q3_revenue", "q4_priority", "q5_region",
                "q6_forecast", "q7_volume", "q8_mktshare", "q9_profit", "q10_returns",
                "q11_important", "q12_shiplag", "q13_custdist", "q14_promo",
                "q15_topsupp", "q16_supptype", "q17_smallqty", "q18_bigorders",
                "q19_disjunctive", "q20_promotion", "q21_waiting", "q22_inactive"]


def per_layer(res, spans, cpus):
    """Per-operation layer metrics from the traced operations. Times
    average over every traced operation; counts come from the first
    traced round only, so they repeat exactly across runs of a seed."""
    traced = [o for o in res["ops"] if o["traced"] and o["ok"]]
    first = [o for o in traced if o["round"] == 0]
    mean = lambda xs: statistics.mean(xs) if xs else 0.0
    m = {}
    for raw, (name, scale, unit) in LAYER_COUNTS.items():
        base = first if name in COUNT_METRICS else traced
        m[name] = (mean([o["layers"].get(raw, 0) * scale for o in base]), unit)
    m["exec.slot_util"] = (
        sum(o["layers"].get("run_ms", 0) / 1e3 for o in traced)
        / (cpus * sum(o["s"] for o in traced)), "ratio")
    m["storage.persisted_rdds_after_op"] = (mean([o["residue_rdds"] for o in first]), "count")
    by_op = {}
    for s in spans:
        key = (s["op"], s["name"])
        by_op[key] = by_op.get(key, 0.0) + (s["end_ns"] - s["start_ns"]) / 1e9
    for span, name in SPAN_METRICS.items():
        m[name] = (mean([by_op.get((o["id"], span), 0.0) for o in traced]), "s")

    km = [o for o in traced if "iters" in o["info"]]
    m["kmeans.iters"] = (mean([o["info"]["iters"] for o in km if o["round"] == 0]), "count")
    m["kmeans.iter_s"] = (mean([by_op.get((o["id"], "kmeans.lloyd"), 0.0) / o["info"]["iters"]
                               for o in km]), "s")
    cur = [o for o in first if "candidate_pairs" in o["info"]]
    ci = lambda k: mean([o["info"][k] for o in cur])
    m["curate.filter_keep_frac"] = (ci("kept") / ci("input_docs") if cur else 0.0, "ratio")
    m["dedup.candidate_pairs"] = (ci("candidate_pairs"), "count")
    m["dedup.verified_pairs"] = (ci("verified_pairs"), "count")
    m["dedup.survivors"] = (ci("survivors"), "count")
    m["dedup.verify_yield"] = (
        ci("verified_pairs") / ci("candidate_pairs") if cur and ci("candidate_pairs") else 0.0,
        "ratio")
    for q in TPCH_ENTRIES:
        m[f"analytics.q.{q}_s"] = (mean([o["s"] for o in traced if o["name"] == q]), "s")

    # Tracing overhead: traced against untraced operations of the same
    # name, median against median, summed over names seen both ways.
    plain = [o for o in res["ops"] if not o["traced"] and o["ok"]]
    names = {o["name"] for o in traced} & {o["name"] for o in plain}
    med = lambda os_, n: statistics.median([o["s"] for o in os_ if o["name"] == n])
    t_sum = sum(med(traced, n) for n in names)
    p_sum = sum(med(plain, n) for n in names)
    m["trace.overhead_frac"] = (t_sum / p_sum - 1 if p_sum else 0.0, "ratio")
    m["op_p90_s"] = (quantile([o["s"] for o in traced], 0.9), "s")
    m["mem.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    m["mem.heap_after_gc_mb"] = (res["heap_after_gc_mb"], "MB")
    m["setup.first_round_s"] = (res["setup_s"][0], "s")
    m["setup.warmup_s"] = (res["warmup_s"], "s")
    m["host.load1"] = (mean([o["load1"] for o in res["ops"]]), "load")
    m["host.steal_s"] = (sum(o["steal_s"] for o in res["ops"]), "s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))):
        sys.exit("run from the root of a graft checkout (no build.sbt or src/main here)")
    os.makedirs(WORK, exist_ok=True)
    classpath = build(root)

    work = os.path.join(WORK, f"{a.workload}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inp, out = os.path.join(work, "input"), os.path.join(work, "out")
    facts = make_inputs(a.workload, a.seed, inp)
    os.makedirs(out)
    cpus = len(os.sched_getaffinity(0))

    cmd = (["java", f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), inp, out, str(cpus)])
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as f:
        rc = run_group(cmd, timeout=JVM_TIMEOUT_S, cwd=work, stdout=f,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"benchmark JVM exited {rc}; see {work}/jvm.log")
    res = json.load(open(os.path.join(out, "result.json")))
    ops = [o for o in res["ops"] if o["ok"]]
    if not ops:
        print(json.dumps({"correct": False, "attempted": len(res["ops"]),
                          "failed": len(res["ops"]), "metrics": {}}))
        return 1
    log(f"{a.workload}: jvm {time.time() - t0:.1f}s, {len(res['ops'])} ops, "
        f"load1 {min(o['load1'] for o in res['ops']):.2f}-"
        f"{max(o['load1'] for o in res['ops']):.2f}, "
        f"steal {sum(o['steal_s'] for o in res['ops']):.2f}s")

    import checks
    if a.workload == "analytics_tpch":
        bad = checks.analytics(inp, os.path.join(out, "check"))
        items = lambda o: 1
    elif a.workload == "kmeans_lloyd":
        bad = checks.kmeans(os.path.join(inp, "points.txt"), ops)
        items = lambda o: facts["points"] * o["info"]["iters"]
    else:
        bad = checks.curate(os.path.join(out, "curate-out"), ops, facts["clusters"],
                            f"{a.seed}/{facts['docs']}", os.path.join(WORK, "curate_counts.json"))
        items = lambda o: facts["docs"]
    for b in bad:
        log(f"CHECK FAILED {b}")

    if a.trace:
        spans = [json.loads(l) for l in open(os.path.join(out, "spans.jsonl"))]
        metrics = per_layer(res, spans, cpus)
        log(f"spans: {os.path.join(out, 'spans.jsonl')}")
    else:
        metrics = end_to_end(res, ops, items)
    print(json.dumps({
        "correct": not bad,
        "attempted": len(res["ops"]),
        "failed": len(res["ops"]) - len(ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
