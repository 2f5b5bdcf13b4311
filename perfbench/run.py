#!/usr/bin/env python3
"""graft benchmark: one workload, one Spark session, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the repo's Scala sources
together with the benchmark's own (perfbench/build.sbt) into .bench_build/;
later runs reuse that build while the sources are unchanged. The last line of
standard output is one JSON object: correct, attempted, failed and metrics
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
README.md in this directory defines the workloads and every metric.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import corpus  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "sf0.01.tsv")
DEADLINE_S = 170  # every run after the build must end within 180 s

ITERATIVE_MIX = ["knn_graph_topk", "bm25_topk_indexed"]
# `passes` is the fewest timed passes per run: the pipeline's passes are
# short and noisy, so its median rests on several. `warmup` is the untimed
# passes after the check pass: the pipeline's pass time falls by a third
# over its first passes as the JIT compiles it. `tables` are what the
# queries read (the warm-up scan, and the base of sources.read_amplification).
WORKLOADS = {
    "article_pipeline": {"articles": 10200, "passes": 4, "warmup": 2},
    "iterative_mix": {"ops": ITERATIVE_MIX, "passes": 1, "warmup": 0,
                      "tables": ["documents", "embeddings"]},
}

# JDK 17 module opens Spark needs outside spark-submit (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Parallel GC with a fixed young generation: under G1's adaptive sizing the
# same run's peak RSS landed on either of two levels about 25% apart.
JVM_FLAGS = ["-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads, to decide whether to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building (sbt benchClasspath)")
    t0 = time.monotonic()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                          cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.monotonic() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def control_s():
    """Fixed single-threaded CPU-bound control: a machine-noise indicator."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def quantile(values, q):
    """Linear-interpolation quantile (numpy's default)."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def java(main, args, work, timeout_s, classpath):
    """Runs one JVM in `work` (its log in work/jvm.log) and waits for it."""
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, main] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: JVM exceeded {timeout_s:.0f} s and was stopped")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")


def pass_records(passes, traced):
    return [p["ops"] for p in passes if p["traced"] == traced]


def end_to_end(raw):
    # Times of failed operations are left out; if nothing succeeded, the
    # times to failure still make a result (reported with correct=false).
    passes = pass_records(raw["passes"], False)
    clean = [ops for ops in passes if all(o["ok"] for o in ops)] or passes
    pass_s = [sum(o["latency_ms"] for o in ops) / 1e3 for ops in clean]
    lat = ([o["latency_ms"] / 1e3 for ops in passes for o in ops if o["ok"]]
           or [o["latency_ms"] / 1e3 for ops in passes for o in ops])
    med_pass = statistics.median(pass_s)
    return {
        "setup_s": {"value": statistics.median(raw["setup_s"]), "unit": "s"},
        "pass_s": {"value": med_pass, "unit": "s"},
        "latency_p50_s": {"value": quantile(lat, 0.5), "unit": "s"},
        "latency_p90_s": {"value": quantile(lat, 0.9), "unit": "s"},
        "records_per_s": {"value": raw["input_records"] / med_pass, "unit": "1/s"},
        "peak_rss_mb": {"value": raw["peak_rss_kb"] / 1024, "unit": "MB"},
    }, {"passes": len(pass_s), "latency_samples": len(lat)}


def op_layers(o, pipeline):
    """Per-layer counters of one traced operation."""
    jobs = o["jobs"]
    build_end = o["start_ms"] + o["build_ms"]
    s = lambda key: sum(j[key] for j in jobs)  # noqa: E731
    build_jobs = [j for j in jobs if j["start_ms"] <= build_end]
    # The pipeline's "builder call" is ArticlePipeline.run, no graft.ops
    # builder: its time and jobs belong to pipeline.*, not to ops.*.
    pipe_jobs, ops_jobs = (build_jobs, []) if pipeline else ([], build_jobs)
    return {
        "ops.build_ms": 0.0 if pipeline else o["build_ms"],
        "ops.build_jobs": len(ops_jobs),
        "plans.analysis_ms": sum(p["analysis_ms"] for p in o["plans"]),
        "plans.optimization_ms": sum(p["optimization_ms"] for p in o["plans"]),
        "plans.planning_ms": sum(p["planning_ms"] for p in o["plans"]),
        "plans.executions": len(o["sql_executions"]),
        "sched.jobs": len(jobs),
        "sched.stages": s("stages"),
        "sched.tasks": s("tasks"),
        "exec.materialize_ms": o["materialize_ms"],
        "exec.task_cpu_ms": s("task_cpu_ms"),
        "exec.task_run_ms": s("task_run_ms"),
        "exec.task_gc_ms": s("task_gc_ms"),
        "shuffle.write_bytes": s("shuffle_write_bytes"),
        "shuffle.read_bytes": s("shuffle_read_bytes"),
        "shuffle.records": s("shuffle_records"),
        "shuffle.spill_bytes": s("spill_bytes"),
        "sources.input_bytes": s("input_bytes"),
        "sources.input_records": s("input_records"),
        "pipeline.run_ms": o["build_ms"] if pipeline else 0.0,
        "pipeline.jobs": len(pipe_jobs),
        "pipeline.output_bytes": sum(j["output_bytes"] for j in pipe_jobs),
        "pipeline.output_records": sum(j["output_records"] for j in pipe_jobs),
        "jvm.gc_ms": o["gc_ms"],
    }


UNITS = {
    "ops.build_ms": "ms", "ops.build_jobs": "count",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "plans.executions": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "exec.materialize_ms": "ms", "exec.task_cpu_ms": "ms", "exec.task_run_ms": "ms",
    "exec.task_gc_ms": "ms", "exec.busy_cores": "cores",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.records": "count", "shuffle.spill_bytes": "bytes",
    "sources.input_bytes": "bytes", "sources.input_records": "count",
    "sources.read_amplification": "ratio",
    "pipeline.run_ms": "ms", "pipeline.jobs": "count", "pipeline.output_bytes": "bytes",
    "pipeline.output_records": "count",
    "jvm.gc_ms": "ms", "trace_overhead_frac": "frac",
}


def per_layer(raw, workload):
    """Per-pass layer metrics: medians over the traced passes."""
    pipeline = workload == "article_pipeline"
    per_pass = []
    for ops in pass_records(raw["passes"], True):
        layers = [op_layers(o, pipeline) for o in ops]
        row = {k: sum(l[k] for l in layers) for k in layers[0]}
        wall_ms = sum(o["latency_ms"] for o in ops)
        row["exec.busy_cores"] = row["exec.task_run_ms"] / wall_ms
        row["sources.read_amplification"] = row["sources.input_bytes"] / raw["input_bytes"]
        row["_wall_ms"] = wall_ms
        per_pass.append(row)
    untraced = [sum(o["latency_ms"] for o in ops) for ops in pass_records(raw["passes"], False)]
    metrics = {k: {"value": statistics.median(r[k] for r in per_pass), "unit": UNITS[k]}
               for k in UNITS if k != "trace_overhead_frac"}
    traced_ms = statistics.median(r["_wall_ms"] for r in per_pass)
    metrics["trace_overhead_frac"] = {
        "value": traced_ms / statistics.median(untraced) - 1, "unit": "frac"}
    return metrics


def spans(raw, workload):
    """Sidecar: operation -> build/plan/materialize -> SQL executions and jobs."""
    out = []
    for n, p in enumerate(raw["passes"]):
        if not p["traced"]:
            continue
        for o in p["ops"]:
            t0 = o["start_ms"]
            b, pl = t0 + o["build_ms"], t0 + o["build_ms"] + o["plan_ms"]
            end = t0 + o["latency_ms"]
            parent = lambda t: "build" if t <= b else ("plan" if t <= pl else "materialize")  # noqa: E731
            # A job's own call site is its final stage's; jobs an SQL action
            # submits from a pool thread are named after that action instead.
            actions = {e["id"]: e["description"] for e in o["sql_executions"]}
            jobs = [dict(j, parent=parent(j["start_ms"]),
                         site=actions.get(j["sql_execution_id"], j["call_site"]))
                    for j in o["jobs"]]
            job_ms = {}
            for j in jobs:
                job_ms[j["site"]] = job_ms.get(j["site"], 0) + j["end_ms"] - j["start_ms"]
            out.append({
                "pass": n, "op": o["op"], "ok": o["ok"], "start_ms": t0, "end_ms": end,
                "latency_ms": o["latency_ms"],
                "spans": [
                    {"name": "build", "start_ms": t0, "end_ms": b},
                    {"name": "plan", "start_ms": b, "end_ms": pl},
                    {"name": "materialize", "start_ms": pl, "end_ms": end},
                ],
                "plans": o["plans"],
                "sql_executions": [dict(e, parent=parent(e["start_ms"]))
                                   for e in o["sql_executions"]],
                "jobs": jobs,
                "job_ms_by_site": job_ms,
                "layers": op_layers(o, workload == "article_pipeline"),
            })
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(src/main/scala/graft not found)")
    classpath = build()
    started = time.monotonic()  # the first run of a checkout may build for minutes

    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    jvm_args = ["--workload", args.workload, "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--passes", str(spec["passes"]),
                "--warmup", str(spec["warmup"]),
                "--work", work, "--out", f"{work}/raw.json",
                "--cpus", str(cpus)]
    if "ops" in spec:
        order = list(spec["ops"])
        random.Random(args.seed).shuffle(order)
        jvm_args += ["--order", ",".join(order), "--tables", ",".join(spec["tables"]),
                     "--data", DATA, "--expected", EXPECTED]
    else:
        records, funnel = corpus.generate(args.seed, spec["articles"])
        path = os.path.join(work, "articles.json")
        corpus.write(path, records)
        jvm_args += ["--corpus", path, "--funnel", ",".join(
            str(funnel[k]) for k in ("loaded", "incomplete", "duplicates", "passed", "failed"))]

    control_start = control_s()
    java("perfbench.Main", jvm_args, work, DEADLINE_S - (time.monotonic() - started), classpath)
    control_end = control_s()
    with open(f"{work}/raw.json") as f:
        raw = json.load(f)

    ops = raw["checks"] + [o for p in raw["passes"] for o in p["ops"]]
    failures = [{"op": o["op"], "error": o["error"]} for o in ops if not o["ok"]]
    attempted, failed = len(ops), len(failures)

    e2e, counts = end_to_end(raw)
    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "failed_frac": failed / attempted, "failures": failures[:20],
        "control_start_s": control_start, "control_end_s": control_end,
        "setup_cold_s": raw["setup_cold_s"], "setup_samples_s": raw["setup_s"], **counts,
    }
    if args.trace:
        metrics = per_layer(raw, args.workload)
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        sidecar = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(sidecar, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "operations": spans(raw, args.workload)}, f)
        detail["trace_file"] = os.path.relpath(sidecar, ROOT)
        detail["untraced"] = {k: v["value"] for k, v in e2e.items()}
    else:
        metrics = e2e
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
