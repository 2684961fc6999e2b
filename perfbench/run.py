#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: three workloads of registered
queries, run in one JVM by a closed-loop client (graft.perfbench.Main).

    python3 perfbench/run.py --workload pipeline_chain --seed 1 \
        --seconds 5 --trace 0

Builds the engine and the benchmark driver from source with sbt (only
when a source changed), runs one workload, checks every op's output
against perfbench/expected.json, and prints one JSON line last on
stdout. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones, and the run also writes its
spans and a per-op layer breakdown under perfbench/out/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
CLASSPATH = HERE / "target" / "perfbench-classpath.txt"
JVM_TIMEOUT_S = 165
MB = 1e6

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the group and
    waits for it, so nothing the benchmark started outlives it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def sources_fingerprint():
    files = sorted(
        list((ROOT / "src" / "main").rglob("*")) +
        list((HERE / "src" / "main").rglob("*")) +
        [HERE / "build.sbt", HERE / "project" / "build.properties"])
    h = hashlib.sha256()
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources differ from the last build and
    returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail("engine sources not found next to perfbench/; run from a full checkout")
    fp = sources_fingerprint()
    if CLASSPATH.is_file():
        stamp, cp = CLASSPATH.read_text().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    CLASSPATH.parent.mkdir(parents=True, exist_ok=True)
    log = CLASSPATH.parent / "perfbench-build.log"
    with open(log, "w") as lf:
        rc = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            timeout=840, cwd=HERE, env=env, stdout=lf,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = log.read_text().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cp = lines[-1].strip()
    CLASSPATH.write_text(fp + "\n" + cp + "\n")
    return cp


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Latency at the highest percentile with at least ten samples beyond
    it. With ten samples or fewer no percentile qualifies, and the
    maximum is reported instead (percentile 100, none beyond)."""
    s = sorted(xs)
    n = len(s)
    if n > 10:
        return s[n - 11], 100.0 * (n - 10) / n
    return s[-1], 100.0


def passes(ops, traced):
    by_pass = {}
    for o in ops:
        if o["traced"] == traced:
            by_pass.setdefault(o["pass"], []).append(o)
    return [by_pass[k] for k in sorted(by_pass)]


def end_to_end(raw):
    """The end-to-end metrics in BENCHMARK.json, and op_tail_s beside
    them: with one pass per run it rests on at most ten samples, so it
    is the pass's slowest op, whose spread across runs is too wide to
    gate on."""
    plain = passes(raw["ops"], False)
    lat = [o["wall_s"] for p in plain for o in p]
    tail_s, tail_pct = tail(lat)
    return {
        "setup_s": raw["setup_s"],
        "pass_s": median([sum(o["wall_s"] for o in p) for p in plain]),
        "op_p50_s": median(lat),
        "cpu_s": median([sum(o["cpu_s"] for o in p) for p in plain]),
    }, {"op_tail_s": tail_s, "op_tail_percentile": tail_pct,
        "op_samples": len(lat), "passes": len(plain)}


def op_layers(o, cpus):
    """Per-layer numbers of one traced op (or one pipeline stage call)."""
    wall = o["wall_s"]
    task_s = o["task_ms"] / 1e3
    busy_s = o["busy_ms"] / 1e3
    return {
        "wall_s": wall,
        "construct.s": o["construct_s"],
        "construct.jobs": o["construct_jobs"],
        "plan.analysis_ms": o["analysis_ms"],
        "plan.optimization_ms": o["optimization_ms"],
        "plan.planning_ms": o["planning_ms"],
        "plan.exchanges": o["exchanges"],
        "plan.sorts": o["sorts"],
        "plan.windows": o["windows"],
        "plan.broadcasts": o["broadcasts"],
        "sched.jobs": o["jobs"],
        "sched.stages": o["stages"],
        "sched.tasks": o["tasks"],
        "sched.single_task_stages": o["single_task_stages"],
        "sched.ms_per_job": 1e3 * wall / o["jobs"] if o["jobs"] else 0.0,
        "exec.task_s": task_s,
        "exec.cpu_s": o["cpu_ns"] / 1e9,
        "exec.gc_s": o["gc_ms"] / 1e3,
        "exec.busy_s": busy_s,
        "exec.parallel_eff": task_s / (wall * cpus) if wall > 0 else 0.0,
        "driver.self_s": wall - busy_s,
        "shuffle.write_mb": o["shuffle_write_b"] / MB,
        "shuffle.read_mb": o["shuffle_read_b"] / MB,
        # per op only: every shuffle block is local under local[N], so
        # this reads 0 on nearly every run
        "shuffle.fetch_wait_s": o["fetch_wait_ms"] / 1e3,
        "spill.mb": o["spill_b"] / MB,
        "scan.input_mb": o["input_b"] / MB,
        "scan.input_rows": o["input_rows"],
        "write.output_mb": o["output_b"] / MB,
        "storage.peak_mb": o["storage_peak_b"] / MB,
        "storage.retained_mb": o["storage_end_b"] / MB,
    }


SUMMED = [
    "construct.s", "construct.jobs", "plan.analysis_ms",
    "plan.optimization_ms", "plan.planning_ms", "plan.exchanges",
    "plan.sorts", "plan.windows", "plan.broadcasts", "sched.jobs",
    "sched.stages", "sched.tasks", "sched.single_task_stages",
    "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.busy_s",
    "driver.self_s", "shuffle.write_mb", "shuffle.read_mb", "spill.mb",
    "scan.input_mb", "scan.input_rows", "write.output_mb",
]
PIPELINE_STAGES = ["build", "delta", "absorb", "retrain", "persist", "load"]


def pass_layers(ops, cpus):
    """Sums a traced pass's per-op layers into workload numbers."""
    per_op = [op_layers(o, cpus) for o in ops]
    t = {k: sum(p[k] for p in per_op) for k in SUMMED}
    wall = sum(p["wall_s"] for p in per_op)
    t["sched.ms_per_job"] = 1e3 * wall / t["sched.jobs"] if t["sched.jobs"] else 0.0
    t["exec.parallel_eff"] = t["exec.task_s"] / (wall * cpus) if wall else 0.0
    t["storage.peak_mb"] = max(p["storage.peak_mb"] for p in per_op)
    t["storage.retained_mb"] = per_op[-1]["storage.retained_mb"]
    return t


def per_layer(raw, cpus):
    traced = passes(raw["ops"], True)
    summed = [pass_layers(p, cpus) for p in traced]
    metrics = {k: median([s[k] for s in summed]) for k in summed[0]}
    stage_ops = [op_layers(o, cpus) | {"stage": o["op"]} for o in raw["stages"]]
    for st in PIPELINE_STAGES:
        calls = [s for s in stage_ops if s["stage"] == st]
        metrics[f"pipeline.{st}_s"] = sum(s["wall_s"] for s in calls)
        metrics[f"pipeline.{st}_jobs"] = sum(s["sched.jobs"] for s in calls)
    plain = [sum(o["wall_s"] for o in p) for p in passes(raw["ops"], False)]
    traced_wall = [sum(o["wall_s"] for o in p) for p in traced]
    metrics["trace.overhead_frac"] = median(traced_wall) / median(plain) - 1.0
    breakdown = {
        "passes": [[op_layers(o, cpus) | {"op": o["op"]} for o in p]
                   for p in traced],
        "pipeline_stages": stage_ops,
    }
    return metrics, breakdown


def unit_of(name):
    """Unit of a per-layer metric, from its name's suffix."""
    if name.endswith(("_ms", "ms_per_job")):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith(("_frac", "_eff")):
        return "ratio"
    return "count"


def check(raw, expected):
    """Counts ops that failed or returned other rows than recorded."""
    attempted = failed = 0
    wrong = []
    for o in raw["ops"] + raw["stages"]:
        attempted += 1
        exp = expected.get(o["op"])
        bad = o["error"] != "" or (
            exp is not None and (o["rows"], o["hash"]) != (exp["rows"], exp["hash"]))
        if bad:
            failed += 1
            wrong.append(o["op"])
    return attempted, failed, wrong


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds like Ctrl-C, so run_bounded stops the JVM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    conf = json.loads((HERE / "workloads.json").read_text())
    wl = conf["workloads"].get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload!r}; have {sorted(conf['workloads'])}")
    data = Path(conf["data_root"])
    sf_dir, warm_dir = data / conf["scale"], data / conf["warm_scale"]
    for d in (sf_dir, warm_dir):
        if not (d / "lineitem.parquet").exists():
            fail(f"input tables not found in {d}")
    cp = build()

    # one core stays free for the driver thread, the JIT and the GC:
    # measured steadier than N = nproc on 4 cores, and no slower
    cpus = max(1, min(conf["cpus"], len(os.sched_getaffinity(0)) - 1))
    OUT.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    raw_path, log_path = OUT / f"{tag}.raw.json", OUT / f"{tag}.log"
    spans_path = OUT / f"{tag}.spans.jsonl"
    # scratch space of the JVM (Spark's local dir, the temp dirs the
    # SQLite round trip and the stage walk's persist write into)
    tmp = OUT / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{conf['heap']}", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}", "-cp", cp, "graft.perfbench.Main",
        "--ops", ",".join(wl["ops"]), "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(cpus), "--sf-dir", str(sf_dir), "--warm-dir", str(warm_dir),
        "--stage-walk", "1" if wl.get("stage_walk") else "0",
        "--out", str(raw_path), "--spans", str(spans_path)]
    if raw_path.exists():
        raw_path.unlink()
    with open(log_path, "w") as lf:
        rc = run_bounded(cmd, JVM_TIMEOUT_S, cwd=tmp, stdout=lf,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not raw_path.exists():
        sys.stderr.write("".join(open(log_path).readlines()[-30:]))
        fail(f"benchmark JVM failed (exit {rc}); log in {log_path}")
    raw = json.loads(raw_path.read_text())

    expected = json.loads((HERE / "expected.json").read_text())[conf["scale"]]
    attempted, failed, wrong = check(raw, expected)
    e2e, detail = end_to_end(raw)
    detail |= {"workload": args.workload, "seed": args.seed, "cpus": cpus,
               "failed_frac": failed / attempted, "wrong_ops": wrong}
    if args.trace:
        layers, breakdown = per_layer(raw, cpus)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        (OUT / f"{tag}.layers.json").write_text(json.dumps(
            detail | {"metrics": layers, "ops": breakdown}, indent=1))
    else:
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    summary = " ".join(f"{k}={v:.4g}s" for k, v in e2e.items())
    print(f"perfbench {args.workload} seed={args.seed}: {summary} "
          f"op_tail_s={detail['op_tail_s']:.4g}s (p{detail['op_tail_percentile']:.0f} "
          f"of {detail['op_samples']} op samples) "
          f"failed_frac={failed / attempted:.4g} ({failed}/{attempted})",
          file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
