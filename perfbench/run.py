#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload control_ticks --seed 1 --seconds 10 --trace 0

Builds the program and the harness (`perfbench/build.py`), generates the
workload's inputs from the seed (`perfbench/gen.py`), runs the harness on
`local[N]` (N = cores available) with one closed-loop caller, checks every
output (the tick model inside the harness, DuckDB oracles here), and prints
one JSON line: `correct`, `attempted`, `failed` and the metrics, the
end-to-end ones untraced (`--trace 0`) or the per-layer ones traced
(`--trace 1`). A traced run also writes its full per-layer artifact. Exits
non-zero when a correctness gate fails. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources
import build  # noqa: E402
import gen  # noqa: E402

N_DOCS = 500
# a fixed 1.5 GB heap with a fixed young generation: G1's adaptive sizing
# otherwise moves the RSS high-water mark by 15% between identical runs
HEAP = ["-Xms1536m", "-Xmx1536m", "-Xmn384m"]
TIME_LIMIT_S = 170
# `unit`: ops per result unit (20 ticks = 5 minutes of fleet time; one
# streamed pass = 4 arrival batches). `jit`: control_ticks runs C1 only —
# under C2 a fresh JVM keeps compiling for about 60 s of ticks (tick time
# falls from ~1.5 s to ~0.9 s only after ~45 ticks), so a short run would
# time the compiler's progress; C1 is at its steady state within the
# warm-up ticks. curation_stream times one cold pass, which C2 runs faster
# and with a third of the spread.
WORKLOADS = {
    "control_ticks": {"fleet": True, "docs": 0, "unit": 20,
                      "jit": ["-XX:TieredStopAtLevel=1"]},
    "curation_stream": {"fleet": False, "docs": N_DOCS, "unit": 4, "jit": []},
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]
# per-layer metrics every workload reports (BENCHMARK.json `per_layer`);
# the workload's named layers go to the traced artifact
PER_LAYER = [
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.task_ms_per_op", "ms"),
    ("spark.driver_gap_ms", "ms"), ("spark.shuffle_bytes_per_op", "bytes"),
    ("spark.gc_ms_per_op", "ms"), ("spark.max_task_skew", "ratio"),
    ("op.uncovered_ms", "ms"), ("op.cpu_ms", "ms")]


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(res, unit):
    ops = [o for o in res["ops"] if o["measured"]]
    walls = [o["wall_ms"] for o in ops]
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "op_p50_ms": (quantile(walls, 0.5), "ms"),
        "op_p90_ms": (quantile(walls, 0.9), "ms"),
        "items_per_s": (sum(o["items"] for o in ops) / (sum(walls) / 1000), "1/s"),
        "result_s": (statistics.mean(walls) * unit / 1000, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(res):
    ops = [o for o in res["ops"] if o["measured"]]
    mean = lambda xs: sum(xs) / len(xs)
    spark = lambda k: [o["spark"][k] for o in ops]
    covering = set(res["covering"])
    uncovered = [o["wall_ms"] - sum(v for k, v in o["layers"].items() if k in covering)
                 for o in ops]
    flat = {
        "spark.jobs_per_op": mean(spark("jobs")),
        "spark.stages_per_op": mean(spark("stages")),
        "spark.tasks_per_op": mean(spark("tasks")),
        "spark.task_ms_per_op": mean(spark("task_ms")),
        "spark.driver_gap_ms": mean(spark("driver_gap_ms")),
        "spark.shuffle_bytes_per_op": mean(spark("shuffle_bytes")),
        "spark.gc_ms_per_op": mean([o["gc_ms"] for o in ops]),
        "spark.max_task_skew": statistics.median(spark("max_task_skew")),
        "op.uncovered_ms": statistics.median(uncovered),
        "op.cpu_ms": statistics.median([o["cpu_ms"] for o in ops]),
    }
    # the artifact adds each named layer (median per op), spill, state
    # size, and every op's own breakdown
    layers = sorted({k for o in ops for k in o["layers"]})
    named = {k: statistics.median([o["layers"].get(k, 0.0) for o in ops]) for k in layers}
    named["spark.spill_bytes_per_op"] = mean(spark("spill_bytes"))
    for k in ("streaming.state_bytes", "streaming.state_files"):
        if k in res["info"]:
            named[k] = res["info"][k]
    per_op = [{"kind": o["kind"], "pass": o["pass"], "wall_ms": o["wall_ms"],
               "cpu_ms": o["cpu_ms"],
               "uncovered_ms": u, "layers": o["layers"], "spark": o["spark"]}
              for o, u in zip(ops, uncovered)]
    return flat, named, per_op


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--artifact", help="where a traced run writes its per-layer "
                    "artifact (default .bench_build/results/trace_<workload>.json)")
    args = ap.parse_args()
    t_start = time.monotonic()
    # a terminated run still stops its JVM (the `finally` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build(".")
    jars = build.spark_jars()
    spec = WORKLOADS[args.workload]
    results = os.path.join(build.BUILD_DIR, "results")
    run_dir = os.path.join(build.BUILD_DIR, "runs", f"{args.workload}-{os.getpid()}")
    inputs, work, out = (os.path.join(run_dir, d) for d in ("inputs", "work", "out"))
    for d in (inputs, work, out, results, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    try:
        digest = gen.generate(args.seed, inputs, spec["docs"], spec["fleet"])
        t_gen = time.monotonic()
        cmd = (["java", "-XX:-UsePerfData", *HEAP, *spec["jit"], *ADD_OPENS,
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
                "--workload", args.workload, "--inputs", inputs, "--work", work,
                "--out", out, "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--cores", str(args.cores)])
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, TIME_LIMIT_S - (time.monotonic() - t_start)))
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0:
            sys.stderr.write(open(log_path).read()[-6000:])
            raise SystemExit(f"perfbench: harness JVM exited with {rc}")
        res = json.load(open(os.path.join(out, "jvm_result.json")))
        t_jvm = time.monotonic()

        failures = list(res["failures"])
        if res["oracle"]:
            import oracle
            verdicts = oracle.check(inputs, res["oracle_sql"], res["oracle"], args.cores,
                                    os.path.join(work, "duckdb"))
            for name, checks in verdicts.items():
                for d, problem in checks:
                    if problem:
                        failures.append(f"{name} {os.path.basename(d)}: {problem}")
                        # a wrong end state fails every op of its pass
                        p = int(os.path.basename(d).removeprefix("pass"))
                        for o in res["ops"]:
                            if o["pass"] == p:
                                o["ok"] = False
        measured = [o for o in res["ops"] if o["measured"]]
        sys.stderr.write(f"perfbench: build+generate {t_gen - t_start:.1f}s, harness "
                         f"{t_jvm - t_gen:.1f}s, oracles {time.monotonic() - t_jvm:.1f}s\n")
        failed = sum(not o["ok"] for o in res["ops"])
        attempted = len(res["ops"])
        for f in failures:
            sys.stderr.write(f"perfbench: FAILED {f}\n")

        e2e = end_to_end(res, spec["unit"])
        untraced_path = os.path.join(
            results, f"untraced_{args.workload}_seed{args.seed}_cores{args.cores}.json")
        if args.trace:
            flat, named, per_op = per_layer(res)
            metrics = {k: {"value": flat[k], "unit": u} for k, u in PER_LAYER}
            prior = json.load(open(untraced_path)) if os.path.exists(untraced_path) else None
            artifact = {
                "workload": args.workload, "seed": args.seed, "cores": args.cores,
                "seconds": args.seconds, "input_digest": digest, "ops": len(measured),
                "failed_frac": failed / attempted, "failures": failures,
                "per_layer": {**flat, **named},
                "traced_end_to_end": {k: v for k, (v, _) in e2e.items()},
                "tracing_overhead": None if prior is None else
                    {k: e2e[k][0] - prior[k] for k in e2e},
                "info": res["info"], "per_op": per_op}
            path = args.artifact or os.path.join(results, f"trace_{args.workload}.json")
            with open(path, "w") as f:
                json.dump(artifact, f, indent=1)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            with open(untraced_path, "w") as f:
                json.dump({**{k: v for k, (v, _) in e2e.items()},
                           "op_wall_ms": [o["wall_ms"] for o in measured],
                           "op_cpu_ms": [o["cpu_ms"] for o in measured]}, f)
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if not failures else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
