#!/usr/bin/env python3
"""Benchmark of the Spark engine in this repository, run from the repo root:

    python3 perfbench/run.py --workload etl_iterative --seed 1 --seconds 12 --trace 0

One run: build the engine and the benchmark runner from source (skipped when
`.bench_build/classes` already holds this source tree), generate the
workload's inputs from the seed, run the workload in one JVM on
local[nproc] (see src/Runner.scala), check every query's output against its
DuckDB oracle, and print the metrics. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Everything the run writes lives under `.bench_build/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# The Spark install: $SPARK_HOME, else the first spark-submit on PATH that
# sits in a full distribution (a pip pyspark shim has no jars/ beside it).
SPARK_JARS = next((j for j in [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")] +
                   [os.path.join(os.path.dirname(d), "jars") for d in os.environ.get("PATH", "").split(os.pathsep)
                    if os.path.exists(os.path.join(d, "spark-submit"))]
                   if glob.glob(os.path.join(j, "spark-core_*.jar"))), "jars")
SCALA = "2.13.17"
DEADLINE_S = 170  # the whole run, build excluded, must end well within 180 s

# Input scale is a multiple of the committed sf0.01 base (60k lineitem rows).
WORKLOADS = {
    # Sinks and Catalyst re-planning: the reference's four pipelines
    # (document, tree and table writes, commits, read-back) and the BPE
    # merge loop (many small actions, each planned anew).
    "etl_iterative": (1, ["pl1_csv_pipeline", "pl2_sql_pipeline",
                          "pl3_realtime_pipeline", "pl4_issues_pipeline",
                          "x100_bpe_merges"]),
    # Read-only and data-bound: scans, shuffles and tasks; no sink writes.
    # A planning or sink change should not move it.
    "scan_x10": (10, ["join_q3_revenue", "a14_profile", "w5_lag_cumsum"]),
}

END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s"),
              ("rows_per_s", "rows/s"), ("peak_rss_mb", "MB")]

PER_LAYER = [
    ("queries.build_ms", "ms"), ("queries.materialize_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("catalyst.self_ms", "ms"),
    ("catalyst.executions", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.job_busy_ms", "ms"),
    ("scheduler.driver_gap_ms", "ms"),
    ("executor.task_run_ms", "ms"), ("executor.task_cpu_ms", "ms"),
    ("executor.gc_ms", "ms"), ("executor.core_util", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_ms", "ms"), ("shuffle.spill_bytes", "bytes"),
    ("sources.input_rows", "rows"), ("sources.input_bytes", "bytes"),
    ("sources.files_read", "count"),
    ("sinks.write_execs", "count"), ("sinks.write_ms", "ms"),
    ("sinks.output_bytes", "bytes"), ("sinks.files_written", "count"),
    ("sinks.readback_bytes", "bytes"), ("sinks.live_bytes", "bytes"),
    ("sinks.write_amp", "ratio"),
    ("cache.persisted_bytes", "bytes"), ("cache.scans", "count"),
    ("cache.release_ms", "ms"),
    ("codegen.compile_ms", "ms"), ("codegen.pass_compile_ms", "ms"), ("jvm.jit_ms", "ms"),
    ("trace.pass_ms", "ms"), ("trace.overhead_pct", "%"),
]

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        fail(f"no Spark jars under {SPARK_JARS}")
    return jars


def build():
    """Compile the engine's main sources and the runner into one class
    directory; reuse it while the sources are unchanged."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("engine sources (src/main/scala) not found: run from the repository root")
    srcs += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    jars = spark_classpath()
    h = hashlib.sha256(" ".join(os.path.basename(j) for j in jars).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp):
        os.remove(stamp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    compiler = [os.path.join(SPARK_JARS, f"scala-{m}-{SCALA}.jar") for m in ("compiler", "library", "reflect")]
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
                        "-d", classes, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"built engine + runner from {len(srcs)} sources in {time.time() - t0:.1f} s")
    return classes


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    scale, queries = WORKLOADS[a.workload]
    trace = a.trace == 1

    os.makedirs(BUILD, exist_ok=True)
    classes = build()
    t_start = time.time()

    data = os.path.join(BUILD, "data")
    shutil.rmtree(data, ignore_errors=True)
    stats, digest = gen.generate(data, a.seed, scale)
    print(f"workload {a.workload}: seed {a.seed}, input x{scale} of sf0.01, queries {','.join(queries)}")
    for t, rows, size in stats:
        print(f"  input {t}: {rows} rows, {size} bytes")
    print(f"  input sha256 {digest}")

    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_path, spans_path = os.path.join(work, "result.json"), os.path.join(work, "spans.json")
    # Fixed heap and young-generation sizes: G1's adaptive sizing follows
    # measured pause times, so on a noisy machine it would make peak RSS and
    # GC cost depend on the machine's speed rather than on the engine.
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:ReservedCodeCacheSize=512m"] + JVM_OPENS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
            "-cp", ":".join([classes] + spark_classpath()), "perfbench.Runner",
            "--data", data, "--dump", os.path.join(work, "dump"), "--queries", ",".join(queries),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", result_path, "--spans", spans_path])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            print(f.read()[-4000:], file=sys.stderr)
        fail("runner timed out" if code is None else f"runner exited with {code}")
    with open(result_path) as f:
        res = json.load(f)

    verdicts = oracle.check(data, os.path.join(work, "dump"), res["oracles"], queries)
    for q, msg in res["errors"].items():
        verdicts[q] = msg
    bad = {q: m for q, m in verdicts.items() if m}
    for q in queries:
        print(f"  check {q}: {'OK' if not verdicts.get(q) else 'FAIL ' + verdicts[q]}")
    for v in res["violations"]:
        print(f"  trace violation: {v}")

    def total(p):
        return sum(p.values()) if len(p) == len(queries) else None

    steady = res["steady"][1:]  # the first steady pass is still warming
    plain = [total(p["queries"]) for p in steady if not p["traced"]]
    traced = [total(p["queries"]) for p in steady if p["traced"]]
    complete = all(x is not None for x in plain + traced) and plain and total(res["cold"]) is not None
    correct = not bad and not res["violations"] and bool(complete)
    pass_s = median(plain) if complete else float("nan")
    print(f"  steady passes (s, the first is warming and dropped, * = traced): " + ", ".join(
        f"{total(p['queries']) or float('nan'):.3f}{'*' if p['traced'] else ''}" for p in res["steady"]))
    print(f"  pass_s samples: {len(plain)}")
    print(f"  failed_ratio: {len(bad) / len(queries):.4f} ({len(bad)} of {len(queries)} queries)")

    if not trace:
        metrics = {
            "setup_s": res["setup_s"],
            "cold_pass_s": total(res["cold"]) if complete else float("nan"),
            "pass_s": pass_s,
            "rows_per_s": res["input_rows"] / pass_s if complete else float("nan"),
            "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
        }
        units = dict(END_TO_END)
    else:
        layers = res["layers"]
        metrics = {k: median([l[k] for l in layers]) for k, _ in PER_LAYER if layers and k in layers[0]}
        metrics.update(res["cold_layers"])
        # Each traced pass against the mean of its two untraced neighbours,
        # which cancels the JIT's steady drift; pass 0 is still warming and
        # never serves as a neighbour.
        tot = [total(p["queries"]) for p in res["steady"]]
        ratios = [tot[i] / ((tot[i - 1] + tot[i + 1]) / 2) - 1 for i in range(2, len(tot) - 1)
                  if res["steady"][i]["traced"] and complete]
        metrics["trace.overhead_pct"] = 100.0 * median(ratios)
        units = dict(PER_LAYER)
    metrics = {k: metrics.get(k, float("nan")) for k in units}
    if any(v != v for v in metrics.values()):  # a missing or undefined metric
        correct = False
        metrics = {k: (0.0 if v != v else v) for k, v in metrics.items()}
    for k, u in units.items():
        print(f"  {k}: {metrics[k]:.6g} {u}")
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": len(queries),
        "failed": len(bad),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
