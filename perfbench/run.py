#!/usr/bin/env python3
"""Crawl + stream benchmark of the graft engine (see perfbench/README.md).

    python3 perfbench/run.py --workload crawl-recrawl --seed 1 --seconds 15 --trace 0

Builds the program from source (perfbench/build.py), runs one workload in a
fresh JVM at local[<cores>], checks its outputs, prints every metric by name
and unit, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.

Test-only options: --size tiny (small inputs), --tamper 1 (corrupts one
expected output, so the run must report a failed check).
"""
import argparse
import json
import math
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("crawl-fresh", "crawl-recrawl", "stream-dedup")
RUN_LIMIT_S = 170  # the whole run must end within 180 s
HEAP = "4g"

# What each generic end-to-end metric is on each workload family.
ALIASES = {
    "crawl": {"input_per_s": "candidates_per_s", "admitted_per_s": "urls_per_s",
              "step_p50_s": "gen_p50_s"},
    "stream": {"input_per_s": "docs_per_s", "admitted_per_s": "kept_docs_per_s",
               "step_p50_s": "batch_p50_s"},
}

# Spark 4 on JDK 17 outside spark-submit; the same list as build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--size", default="full", choices=("full", "tiny"))
    p.add_argument("--tamper", default="0", choices=("0", "1"))
    return p.parse_args(argv)


def run_jvm(cmd, deadline):
    """Runs the benchmark JVM; returns its stdout lines, or None on failure."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    for line in lines:
        if not line.startswith("PERFBENCH_RESULT "):
            print(line, file=sys.stderr)
    if proc.returncode != 0:
        print(f"perfbench: JVM exited with {proc.returncode}", file=sys.stderr)
        return None
    return lines


def trace_overhead(result, size):
    """Traced step median over the last untraced one of the same workload."""
    ref_file = ROOT / ".bench_build" / "reference" / f"{result['workload']}-{size}.json"
    if result.get("traced"):
        if not ref_file.is_file():
            print("perfbench: no untraced run of this workload yet; "
                  "trace_overhead_frac reported as 0", file=sys.stderr)
            return 0.0
        ref = json.loads(ref_file.read_text())["step_p50_s"]
        return result["step_p50_s"] / ref - 1.0 if ref > 0 else 0.0
    ref_file.parent.mkdir(parents=True, exist_ok=True)
    ref_file.write_text(json.dumps({"step_p50_s": result["step_p50_s"]}))
    return None


def main(argv):
    args = parse_args(argv)
    # a terminated run still stops its JVM (run_jvm's finally) and removes
    # its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.monotonic()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_build" / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData", "-Xss4m",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", args.trace,
            "--size", args.size, "--tamper", args.tamper, "--work", str(work),
            "--trace-out", str(ROOT / ".bench_build" / "traces")]
    try:
        lines = run_jvm(cmd, started + RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if lines is None:
        return 1
    found = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if not found:
        print("perfbench: the JVM printed no result", file=sys.stderr)
        return 1
    result = json.loads(found[-1][len("PERFBENCH_RESULT "):])
    result["traced"] = args.trace == "1"

    layer = dict(result["per_layer"])
    overhead = trace_overhead(result, args.size)
    if overhead is not None:
        layer["trace_overhead_frac"] = {"value": overhead, "unit": "ratio"}
    source = layer if args.trace == "1" else result["end_to_end"]
    listed = spec["per_layer"] if args.trace == "1" else spec["end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in source]
    if missing:
        print(f"perfbench: metrics missing from the run: {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": source[m["name"]]["value"], "unit": m["unit"]} for m in listed}
    if not all(isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
               for v in metrics.values()):
        print("perfbench: a metric is not a finite number", file=sys.stderr)
        return 1

    family = "stream" if args.workload.startswith("stream") else "crawl"
    print(f"perfbench {args.workload} seed={args.seed} cores={result['cores']} "
          f"steps={result['steps']} trace={args.trace}")
    for m in listed:
        alias = ALIASES[family].get(m["name"]) if args.trace == "0" else None
        label = f"{m['name']} ({alias})" if alias else m["name"]
        print(f"  {label:<44} {metrics[m['name']]['value']:>14.6g} {m['unit']}")
    print(f"  {'failed_frac':<44} {result['failed'] / result['attempted']:>14.6g} "
          f"({result['failed']} of {result['attempted']})")
    for c in result["checks"]:
        print(f"  check {c['name']:<20} {'ok' if c['ok'] else 'FAILED'}  {c['detail']}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
