#!/usr/bin/env python3
"""Repository benchmark: closed-loop workloads, one client each, run in
their own JVM with one local Spark session.

    python3 perfbench/run.py --workload ingest_crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program and the
harness into .bench_build/ (see build.py). Inputs are generated from --seed
into a working directory under .bench_build/work/ that is deleted afterwards.
Lines before the last describe the run (traffic shares, sample counts, the
workload-specific metrics, a digest of the responses); the last line is the
result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1 runs the
same workload with the engine ledger and spans on and reports the per-layer
metrics. Each workload owns the per-layer metrics of the layers it calls
(OWNS); the metrics of the other layers read 0. Spans are written to
.bench_build/traces/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_TIMEOUT_S = 172
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# per-layer metric prefixes of the layers each workload calls; names without
# a layer prefix (trace_overhead_ms_per_op) belong to every workload
OWNS = {"ingest_crawl": ("ingest.", "serve."), "ann_live": ("ann.",)}
LAYERS = ("ingest.", "serve.", "ann.")


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("run from the repository root (BENCHMARK.json not found)")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    owned = OWNS[args.workload]
    declared = {m["name"]: m["unit"]
                for m in spec["per_layer" if args.trace else "end_to_end"]}

    classpath = build.ensure_built(ROOT)
    out = build.build_dir(ROOT)
    work = os.path.join(out, "work", f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(out, "traces"), exist_ok=True)
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    trace_out = os.path.join(out, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    log = os.path.join(out, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    # the throughput collector: no concurrent GC threads competing with the
    # local executors (with G1 the measured drain ran ~15% slower on 4 cores)
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--trace-out", trace_out])
    # a SIGTERM to this script must not orphan the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=lf, text=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload exceeded {JVM_TIMEOUT_S} s (log: {log})", 4)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"workload exited with {proc.returncode} (log: {log})", 5)

    result = json.loads(lines[-1])
    metrics = result["metrics"]
    extra = set(metrics) - set(declared)
    if extra:
        fail(f"undeclared metrics {sorted(extra)}", 6)
    for name, unit in declared.items():
        if name in metrics:
            if metrics[name]["unit"] != unit:
                fail(f"{name} reported in {metrics[name]['unit']}, declared {unit}", 6)
        elif args.trace and name.startswith(LAYERS) and not name.startswith(owned):
            metrics[name] = {"value": 0.0, "unit": unit}
        else:
            fail(f"metric {name} missing", 6)
    for line in lines[:-1]:
        print(line)
    print(json.dumps({"correct": bool(result["correct"]),
                      "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]),
                      "metrics": {k: metrics[k] for k in sorted(metrics)}}))


if __name__ == "__main__":
    main()
