#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload wal --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload store_cycle --seed 1 --seconds 2 --trace 0 --smoke

Builds the program first when needed (perfbench/build.py). Every file the
run writes goes under .bench_build/tmp/ and is removed at the end; the JVM's
log is kept in .bench_build/logs/ and a traced run's spans in
.bench_build/traces/. Metric names and units come
from BENCHMARK.json. Exits non-zero, without a result line, when the
program cannot be built or the run dies.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("wal", "store_cycle")
# which workloads exercise each per-layer metric's layer; on the others
# the metric reads 0
LAYER_OWNERS = {
    "sources.": ("wal",), "pipeline.": ("wal",), "foreachBatchSync.": ("wal",),
    "sink.": ("wal",), "target.": ("wal",), "gen.": ("wal",),
    "ops.": ("store_cycle",), "lines.": ("store_cycle",), "gates.": ("store_cycle",),
    "artifacts.": ("store_cycle",), "trace.": WORKLOADS, "jvm.": WORKLOADS,
}
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170


def owned(metric, workload):
    return any(metric.startswith(p) and workload in ws for p, ws in LAYER_OWNERS.items())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="seconds-long run on sf0.001-sized inputs, for the benchmark's own tests")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classes, jars = build.build()
    started = time.monotonic()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    tmp = os.path.join(build.BUILD, "tmp", f"{tag}-{os.getpid()}")
    spans = os.path.join(build.BUILD, "traces", f"{tag}.jsonl")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS] +
           ["-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), tmp, str(cores),
            "1" if a.smoke else "0", spans])
    log_path = os.path.join(tmp, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"perfbench: {a.workload} did not finish in {RUN_TIMEOUT_S} s")
        result = None
        for line in out.splitlines():
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            elif line.startswith("[perfbench]"):
                print(line)
        if proc.returncode != 0 or result is None:
            with open(log_path) as fh:
                tail = [ln for ln in fh.readlines()[-400:] if not ln.lstrip().startswith("at ")]
                sys.stderr.write("".join(tail[-40:]))
            raise SystemExit(f"perfbench: {a.workload} exited {proc.returncode} without a result")
    finally:
        if os.path.exists(log_path):
            os.makedirs(os.path.join(build.BUILD, "logs"), exist_ok=True)
            shutil.copy(log_path, os.path.join(build.BUILD, "logs", f"{tag}.log"))
        shutil.rmtree(tmp, ignore_errors=True)

    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = result["metrics"]
    metrics, missing = {}, []
    for m in declared:
        name = m["name"]
        if got.get(name) is not None:
            metrics[name] = {"value": got[name], "unit": m["unit"]}
        elif a.trace and not owned(name, a.workload):
            metrics[name] = {"value": 0, "unit": m["unit"]}
        else:
            missing.append(name)
    extra = sorted(set(got) - {m["name"] for m in declared})
    if missing or extra:
        raise SystemExit(f"perfbench: metrics missing {missing}, undeclared {extra}")
    print(f"[perfbench] run took {time.monotonic() - started:.1f} s")
    print(json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
