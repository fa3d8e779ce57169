#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

usage: python3 perfbench/run.py --workload <bulk-crawl|incremental-crawl|neardup>
           --seed <n> --seconds <s> --trace <0|1> [--scale full|tiny]
           [--fault none|result|exception]

Builds the engine and the benchmark (perfbench/build.py), then runs one JVM
(Spark local[4], 4 shuffle partitions) that sets up the seeded inputs, warms
up, times passes of the workload for --seconds, and checks every pass's
result. With --trace 1 it also installs a SparkListener and reports the
per-layer metrics instead of the end-to-end ones.

The last line of standard output is the result:
  {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value", "unit"}}}
The line before it carries the workload's details and the CPU-probe reading.
A wrong result or an exception exits with code 1 and prints no result.
--fault deliberately corrupts a result or throws, to test that gate.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import cpu_probe  # noqa: E402

WORKLOADS = ("bulk-crawl", "incremental-crawl", "neardup")
BENCH = Path(__file__).resolve().parent
JVM_TIMEOUT_S = 165
# Spark on JDK 17 outside spark-submit needs the module opens spark-submit adds
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def declared_metrics(trace: bool) -> dict:
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="full", choices=("full", "tiny"))
    ap.add_argument("--fault", default="none", choices=("none", "result", "exception"))
    a = ap.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    probe_before = cpu_probe.reading()
    run_id = f"{a.workload}-{a.seed}-{os.getpid()}-{int(time.time())}"
    runs = build.build_dir() / "runs"
    work = runs / run_id
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    spans = runs / f"{run_id}.spans.json"
    log = runs / f"{run_id}.log"
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={(BENCH / 'log4j2.properties').as_uri()}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([str(classes), str(build.RESOURCES), str(jars / "*")]), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--scale", a.scale, "--fault", a.fault,
              "--work", str(work), "--out", str(out), "--spans", str(spans)])
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SMALL_FRONTIER"}
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {JVM_TIMEOUT_S} s (log: {log})")
        if code != 0 or not out.exists():
            tail = log.read_text(errors="replace").splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            fail(f"run failed with exit code {code} (log: {log})")
        result = json.loads(out.read_text())
        detail = json.loads(Path(str(out) + ".detail").read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    probe_after = cpu_probe.reading()

    want = declared_metrics(a.trace == "1")
    got = result["metrics"]
    if set(got) != set(want):
        fail(f"metrics {sorted(set(got) ^ set(want))} differ from BENCHMARK.json")
    for name, m in got.items():
        if m["unit"] != want[name] or not math.isfinite(m["value"]):
            fail(f"metric {name} = {m}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        fail(f"run reported {result['failed']} failed of {result['attempted']}")

    detail["cpu_probe_s"] = {"before": probe_before, "after": probe_after}
    detail["error_rate"] = result["failed"] / result["attempted"]
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
