#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny-size smoke run of every workload.

Checks that
  * each workload, untraced and traced, exits 0 and prints as its last line
    every metric BENCHMARK.json names, with its unit, finite and
    non-negative (trace.overhead_s, a difference of two wall times, may be
    negative);
  * the traced run attributes every Spark job to a span
    (spark.unattributed_jobs == 0), and on the crawl workloads every round's
    attributed job time plus driver time is within 10% of its wall time;
  * a deliberately corrupted result and a thrown exception each make the run
    exit non-zero without printing a result;
  * a directory holding only BENCHMARK.json and perfbench/ (no engine
    sources) makes the run fail.

usage: python3 perfbench/selftest.py [workload ...]     (takes about ten minutes)
"""
import json
import math
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(BENCH))
from run import WORKLOADS  # noqa: E402  (bulk-crawl too, though BENCHMARK.json omits it)
MAY_BE_NEGATIVE = {"trace.overhead_s"}


def run(workload: str, trace: str, fault: str = "none", cwd: Path = ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", trace, "--scale", "tiny", "--fault", fault]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)


def result_line(stdout: str):
    lines = stdout.strip().splitlines()
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except json.JSONDecodeError:
        return None
    return r if isinstance(r, dict) and "metrics" in r else None


def check_metrics(workload: str, trace: str) -> list:
    errors = []
    p = run(workload, trace)
    r = result_line(p.stdout)
    if p.returncode != 0 or r is None:
        return [f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    declared = SPEC["per_layer" if trace == "1" else "end_to_end"]
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{workload}: result keys {sorted(r)}")
    if r["correct"] is not True or r["failed"] != 0 or r["attempted"] < 1:
        errors.append(f"{workload}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
    for m in declared:
        got = r["metrics"].get(m["name"])
        if got is None:
            errors.append(f"{workload} trace={trace}: {m['name']} missing")
            continue
        v = got.get("value")
        if got.get("unit") != m["unit"]:
            errors.append(f"{workload}: {m['name']} unit {got.get('unit')} != {m['unit']}")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            errors.append(f"{workload}: {m['name']} = {v} is not finite")
        elif v < 0 and m["name"] not in MAY_BE_NEGATIVE:
            errors.append(f"{workload}: {m['name']} = {v} is negative")
    extra = set(r["metrics"]) - {m["name"] for m in declared}
    if extra:
        errors.append(f"{workload} trace={trace}: undeclared metrics {sorted(extra)}")
    if trace == "1":
        ms = r["metrics"]
        if ms["spark.unattributed_jobs"]["value"] != 0:
            errors.append(f"{workload}: {ms['spark.unattributed_jobs']['value']} unattributed jobs")
        if workload != "neardup" and not 0.9 <= ms["round.accounted_min"]["value"] <= 1.1:
            errors.append(f"{workload}: a round's jobs + driver time cover only "
                          f"{ms['round.accounted_min']['value']:.3f} of its wall time")
    return errors


def check_gate(workload: str, fault: str) -> list:
    p = run(workload, "0", fault)
    if p.returncode == 0 or result_line(p.stdout) is not None:
        return [f"{workload}: --fault {fault} did not fail the run (exit {p.returncode})"]
    return []


def check_bare_dir() -> list:
    with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as d:
        shutil.copy(ROOT / "BENCHMARK.json", d)
        shutil.copytree(BENCH, Path(d) / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        p = run(WORKLOADS[0], "0", cwd=Path(d))
        if p.returncode == 0 or result_line(p.stdout) is not None:
            return ["a checkout without engine sources did not fail"]
    return []


def main() -> None:
    workloads = sys.argv[1:] or WORKLOADS
    (ROOT / ".bench_build").mkdir(exist_ok=True)
    errors = check_bare_dir()
    for w in workloads:
        for trace in ("0", "1"):
            errs = check_metrics(w, trace)
            print(f"{w} trace={trace}: {'ok' if not errs else 'FAIL'}", flush=True)
            errors += errs
    for w, fault in (("incremental-crawl", "result"), ("incremental-crawl", "exception"),
                     ("neardup", "result"), ("neardup", "exception")):
        if w in workloads:
            errs = check_gate(w, fault)
            print(f"{w} --fault {fault}: {'ok' if not errs else 'FAIL'}", flush=True)
            errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
