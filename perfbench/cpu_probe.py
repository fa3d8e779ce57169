"""CPU-contention probe recorded with every benchmark run.

The same single-threaded ALU work unit as tools/cpu_probe.py (about 0.25 s on
an idle core of a 4-vCPU Xeon VM). A reading well above the idle figure
means the run shared its CPU, so its timings are suspect.
"""
import statistics
import time


def work_unit() -> int:
    acc = 0
    for i in range(2_500_000):
        acc += i * i ^ (i << 1)
    return acc


def reading(iterations: int = 1) -> float:
    """Median seconds of `iterations` work units."""
    samples = []
    for _ in range(iterations):
        t0 = time.perf_counter()
        work_unit()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)
