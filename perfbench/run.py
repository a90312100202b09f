"""Extraction benchmark for surya_spark.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 12 --trace 0

Runs one workload (perfbench/workloads.py) against the unmodified public
surya_spark API on local[nproc], checks every output document against
datagen.expected_out_spans, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics (setup_s, docs_per_s, job_p50_s,
peak_rss_mb); --trace 1 makes a separate traced run and reports the
per-layer metrics (perfbench/trace.py). Scratch files live under
.perfbench_work/ in the checkout and are removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start: the origin of setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["flagship", "microbatch"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if args.seed < 0 or args.seconds < 1:
        p.error("--seed must be >= 0 and --seconds >= 1")
    return args


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def timed_run(wl, work: str) -> dict:
    from perfbench import harness, inputs

    harness.prepare_env(work)
    g0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - g0
    print(f"input: {json.dumps(wl.inp.stats)} generated in {gen_s:.1f} s",
          flush=True)
    spark = None
    try:
        spark = harness.start_session(wl.n_cores, f"perfbench-{wl.name}")
        with harness.RssSampler(harness.jvm_pid()) as rss:
            wl.warm(spark)
            setup_s = time.perf_counter() - T0 - gen_s
            rss.reset()
            ops = wl.timed(spark)
            peak = rss.peak
    finally:
        if spark is not None:
            harness.stop_jvm(spark)
    attempted = failed = 0
    for op in ops:
        a, f = inputs.check_output(op["out"], wl.inp.expected)
        attempted, failed = attempted + a, failed + f
    s = wl.summary(ops)
    jobs = s["job_s"]
    print(f"{wl.name} on local[{wl.n_cores}]: job seconds "
          f"{[round(j, 3) for j in jobs]}; job_p50_s over {len(jobs)} "
          f"samples, max {max(jobs):.3f} (too few samples for a higher "
          f"percentile); MB resident at peak {rss.at_peak}", flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": metric(setup_s, "s"),
            "docs_per_s": metric(s["docs_per_s"], "docs/s"),
            "job_p50_s": metric(statistics.median(jobs), "s"),
            "peak_rss_mb": metric(peak / 2**20, "MB"),
        },
    }


def main() -> int:
    args = _args()
    import surya_spark  # noqa: F401  fails fast outside a full checkout

    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    work = harness.fresh_dir(f"{ROOT}/.perfbench_work/{args.workload}")
    # the traced run repeats the job several times (perfbench/trace.py);
    # sizing it as for 8 s (two micro-batch triggers) keeps it near two
    # minutes
    seconds = min(args.seconds, 8) if args.trace else args.seconds
    wl = WORKLOADS[args.workload](work, args.seed, seconds, harness.cores())
    try:
        if args.trace:
            from perfbench import trace
            result = trace.traced_run(wl, work)
        else:
            result = timed_run(wl, work)
    finally:
        harness.stop_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
