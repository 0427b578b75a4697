"""The measuring process: one fresh Spark session running a closed loop
of jobs, one after another, for a fixed time.

Started by ``run.py``, which times it from process start, samples its
memory from outside and turns what this process writes into metrics.
Order of events: build the session and run a first action (``setup_s``),
run the first job (``session.cold_job_s``), a fixed number of warm-up
jobs, then jobs until ``--seconds`` have passed (``job_s``). With
``--trace 1`` the loop alternates untraced and traced jobs, so the
per-layer numbers and the untraced job time come from the same session.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--started", type=float, required=True,
                    help="time.monotonic() when this process was spawned")
    ap.add_argument("--state", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--fault", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from big_data_science_project_spark.session import get_spark
    from big_data_science_project_spark.sources import cells_datasource

    spark = get_spark("perfbench")
    cells_datasource.register(spark)
    spark.range(1000).count()
    setup_s = time.monotonic() - args.started

    from spans import Tracer

    with open(args.state, "rb") as fh:
        wl = pickle.load(fh)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    tracer = Tracer(spark, jvm_pid)

    def run_job(k: int, phase: str, traced: bool = False) -> dict:
        tracer.enabled, tracer.job_id = traced, k
        first = len(tracer.spans)
        t0 = time.perf_counter()
        try:
            with tracer.span("job"):
                result = wl.run(spark, tracer)
            if args.fault:
                result = wl.corrupt(result)
            problems = wl.check(result)
        except Exception:  # a failed job is counted; the loop goes on
            problems = [traceback.format_exc()]
        elapsed = time.perf_counter() - t0
        tracer.release()
        wl.cleanup()
        if traced:
            tracer.finish_job(tracer.spans[first:])
        for p in problems:
            print(f"job {k}: {p}", file=sys.stderr)
        return {"job": k, "phase": phase, "traced": traced, "s": elapsed,
                "ok": not problems}

    # a fixed number of warm-up jobs lets the JIT compile the job's code
    # paths before the timed loop, to the same point however fast the host
    # is at the moment; they are checked and counted but not timed
    jobs = [run_job(0, "cold")]
    warmup = wl.p["warmup_jobs"]
    while len(jobs) <= warmup:
        jobs.append(run_job(len(jobs), "warmup"))
    end = time.monotonic() + args.seconds
    k = warmup + 1
    while time.monotonic() < end or (args.trace and k < warmup + 3):
        jobs.append(run_job(k, "loop", bool(args.trace)
                            and (k - warmup) % 2 == 0))
        k += 1
    spark.stop()

    with open(args.out, "w") as fh:
        json.dump({"setup_s": setup_s, "jobs": jobs,
                   "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
                   "spans": [sp.record for sp in tracer.spans]}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
