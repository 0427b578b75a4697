"""Benchmark entry point. From the root of a checkout:

    python3 perfbench/run.py --workload star_relational --seed 1 --seconds 20

``--workload all`` runs every workload in turn. One run:

1. makes a scratch directory under ``.perfbench/`` that holds every file
   the run writes (TMPDIR, Spark local dirs, warehouse, sink output,
   generated tables) and is removed at exit;
2. generates the workload's inputs from ``--seed`` and computes the
   expected results, outside any timing;
3. starts one measuring process (``worker.py``) on ``local[nproc]`` and
   samples the resident memory of it, its JVM and the JVM's Python
   workers while it runs;
4. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``) named in ``BENCHMARK.json``. With ``--trace 1`` the
   spans are also written to ``.perfbench/spans/``.

It exits non-zero without printing a result when the engine or
``BENCHMARK.json`` is missing, or when the measuring process fails.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

DEADLINE_S = 170.0  # the whole run must end within 180 s
DRIVER_MEM = "1g"
PAGE = os.sysconf("SC_PAGE_SIZE")


def _pgrp_members(pgid: int) -> list[int]:
    from spans import _stat_fields

    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None and int(fields[2]) == pgid:
                out.append(int(entry))
    return out


def _rss(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            pass  # ended between listing and reading
    return total


def _stop_group(pgid: int, grace: float = 3.0) -> None:
    """Stop what the measuring process left running (its JVM and Python
    workers): SIGTERM, then SIGKILL after ``grace`` seconds, and wait
    until every process of the group is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while _pgrp_members(pgid):
            if sig == signal.SIGTERM and time.monotonic() > end:
                break
            time.sleep(0.05)
        else:
            return


def _measure(args, wl, scratch: str, cores: int, deadline: float):
    """Run the measuring process; return (its result, peak RSS bytes)."""
    from spans import process_tree

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",  # same set and dict order on every run
        PYSPARK_SUBMIT_ARGS=shlex.join([
            # a pre-touched fixed heap: the JVM's resident size no longer
            # depends on when the collector chose to grow the heap
            "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
            f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            "--conf", f"spark.sql.warehouse.dir={scratch}/spark-warehouse",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell"]))
    state = os.path.join(scratch, "state.pkl")
    with open(state, "wb") as fh:
        pickle.dump(wl, fh)
    out = os.path.join(scratch, "worker.json")
    log_path = os.path.join(scratch, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--state", state, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--out", out]
    if args.fault:
        cmd.append("--fault")
    peak, tree, next_walk = 0, [], 0.0
    with open(log_path, "w") as log:
        started = time.monotonic()
        proc = subprocess.Popen(cmd + ["--started", repr(started)],
                                cwd=scratch, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            while proc.poll() is None:
                if time.monotonic() > deadline:
                    proc.kill()
                    proc.wait()
                    break
                # walking /proc for the process tree is the costly part,
                # so it is done once a second and the RSS read in between
                if time.monotonic() >= next_walk:
                    tree = process_tree(proc.pid)
                    next_walk = time.monotonic() + 1.0
                peak = max(peak, _rss(tree))
                time.sleep(0.2)
        finally:
            t_exit = time.monotonic()
            _stop_group(proc.pid)
            print(f"perfbench: process group ended "
                  f"{time.monotonic() - t_exit:.1f} s after the worker",
                  file=sys.stderr)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"measuring process exited with {proc.returncode}")
    with open(log_path) as fh:
        problems = [ln for ln in fh if ln.startswith("job ")]
    sys.stderr.writelines(problems[-20:])
    with open(out) as fh:
        return json.load(fh), peak


def _layer_metrics(res: dict, names: list[str]) -> dict[str, float]:
    """Per-layer metrics: every span's fields summed per (job, layer) as
    ``<layer>.<field>``, then the median over the traced jobs."""
    per_job: dict[int, dict[str, float]] = {}
    for rec in res["spans"]:
        d = per_job.setdefault(rec["job_id"], {})
        for key, v in rec.items():
            if key in ("name", "span_id", "job_id", "parent", "start",
                       "end") or not isinstance(v, (int, float)):
                continue
            m = f"{rec['name']}.{key}"
            d[m] = d.get(m, 0) + v
    jobs = [j for j in res["jobs"] if j["phase"] == "loop"]
    traced = statistics.median(j["s"] for j in jobs if j["traced"])
    untraced = statistics.median(j["s"] for j in jobs if not j["traced"])
    out = {n: statistics.median(d.get(n, 0.0) for d in per_job.values())
           for n in names}
    out.update({
        "session.start_s": res["setup_s"],
        "session.cold_job_s": res["jobs"][0]["s"],
        "trace.job_s": traced,
        "trace.untraced_job_s": untraced,
        "trace.overhead_s": traced - untraced,
        "trace.unattributed_s": statistics.median(
            d["job.self_s"] for d in per_job.values()),
    })
    return {n: out[n] for n in names}


def run_one(args, spec: dict, workload: str) -> dict:
    import workloads

    t_start = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=base)
    cwd = os.getcwd()
    os.chdir(scratch)  # anything written by relative path lands here
    try:
        wl = workloads.WORKLOADS[workload](args.size, args.seed, cores,
                                           scratch)
        wl.prepare()
        t_prepared = time.monotonic()
        res, peak = _measure(args, wl, scratch, cores,
                             t_start + DEADLINE_S)
        print(f"perfbench: {workload}: inputs {t_prepared - t_start:.1f} s,"
              f" measuring process {time.monotonic() - t_prepared:.1f} s,"
              f" setup {res['setup_s']:.2f} s, jobs "
              + " ".join(f"{j['s']:.2f}{'t' if j['traced'] else ''}"
                         for j in res["jobs"]), file=sys.stderr)
    finally:
        os.chdir(cwd)
        shutil.rmtree(scratch, ignore_errors=True)

    jobs = res["jobs"]
    failed = sum(not j["ok"] for j in jobs)
    run = {"workload": workload, "seed": args.seed, "cores": res["cores"],
           "size": args.size, "inputs": wl.describe(), "jobs": len(jobs),
           "seconds": args.seconds, "trace": args.trace}
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    if args.trace:
        values = _layer_metrics(res, list(units))
        spans_dir = os.path.join(base, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        with open(os.path.join(
                spans_dir, f"{workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"run": run, "session": {"start_s": res["setup_s"]},
                       "jobs": jobs, "spans": res["spans"]}, fh, indent=1)
    else:
        values = {
            "setup_s": res["setup_s"],
            "job_s": statistics.median(j["s"] for j in jobs
                                       if j["phase"] == "loop"),
            "peak_rss_mb": peak / 2 ** 20,
        }
    print(json.dumps({"run": run}))
    return {"correct": failed == 0, "attempted": len(jobs), "failed": failed,
            "metrics": {n: {"value": values[n], "unit": u}
                        for n, u in units.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny inputs, for the benchmark's own tests")
    ap.add_argument("--fault", action="store_true",
                    help="corrupt every job's result before the check, to "
                         "show that wrong results count as failures")
    args = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        import workloads  # imports the engine; fails outside a checkout
    except (OSError, ValueError, ImportError) as e:
        print(f"perfbench: cannot start: {e!r}", file=sys.stderr)
        return 2
    names = (list(workloads.WORKLOADS) if args.workload == "all"
             else [args.workload])
    unknown = [w for w in names if w not in workloads.WORKLOADS]
    if unknown:
        print(f"perfbench: unknown workload {unknown}", file=sys.stderr)
        return 2
    try:
        results = [run_one(args, spec, w) for w in names]
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    if len(results) > 1:
        for w, r in zip(names, results):
            for m, v in r["metrics"].items():
                print(f"{w:22s} {m:32s} {v['value']:.4f} {v['unit']}",
                      file=sys.stderr)
        results = [{
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {f"{w}.{m}": v for w, r in zip(names, results)
                        for m, v in r["metrics"].items()}}]
    print(json.dumps(results[0]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
