"""Benchmark launcher: one workload run in a fresh, private process tree.

    python3 perfbench/run.py --workload headline_batch --seed 1 \
        --seconds 15 --trace 0 [--cpus nproc] [--driver-mem 2g]

Run from the root of a checkout. The launcher

- creates a private run directory under ``.perfbench_tmp/`` and points
  ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` into it, so every scratch parquet,
  persisted index and shuffle file of the run is built inside the run and
  removed at exit;
- pins the deployment: ``SPARK_GRAFT_CPUS`` (``nproc`` = the cores this
  process may use) and ``SPARK_GRAFT_DRIVER_MEM``, the same on every side
  (the worker, its JVM and the service process);
- keeps every JVM's temp files in the run directory and, with
  ``--trace 1``, turns the uncompressed Spark event log on for every
  session of the run (both through ``PYSPARK_SUBMIT_ARGS``);
- starts ``worker.py`` in its own session, samples the resident memory of
  that whole process tree (Python, JVM, Python workers, service) for
  ``peak_rss_mb``, stops every process of the tree and waits for it;
- prints the result as the last stdout line:
  ``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.

It exits non-zero, printing no result, when the checkout lacks the
package, the worker fails, a metric is missing, or the run overruns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import session_pids, tree_rss_mb  # noqa: E402

# A run must end well inside the 180 s a caller waits for it.
RUN_TIMEOUT_S = 165
RSS_SAMPLE_S = 0.2


def _stop_tree(sid: int) -> None:
    """SIGTERM, then SIGKILL, the run's session; return once it is gone."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace
        while session_pids(sid) and time.monotonic() < end:
            time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", default="nproc")
    ap.add_argument("--driver-mem", default="2g")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "activedata_etl_spark",
                                       "__init__.py")):
        print("activedata_etl_spark is not in this checkout", file=sys.stderr)
        return 2
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    cpus = (len(os.sched_getaffinity(0)) if args.cpus == "nproc"
            else int(args.cpus))
    run_dir = os.path.join(ROOT, ".perfbench_tmp",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": args.driver_mem,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": ROOT,
    })
    # every JVM of the run keeps its temp files in the run directory too
    # and writes no hsperfdata file to the system temp directory
    submit = ["--driver-java-options",
              f"'-Xms{args.driver_mem} -XX:-UsePerfData "
              f"-Djava.io.tmpdir={env['TMPDIR']}'"]
    env.pop("PERFBENCH_EVENT_LOG_DIR", None)
    if args.trace:
        log_dir = os.path.join(run_dir, "eventlog")
        env["PERFBENCH_EVENT_LOG_DIR"] = log_dir
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false",
                   "--conf", f"spark.eventLog.dir=file://{log_dir}"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join([*submit, "pyspark-shell"])
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)

    # a caller's SIGTERM unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result_path = os.path.join(run_dir, "result.json")
    peak = [0.0]
    done = threading.Event()
    proc = None
    try:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--run-dir", run_dir, "--result", result_path],
            cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)

        def sample() -> None:
            while not done.wait(RSS_SAMPLE_S):
                peak[0] = max(peak[0], tree_rss_mb(proc.pid))

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
            rc = -1
        done.set()
        sampler.join()
        _stop_tree(proc.pid)
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        if rc != 0 or not os.path.isfile(result_path):
            print(f"worker failed (exit {rc})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
        artifact = res.pop("artifact", None)
        if artifact:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                            f"-trace{args.trace}.json"),
                      "w") as f:
                json.dump({**res, "artifact": artifact}, f, indent=1)
    finally:
        done.set()
        if proc is not None and proc.poll() is None:
            _stop_tree(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run's directory is still there

    values = dict(res["per_layer"] if args.trace else res["metrics"])
    if not args.trace:
        values["peak_rss_mb"] = peak[0]
    missing = sorted(set(units) - set(values))
    if missing:
        print(f"metrics missing from the run: {missing}", file=sys.stderr)
        return 1
    for p in res["problems"]:
        print(f"check failed: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not res["problems"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": values[n], "unit": units[n]}
                    for n in units},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
