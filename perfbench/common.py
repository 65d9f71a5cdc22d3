"""Shared pieces of the benchmark workers: the run context, Spark set-up,
layer probes (Catalyst phases, Spark event log, process memory, scratch
bytes) and result assembly.

Every probe observes a layer from outside, through calls into its public
functions or files it writes; nothing here changes package behaviour.
"""

from __future__ import annotations

import glob
import json
import math
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import median

_T0 = time.monotonic()

# Spark restarts per run for the set-up metric: the first pays the JVM
# launch, the median of three is the steady session + view set-up.
SETUP_REPEATS = 3


@dataclass
class Ctx:
    """Everything one workload run needs, built by ``worker.py``."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str          # checkout root (the package is imported from here)
    run_dir: str       # private per-run directory, removed by the launcher
    data_dir: str
    cpus: int
    per_layer: dict[str, float] = field(default_factory=dict)
    artifact: dict = field(default_factory=dict)

    @property
    def tmp_root(self) -> str:
        return os.environ["TMPDIR"]

    @property
    def event_log_dir(self) -> str | None:
        return os.environ.get("PERFBENCH_EVENT_LOG_DIR")

    def log(self, phase: str) -> None:
        """Progress line on stderr: seconds since the worker started."""
        print(f"[perfbench] {self.workload} {phase} "
              f"+{time.monotonic() - _T0:.1f}s", file=sys.stderr, flush=True)

    def add(self, name: str, value: float) -> None:
        self.per_layer[name] = self.per_layer.get(name, 0.0) + value


@dataclass
class Outcome:
    """A workload's result: end-to-end metrics, the operations attempted
    and one line per failed or incorrect one."""

    metrics: dict[str, float]
    attempted: int
    problems: list[str]


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100)."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


# ---------------------------------------------------------------- files


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass  # removed while walking (a concurrent cleanup)
    return total


def data_files(path: str) -> list[str]:
    """Parquet part files under ``path`` (no markers, no checksums)."""
    return [p for p in glob.glob(os.path.join(path, "**", "part-*"),
                                 recursive=True)
            if not p.endswith(".crc")]


def pss_mb(pid: int) -> float:
    """Proportional set size of one process: its resident pages, each
    shared page divided among the processes sharing it, so the sum over
    forked Python workers counts shared pages once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass  # the process ended
    return 0.0


def session_pids(sid: int) -> list[int]:
    """Live processes whose session id is ``sid`` (the run's process tree:
    the worker, its JVM, Python workers and any server it launched)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command name; session is field 6
        rest = stat[stat.rfind(")") + 2:].split()
        if rest[0] != "Z" and int(rest[3]) == sid:
            pids.append(int(d))
    return pids


def tree_rss_mb(sid: int) -> float:
    """Memory of a process tree (session): the sum of its processes' PSS."""
    return sum(pss_mb(p) for p in session_pids(sid))


# ---------------------------------------------------------------- Spark


def start_session(ctx: Ctx, app: str):
    """``get_spark`` + ``register_views``, timed as the two set-up layers."""
    from activedata_etl_spark.io import register_views
    from activedata_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)
    t1 = time.perf_counter()
    register_views(spark, ctx.data_dir)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def repeated_setup(ctx: Ctx, app: str):
    """Set the session up SETUP_REPEATS times (stopping in between) and
    keep the last one. Returns (spark, median set-up seconds)."""
    totals, starts, views = [], [], []
    spark = None
    for i in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        spark, s, v = start_session(ctx, app)
        starts.append(s)
        views.append(v)
        totals.append(s + v)
    ctx.per_layer["session.start_s"] = median(starts)
    ctx.per_layer["io.register_views_s"] = median(views)
    return spark, median(totals)


def catalyst_phases(jdf) -> dict[str, float]:
    """Phase durations (s) from a Dataset's ``QueryExecution.tracker()``."""
    out = {}
    phases = jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def add_catalyst(ctx: Ctx, jdf) -> None:
    ph = catalyst_phases(jdf)
    for p in ("analysis", "optimization", "planning"):
        ctx.add(f"catalyst.{p}_s", ph.get(p, 0.0))


def cached_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


@contextmanager
def job_group(spark, name: str):
    """Tag every Spark job started inside the block with ``name``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# ------------------------------------------------------------ event log

_STAGE_KEYS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}


def read_event_log(log_dir: str) -> dict:
    """Per-job-group stage and task totals from an uncompressed Spark
    event log: {group: {"jobs", "stages", "tasks", <stage keys>,
    "scheduler_delay_s", "top": [stage dicts]}}."""
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "stages": 0, "tasks": 0, "scheduler_delay_s": 0.0,
            **{k: 0.0 for k, _ in _STAGE_KEYS.values()}, "top": []})

    # one file per SparkContext (application); stage ids restart in each
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_group: dict[int, str] = {}
        task_delay: dict[int, float] = {}
        task_count: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    name = props.get("spark.jobGroup.id") or "(none)"
                    g(name)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = name
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sid = ev["Stage ID"]
                    dur = info["Finish Time"] - info["Launch Time"]
                    busy = (m.get("Executor Run Time", 0)
                            + m.get("Executor Deserialize Time", 0)
                            + m.get("Result Serialization Time", 0)
                            + info.get("Getting Result Time", 0))
                    task_delay[sid] = task_delay.get(sid, 0.0) + \
                        max(0, dur - busy) / 1000.0
                    task_count[sid] = task_count.get(sid, 0) + 1
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = si["Stage ID"]
                    grp = g(stage_group.get(sid, "(none)"))
                    ops = []  # the physical operators the stage ran
                    for rdd in si.get("RDD Info", []):
                        name = json.loads(rdd.get("Scope") or "{}").get("name")
                        if name and name not in ops:
                            ops.append(name)
                    st = {"stage": sid, "ops": ops,
                          "tasks": si.get("Number of Tasks", 0),
                          "wall_s": (si.get("Completion Time", 0)
                                     - si.get("Submission Time", 0)) / 1000.0}
                    for acc in si.get("Accumulables", []):
                        key = _STAGE_KEYS.get(acc.get("Name"))
                        if key:
                            st[key[0]] = st.get(key[0], 0) + \
                                float(acc.get("Value", 0)) * key[1]
                    st["scheduler_delay_s"] = task_delay.get(sid, 0.0)
                    grp["stages"] += 1
                    grp["tasks"] += task_count.get(sid, st["tasks"])
                    for k in ("scheduler_delay_s",
                              *{k for k, _ in _STAGE_KEYS.values()}):
                        grp[k] += st.get(k, 0.0)
                    grp["top"].append(st)
    for grp in groups.values():
        grp["top"] = sorted(grp["top"], key=lambda s: -s["wall_s"])[:3]
    return groups


def add_stage_totals(ctx: Ctx, groups: dict, prefix_filter=None) -> None:
    """Sum event-log groups (optionally only names passing
    ``prefix_filter``) into the ``stages.*`` / ``tasks.count`` metrics."""
    tot: dict[str, float] = {}
    for name, grp in groups.items():
        if prefix_filter and not prefix_filter(name):
            continue
        for k, v in grp.items():
            if k != "top":
                tot[k] = tot.get(k, 0) + v
    ctx.per_layer["stages.count"] = tot.get("stages", 0)
    ctx.per_layer["tasks.count"] = tot.get("tasks", 0)
    for k in ("executor_run_s", "executor_cpu_s", "scheduler_delay_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "gc_s"):
        ctx.per_layer[f"stages.{k}"] = tot.get(k, 0.0)
