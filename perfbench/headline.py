"""headline_batch: the batch regime — registry reports and the nightly ETL
ingest, in one process, cold and warm.

The ingest (``etl_ingest.Ingest``) seeds its dedup index first. Then
COLD_ROUNDS cold rounds: each builds every query of QUERY_SET, in a fixed
order, with ``QUERIES[name](spark, data_dir)`` and collects it once, then
delivers one batch of new data to the ingest. Every round writes its
staging and persisted indexes to a fresh temp root (``scratch_dir`` keys
on content, so a round never finds the previous round's), as a nightly
job over new data pays for them. The first round also pays the process's
first-use costs (JIT, Python workers); each query's and the delivery's
cold time is its fastest round. The ingest then closes its night (range
read, compaction).

Warm: round-robin passes (at least MIN_WARM_PASSES, until the run's time
is up) that collect each query on a FRESH Dataset (``df.select("*")``),
so every warm execution re-optimizes, re-plans and re-runs every stage.
Re-collecting the prepared DataFrame instead would let Spark reuse the
physical plan and the shuffle stages it already materialized, and would
time only the last stage (see NOTES.md).

Report results are checked against the DuckDB oracle with
``parity.compare``, the ingest as ``Ingest.check`` says, all outside the
timed regions.
"""

from __future__ import annotations

import os
import tempfile
import time
from contextlib import nullcontext

from common import (Ctx, Outcome, add_catalyst, add_stage_totals, cached_rdds,
                    dir_bytes, job_group, median, read_event_log,
                    repeated_setup)
from etl_ingest import Ingest

LAYERS = ("session", "io", "queries", "catalyst", "exec", "stages", "tasks",
          "etl", "index")

# A fixed slice of bench.py's HEADLINE list whose results are small
# enough to collect: scan/aggregate, joins, build-time staging (interval
# overlap) and a persisted-index build (BM25 postings).
# The slice and its order are fixed so that every run measures the same
# work; the seed changes the data.
QUERY_SET = [
    "q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "join_interval_overlap",
    "text_bm25_from_index",
]
COLD_ROUNDS = 3  # one delivery of new data per round: etl_ingest.BATCHES - 1
MIN_WARM_PASSES = 8


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def run(ctx: Ctx) -> Outcome:
    from activedata_etl_spark.queries import ORACLES, QUERIES

    spark, setup_s = repeated_setup(ctx, "perfbench-batch")
    ctx.log("set up")
    order = list(QUERY_SET)

    def group(kind: str, name: str):
        return job_group(spark, f"{kind}:{name}") if ctx.trace else nullcontext()

    ing = Ingest(ctx, spark)
    ing.seed()
    ctx.log(f"index seeded: {ing.seed_s:.2f}s")

    t_start = time.perf_counter()
    rounds: list[dict] = []
    staged = 0
    for r in range(COLD_ROUNDS):
        tempfile.tempdir = os.path.join(ctx.tmp_root, f"cold{r}")
        os.makedirs(tempfile.tempdir)
        rd = {"build": {}, "first": {}, "prepared": {}}
        for name in order:
            before = dir_bytes(ctx.tmp_root) if ctx.trace else 0
            with group(f"build{r}", name):
                df, rd["build"][name] = _timed(
                    lambda: QUERIES[name](spark, ctx.data_dir))
            if ctx.trace and r == 0:
                staged += dir_bytes(ctx.tmp_root) - before
            with group(f"first{r}", name):
                _, rd["first"][name] = _timed(df.collect)
            if ctx.trace:
                add_catalyst(ctx, df._jdf)
            rd["prepared"][name] = df
        rd["delivery"] = ing.deliver_next()
        rounds.append(rd)
        ctx.log(f"cold round {r}: reports "
                f"{sum(rd['build'].values()) + sum(rd['first'].values()):.2f}s"
                f", delivery {rd['delivery']:.2f}s")
    prepared = rounds[-1]["prepared"]
    # the fastest round: interference from other tenants of the host only
    # ever adds time, and the first round also pays first-use costs
    cold = {n: min(rd["build"][n] + rd["first"][n] for rd in rounds)
            for n in order}
    ing.finish()
    ctx.log("ingest closed")

    warm: dict[str, list[float]] = {n: [] for n in order}
    passes = 0
    while passes < MIN_WARM_PASSES or \
            time.perf_counter() - t_start < ctx.seconds:
        for name in order:
            fresh = prepared[name].select("*")
            with group("warm", name):
                _, dt = _timed(fresh.collect)
            warm[name].append(dt)
        passes += 1
    ctx.log("measured")
    samples = [t for ts in warm.values() for t in ts]
    warm_best = {n: min(ts) for n, ts in warm.items()}
    metrics = {
        "setup_s": setup_s,
        "cold_total_s": sum(cold.values()) + min(ing.new_s),
        "warm_total_s": sum(warm_best.values()),
        "latency_p50_ms": 1000 * median(samples),
        # one client running reports back to back
        "ops_per_s": 1 / median(samples),
    }

    if ctx.trace:
        # the finding behind the fresh-Dataset rule: one re-collect of the
        # SAME prepared DataFrame per query, next to its fresh times
        same = {n: _timed(prepared[n].collect)[1] for n in order}
        pl = ctx.per_layer
        pl["queries.build_s"] = sum(min(rd["build"][n] for rd in rounds)
                                    for n in order)
        pl["queries.staged_bytes"] = staged
        pl["queries.cached_rdds"] = cached_rdds(spark)
        pl["exec.first_run_s"] = sum(min(rd["first"][n] for rd in rounds)
                                     for n in order)
        pl["exec.warm_run_s"] = sum(warm_best.values())
        for p in ("analysis", "optimization", "planning"):
            pl[f"catalyst.{p}_s"] /= COLD_ROUNDS
        ing.trace_layers()

    problems = _check(ctx, prepared, ORACLES) + ing.check()
    ctx.log("checked")
    spark.stop()
    if ctx.trace:
        groups = read_event_log(ctx.event_log_dir)
        ctx.per_layer["queries.build_jobs"] = sum(
            g["jobs"] for k, g in groups.items() if k.startswith("build0:"))
        # stage totals of ONE warm pass: comparable across runs whatever
        # the number of passes the time budget allowed
        add_stage_totals(ctx, groups, lambda k: k.startswith("warm:"))
        for k in [k for k in ctx.per_layer if k.startswith(("stages.",
                                                            "tasks."))]:
            ctx.per_layer[k] /= passes
        ctx.artifact = {
            "order": order, "passes": passes, "queries": {
                n: {"build_s": [rd["build"][n] for rd in rounds],
                    "first_s": [rd["first"][n] for rd in rounds],
                    "warm_s": warm[n],
                    "same_dataset_recollect_s": same[n],
                    "top_stages_first": groups.get(f"first0:{n}",
                                                   {}).get("top"),
                    "top_stages_warm": groups.get(f"warm:{n}", {}).get("top")}
                for n in order},
            "ingest": {"seed_delivery_s": ing.seed_s,
                       "new_deliveries_s": ing.new_s, "layer_s": ing.t,
                       "top_stages": {k: g["top"] for k, g in groups.items()
                                      if k.split(":")[0] in
                                      ("delivery", "read", "compact")}}}
    attempted = (2 * COLD_ROUNDS * len(order) + len(samples)
                 + ing.delivered + 2)
    return Outcome(metrics, attempted, problems)


def _check(ctx: Ctx, prepared: dict, oracles: dict) -> list[str]:
    from activedata_etl_spark import parity

    con = parity.duck_connect(ctx.data_dir)
    problems = []
    for name, df in prepared.items():
        res = parity.compare(name, df.select("*"), oracles.get(name), con)
        if not res.ok:
            problems.append(str(res))
        elif name not in oracles and res.spark_rows == 0:
            problems.append(f"{name}: no oracle and no rows")
    con.close()
    return problems
