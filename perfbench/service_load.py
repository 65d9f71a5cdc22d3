"""jx_service: the jx query service under a closed loop of nproc clients.

The service runs as its own process (``python -m
activedata_etl_spark.service``) over the seeded data. ``nproc`` client
threads of this process each keep one HTTP/1.1 connection and send their
next ``POST /query`` only after the previous answer arrived. All clients
walk the corpus cases (``corpus``) in one fixed cycle, each from its own
offset, so the first round touches every case once (cold: plan shape,
Catalyst and codegen are new) and later rounds repeat them (warm).
Formats rotate by the seed over list/table (plus cube for cases with
edges); every EXPLAIN_EVERY-th request is a ``format=explain`` probe of
the case that runs next.

Outputs are checked outside the timed region: each answer is compared
with the case's reference ``sql`` run through the service's ``POST /sql``.

With tracing on, the server is hosted in this process instead, with
``validate``, ``plans.query.run`` and ``run_formatted`` wrapped before
``serve()`` binds them, so the planner layers are timed per request.
"""

from __future__ import annotations

import datetime as dt
import decimal
import http.client
import json
import os
import signal
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from common import (Ctx, Outcome, add_stage_totals, cached_rdds,
                    catalyst_phases, dir_bytes, median, percentile,
                    read_event_log, tree_rss_mb)

LAYERS = ("session", "io", "catalyst", "stages", "tasks", "plans", "service")

# Corpus cases over these views need fixtures the service does not
# register (a nested child table, a literally dotted column name).
_DERIVED_VIEWS = {"orders_nested.items", "nation_dotted"}
EXPLAIN_EVERY = 8
READY_TIMEOUT_S = 90
HTTP_TIMEOUT_S = 60


def corpus(root: str) -> list[dict]:
    """The jx corpus cases over base views: every extension-operator case
    (``"from": {"op": ...}``) and every third plain jx case, in file
    order — two rounds of all 63 would not fit one run's time budget."""
    with open(os.path.join(root, "tests", "jx_corpus.json")) as f:
        cases = [c for c in json.load(f)
                 if not (isinstance(c["query"].get("from"), str)
                         and c["query"]["from"] in _DERIVED_VIEWS)]

    def is_op(c):
        return isinstance(c["query"].get("from"), dict) \
            and "op" in c["query"]["from"]

    plain = [c for c in cases if not is_op(c)]
    keep = {id(c) for c in plain[::3]}
    return [c for c in cases if is_op(c) or id(c) in keep]


class Client:
    """One keep-alive connection; returns (status, body bytes, seconds)."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port,
                                               timeout=HTTP_TIMEOUT_S)

    def post(self, path: str, body: dict):
        data = json.dumps(body).encode()
        t0 = time.perf_counter()
        self.conn.request("POST", path, data,
                          {"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        out = resp.read()
        return resp.status, out, time.perf_counter() - t0

    def close(self) -> None:
        self.conn.close()


def _launch(ctx: Ctx):
    """Start the service process; return (process, port)."""
    proc = subprocess.Popen(
        [sys.executable, "-u", "-m", "activedata_etl_spark.service",
         "--data", ctx.data_dir, "--port", "0"],
        cwd=ctx.root, stdout=subprocess.PIPE, text=True)
    line = proc.stdout.readline()  # "serving on http://127.0.0.1:<port>/query"
    if "serving on" not in line:
        proc.kill()
        raise RuntimeError(f"service did not start: {line!r}")
    return proc, int(line.rsplit(":", 1)[1].split("/")[0])


def _wait_ready(port: int) -> None:
    end = time.monotonic() + READY_TIMEOUT_S
    while True:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=5)
        try:
            conn.request("GET", "/")
            resp = conn.getresponse()
            resp.read()
            if resp.status == 200:
                return
        except OSError:
            pass  # not listening yet
        finally:
            conn.close()
        if time.monotonic() > end:
            raise TimeoutError(f"service not ready after {READY_TIMEOUT_S}s")
        time.sleep(0.05)


class _Tracer:
    """Wraps the jx front-end functions of an in-process server."""

    def __init__(self, spark):
        from activedata_etl_spark.plans import query as PQ
        from activedata_etl_spark.plans import validate as PV

        self.local = threading.local()
        self.lock = threading.Lock()
        self.n = 0
        self.validate_s: list[float] = []
        self.build_s: list[float] = []
        self.format_s: list[float] = []
        self.phases: list[dict] = []
        orig_validate, orig_run, orig_fmt = PV.validate, PQ.run, PQ.run_formatted

        def validate(q):
            with self.lock:
                self.n += 1
                n = self.n
            # every Spark job this request starts carries its id
            spark.sparkContext.setJobGroup(f"req:{n}", f"req:{n}")
            t0 = time.perf_counter()
            try:
                return orig_validate(q)
            finally:
                self.validate_s.append(time.perf_counter() - t0)

        def run(*a, **kw):
            t0 = time.perf_counter()
            df = orig_run(*a, **kw)
            dt = time.perf_counter() - t0
            self.build_s.append(dt)
            self.local.run_s = getattr(self.local, "run_s", 0.0) + dt
            self.local.df = df
            return df

        def run_formatted(*a, **kw):
            self.local.run_s = 0.0
            t0 = time.perf_counter()
            out = orig_fmt(*a, **kw)
            self.format_s.append(time.perf_counter() - t0 - self.local.run_s)
            self.phases.append(catalyst_phases(self.local.df._jdf))
            return out

        PV.validate, PQ.run, PQ.run_formatted = validate, run, run_formatted


def _schedule(seed: int, cases: list[dict], client: int, clients: int):
    """Endless (case index, format) stream of one client: the cases in
    corpus order from the client's offset. The order is the same in every
    run, so every run loads the service with the same mix of concurrent
    cases (a seeded order moved the median latency by ±20% between runs);
    the seed picks the data and the format rotation."""
    n = len(cases)
    k = 0
    pos = client * n // clients
    while True:
        ci = pos % n
        if k % EXPLAIN_EVERY == EXPLAIN_EVERY - 1:
            yield ci, "explain"  # a probe of the case about to run
            k += 1
        fmts = ("list", "table", "cube") if "edges" in cases[ci]["query"] \
            else ("list", "table")
        yield ci, fmts[(seed + k + client) % len(fmts)]
        k += 1
        pos += 1


def _load(ctx: Ctx, port: int, cases: list[dict]):
    """Closed loop of ctx.cpus clients. Returns (records, seconds): one
    record (case index, format, status, seconds, handler s, body) per
    request, bodies kept only for the first answer of each (case, format)
    and for answers that differ from it."""
    lock = threading.Lock()
    records: list[tuple] = []
    seen_body: dict[tuple, set] = {}
    done_formatted: dict[int, int] = {}
    stop = threading.Event()
    t_start = time.perf_counter()

    def finished() -> bool:  # the time is up and every case ran twice
        return (time.perf_counter() - t_start >= ctx.seconds
                and len(done_formatted) == len(cases)
                and min(done_formatted.values()) >= 2)

    def client(i: int) -> None:
        cl = Client(port)
        try:
            for ci, fmt in _schedule(ctx.seed, cases, i, ctx.cpus):
                if stop.is_set():
                    return
                status, body, dt = cl.post(
                    "/query", {**cases[ci]["query"], "format": fmt})
                handler_s = None
                if status == 200 and fmt != "explain":
                    handler_s = json.loads(body)["meta"]["timing"]["total"]
                with lock:
                    key = (ci, fmt)
                    h = hash(body)
                    keep = h not in seen_body.setdefault(key, set())
                    seen_body[key].add(h)
                    records.append((ci, fmt, status, dt, handler_s,
                                    body if keep else None))
                    if fmt != "explain" and status == 200:
                        done_formatted[ci] = done_formatted.get(ci, 0) + 1
                    if finished():
                        stop.set()
        finally:
            cl.close()

    with ThreadPoolExecutor(ctx.cpus) as pool:
        for f in [pool.submit(client, i) for i in range(ctx.cpus)]:
            f.result()
    return records, time.perf_counter() - t_start


def _num(v):
    """JSON values with every number as a float: the reference sql and the
    jx plan may type one column int, double or decimal (72 vs 72.0),
    which compare equal as values."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, dict):
        return {k: _num(x) for k, x in v.items()}
    return [_num(x) for x in v]


def _positional(v):
    """The table format renders struct cells as positional arrays (Spark
    Rows are tuples); give reference structs the same shape."""
    if isinstance(v, dict):
        return [_positional(x) for x in v.values()]
    if isinstance(v, list):
        return [_positional(x) for x in v]
    return v


def _canon_rows(rows: list[dict]) -> list[str]:
    return sorted(json.dumps(_num(r), sort_keys=True) for r in rows)


def _matches(fmt: str, data, ref_rows: list[dict]) -> bool:
    if fmt == "list":
        return _canon_rows(data) == _canon_rows(ref_rows)
    if fmt == "table":
        return _canon_rows([dict(zip(data["header"], r))
                            for r in data["data"]]) == _canon_rows(
            [{k: _positional(v) for k, v in r.items()} for r in ref_rows])
    # cube: every non-empty cell is one result row's value
    def leaves(x):
        if isinstance(x, list):
            for y in x:
                yield from leaves(y)
        elif x is not None:
            yield json.dumps(_num(x))
    for sel, cells in data["data"].items():
        want = sorted(json.dumps(_num(r[sel])) for r in ref_rows
                      if r.get(sel) is not None)
        if sorted(leaves(cells)) != want:
            return False
    return True


def _duck_rows(con, sql: str) -> list[dict] | None:
    """The case's sql run by DuckDB, as JSON-shaped rows (None when
    DuckDB cannot run this Spark SQL dialect)."""
    try:
        cur = con.execute(sql)
    except Exception:  # noqa: BLE001 — any DuckDB error means "no answer"
        return None
    cols = [d[0] for d in cur.description]
    rows = [dict(zip(cols, r)) for r in cur.fetchall()]
    return json.loads(json.dumps(rows, default=_json_default))


def _json_default(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    raise TypeError(type(v).__name__)


def _check(ctx: Ctx, port: int, cases: list[dict],
           records: list[tuple]) -> list[str]:
    """Each answer must equal its case's reference sql, run by DuckDB
    where DuckDB's answer agrees, else by the service's ``POST /sql``
    (Spark SQL, independent of the jx planner)."""
    from activedata_etl_spark.parity import duck_connect

    answers: dict[int, list[tuple[str, object]]] = {}
    problems = []
    for ci, fmt, status, _, _, body in records:
        name = cases[ci]["name"]
        if status != 200:
            problems.append(f"{name} [{fmt}]: HTTP {status}")
        elif body is not None:  # else byte-identical to a kept answer
            answers.setdefault(ci, []).append((fmt, json.loads(body)))

    def agree(ci: int, ref: list[dict] | None) -> bool:
        return ref is not None and all(
            fmt == "explain" or _matches(fmt, p["data"], ref)
            for fmt, p in answers[ci])

    con = duck_connect(ctx.data_dir)
    pending = [ci for ci in answers
               if not agree(ci, _duck_rows(con, cases[ci]["sql"]))]
    con.close()
    ctx.log(f"{len(pending)} of {len(answers)} cases need a Spark SQL "
            "reference")

    def spark_ref(ci: int) -> list[dict] | None:
        cl = Client(port)
        try:
            status, body, _ = cl.post("/sql", {"sql": cases[ci]["sql"]})
        finally:
            cl.close()
        return json.loads(body)["data"] if status == 200 else None

    with ThreadPoolExecutor(ctx.cpus) as pool:
        refs = dict(zip(pending, pool.map(spark_ref, pending)))
    for ci, ref in refs.items():
        name = cases[ci]["name"]
        if ref is None:
            problems.append(f"{name}: reference sql failed")
            continue
        for fmt, p in answers[ci]:
            if fmt != "explain" and not _matches(fmt, p["data"], ref):
                problems.append(f"{name} [{fmt}]: differs from its sql")
    for ci, got in answers.items():
        for fmt, p in got:
            if fmt == "explain" and not p.get("explain"):
                problems.append(f"{cases[ci]['name']} [explain]: empty plan")
    return problems


def run(ctx: Ctx) -> Outcome:
    cases = corpus(ctx.root)
    server = proc = tracer = spark = None
    t0 = time.perf_counter()
    if ctx.trace:
        from activedata_etl_spark import service
        from activedata_etl_spark.session import get_spark

        spark = get_spark("perfbench-service")
        t1 = time.perf_counter()
        tracer = _Tracer(spark)
        server = service.serve(spark, ctx.data_dir, 0)
        ctx.per_layer["session.start_s"] = t1 - t0
        ctx.per_layer["io.register_views_s"] = time.perf_counter() - t1
        threading.Thread(target=server.serve_forever, daemon=True).start()
        port = server.server_address[1]
    else:
        proc, port = _launch(ctx)
    _wait_ready(port)
    setup_s = time.perf_counter() - t0
    ctx.log("set up")

    try:
        before = _usage(ctx, spark)
        records, load_s = _load(ctx, port, cases)
        after = _usage(ctx, spark)
        ctx.log("measured")
        problems = _check(ctx, port, cases, records)
        ctx.log("checked")
        if ctx.trace:
            _trace_layers(ctx, tracer, port, cases, records, before, after)
    finally:
        if server is not None:
            server.shutdown()
            spark.stop()
        if proc is not None:
            proc.send_signal(signal.SIGINT)  # the service's clean shutdown
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    by_case: dict[int, list[float]] = {}
    for ci, fmt, status, dt, _, _ in records:
        if fmt != "explain" and status == 200:
            by_case.setdefault(ci, []).append(dt)
    warm = [dt for ts in by_case.values() for dt in ts[1:]]
    metrics = {
        "setup_s": setup_s,
        "cold_total_s": sum(ts[0] for ts in by_case.values()),
        "warm_total_s": sum(median(ts[1:]) for ts in by_case.values()
                            if len(ts) > 1),
        "latency_p50_ms": 1000 * median(warm),
        "ops_per_s": len(records) / load_s,
    }
    if ctx.trace:
        ctx.per_layer["service.latency_p90_ms"] = 1000 * percentile(warm, 90)
        groups = read_event_log(ctx.event_log_dir)
        add_stage_totals(ctx, groups, lambda k: k.startswith("req:"))
        for k in [k for k in ctx.per_layer
                  if k.startswith(("stages.", "tasks."))]:
            ctx.per_layer[k] /= len(records)
        stages = [st for k, g in groups.items() if k.startswith("req:")
                  for st in g["top"]]
        ctx.artifact = {
            "requests": len(records),
            "latency_s": {cases[ci]["name"]: ts for ci, ts in by_case.items()},
            "top_stages": sorted(stages, key=lambda st: -st["wall_s"])[:10]}
    return Outcome(metrics, len(records), problems)


def _usage(ctx: Ctx, spark) -> dict:
    return {"scratch": dir_bytes(ctx.tmp_root),
            "rss": tree_rss_mb(os.getsid(0)),
            "cached": cached_rdds(spark) if spark is not None else 0}


def _trace_layers(ctx: Ctx, tracer: _Tracer, port: int, cases: list[dict],
                  records: list[tuple], before: dict, after: dict) -> None:
    pl = ctx.per_layer
    pl["plans.validate_ms"] = 1000 * median(tracer.validate_s)
    pl["plans.build_ms"] = 1000 * median(tracer.build_s)
    pl["plans.execute_format_ms"] = 1000 * median(tracer.format_s)
    handler = [h for *_, h, _ in records if h is not None]
    pl["service.handler_ms"] = 1000 * median(handler)
    pl["service.http_overhead_ms"] = 1000 * median(
        [dt - h for _, _, _, dt, h, _ in records if h is not None])
    for p in ("analysis", "optimization", "planning"):
        pl[f"catalyst.{p}_s"] = median([ph.get(p, 0.0)
                                        for ph in tracer.phases])
    pl["service.cached_rdds_growth"] = after["cached"] - before["cached"]
    pl["service.scratch_bytes_growth"] = after["scratch"] - before["scratch"]
    pl["service.rss_growth_mb"] = after["rss"] - before["rss"]
    # explain probes must execute and write nothing: one sequential
    # probe per case, bytes under the run's temp and Spark local dirs
    local = os.environ["SPARK_LOCAL_DIRS"]
    b0 = dir_bytes(ctx.tmp_root) + dir_bytes(local)
    cl = Client(port)
    try:
        for c in cases:
            cl.post("/query", {**c["query"], "format": "explain"})
    finally:
        cl.close()
    pl["service.explain_bytes_written"] = \
        dir_bytes(ctx.tmp_root) + dir_bytes(local) - b0
