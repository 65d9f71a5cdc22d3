"""Session-window boundary pin (VERDICT r13 #5).

The engine derives 30-minute gap sessions two ways: ``F.session_window``
(events_sessionize_30m, and since r13 join_interval_overlap's session
table) and the oracle's lag+cumsum formulation (``gap > 30 min`` starts
a new session). The two could in principle disagree on an event at
EXACTLY ``prev_ts + 30 min`` — the fixtures never hit that boundary, so
these tests construct it. Measured (r14 probe): Spark's session_window
MERGES the exact-boundary event (window end = last_ts + gap, and an
event starting AT the end still extends the session), which equals the
oracle's strict ``> INTERVAL 30 MINUTE`` flag — same session. Any Spark
upgrade that flips session_window to a half-open boundary breaks these
asserts before it breaks the driver's oracle gate.
"""

import datetime as dt

from pyspark.sql import Window, functions as F

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def _events(spark):
    m = dt.timedelta(minutes=1)
    rows = [
        # user 1: gap of exactly 30 min twice — ONE session of 3 events
        (1, BASE), (1, BASE + 30 * m), (1, BASE + 60 * m),
        # user 2: 30 min − 1 s (inside) then 30 min + 1 s (outside)
        (2, BASE), (2, BASE + 30 * m - dt.timedelta(seconds=1)),
        (2, BASE + 60 * m + dt.timedelta(seconds=1)),
        # user 3: single event
        (3, BASE),
    ]
    return spark.createDataFrame(rows, "user_id int, ts timestamp")


def _lag_cumsum_sessions(df):
    """The oracle formulation, spelled in Spark: new session iff the gap
    is STRICTLY greater than 30 minutes."""
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = df.withColumn(
        "__new__",
        F.when(F.col("ts").cast("long")
               - F.lag(F.col("ts").cast("long")).over(w) > 1800, 1)
        .otherwise(F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0)))
    numbered = flagged.withColumn(
        "session_no",
        F.sum("__new__").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (numbered.groupBy("user_id", "session_no")
            .agg(F.min("ts").alias("s"), F.max("ts").alias("e"),
                 F.count(F.lit(1)).alias("n")))


def test_session_window_merges_exact_boundary_event(spark):
    df = _events(spark)
    sw = (df.groupBy("user_id", F.session_window("ts", "30 minutes"))
          .agg(F.min("ts").alias("s"), F.max("ts").alias("e"),
               F.count(F.lit(1)).alias("n")))
    got = sorted((r.user_id, r.s, r.e, r.n) for r in sw.collect())
    want = sorted((r.user_id, r.s, r.e, r.n)
                  for r in _lag_cumsum_sessions(df).collect())
    assert got == want
    # and the boundary case specifically: user 1 is ONE session of 3
    assert [g for g in got if g[0] == 1] == [(1, BASE,
                                              BASE + dt.timedelta(minutes=60),
                                              3)]


def test_interval_overlap_session_table_matches_lag_cumsum(spark):
    """join_interval_overlap derives (user_id, session_no, s, e) via
    session_window + a session-level row_number; on boundary data that
    table must equal the oracle's lag+cumsum derivation row for row."""
    df = _events(spark)
    sw = (df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
          .agg(F.min("ts").alias("s"), F.max("ts").alias("e")))
    sess = sw.select(
        "user_id",
        F.row_number().over(Window.partitionBy("user_id").orderBy("s"))
        .cast("bigint").alias("session_no"),
        "s", "e")
    got = sorted((r.user_id, r.session_no, r.s, r.e) for r in sess.collect())
    want = sorted((r.user_id, r.session_no, r.s, r.e)
                  for r in _lag_cumsum_sessions(df)
                  .select("user_id", F.col("session_no").cast("bigint"),
                          "s", "e").collect())
    assert got == want


def test_sessionize_salted_equals_one_pass(spark, sf_dir):
    """r14 skew-salt operator (VERDICT r13 #4): the time-chunk salted
    sessionize must produce EXACTLY the one-pass sessions — including
    with a chunk width far below the gap (maximal piece splitting) and
    on exact-boundary data."""
    from activedata_etl_spark.io import load_table
    from activedata_etl_spark.streaming import batch_windows as BW

    e = load_table(spark, sf_dir, "events")
    base = BW.sessionize(e, "ts", "30 minutes", ["user_id"],
                         {"n_events": F.count(F.lit(1))})
    want = sorted((r.user_id, r.session_start, r.session_end, r.n_events)
                  for r in base.collect())
    for chunk_s in (86400, 600, 23):
        got = sorted(
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in BW.sessionize_salted(e, "ts", "30 minutes",
                                          ["user_id"],
                                          chunk_s=chunk_s).collect())
        assert got == want, f"chunk_s={chunk_s}"

    # exact-boundary corpus (the _events fixture above): pieces split at
    # a chunk edge must still merge across it by the <= gap rule
    b = _events(spark)
    want = sorted((r.user_id, r.s, r.e, r.n)
                  for r in _lag_cumsum_sessions(b).collect())
    got = sorted(
        (r.user_id, r.session_start,
         r.session_end - dt.timedelta(minutes=30), r.n_events)
        for r in BW.sessionize_salted(b, "ts", "30 minutes", ["user_id"],
                                      chunk_s=601).collect())
    assert got == want


def test_sessionize_salted_fuzz_random_gaps(spark):
    """Seeded fuzz (the r13 'new machinery lands WITH a fuzz family'
    rule): random users/timestamps with gaps straddling the 30-min
    boundary — including exact-boundary collisions and duplicate
    timestamps — must sessionize identically through the one-pass and
    the salted form at several chunk widths."""
    import random

    rng = random.Random(1402)
    rows = []
    for user in range(1, 21):
        t = 0
        for _ in range(rng.randint(1, 120)):
            step = rng.choice([0, 1, 60, 1799, 1800, 1801, 3600,
                               rng.randint(1, 5400)])
            t += step
            rows.append((user, t))
    df = spark.createDataFrame(rows, "user_id int, epoch long").select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"))

    from activedata_etl_spark.streaming import batch_windows as BW

    want = sorted((r.user_id, r.session_start, r.session_end, r.n_events)
                  for r in BW.sessionize(
                      df, "ts", "30 minutes", ["user_id"],
                      {"n_events": F.count(F.lit(1))}).collect())
    for chunk_s in (86400, 1800, 777):
        got = sorted(
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in BW.sessionize_salted(df, "ts", "30 minutes",
                                          ["user_id"],
                                          chunk_s=chunk_s).collect())
        assert got == want, f"chunk_s={chunk_s}"


def test_interval_overlap_rebuild_keeps_earlier_frame_readable(spark, sf_dir):
    """join_interval_overlap stages its session table per build: a second
    build in the same session must not replace the files an earlier,
    not yet collected DataFrame of the query reads."""
    from activedata_etl_spark.parity import compare, duck_connect
    from activedata_etl_spark.queries import ORACLES, QUERIES

    name = "join_interval_overlap"
    first = QUERIES[name](spark, sf_dir)
    QUERIES[name](spark, sf_dir)
    res = compare(name, first, ORACLES[name], duck_connect(sf_dir))
    assert res.ok, str(res)
