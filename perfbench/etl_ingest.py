"""The nightly ETL ingest of ``headline_batch``: the seeded ``events`` and
``documents`` delivered in batches of days into a rollover store and a
dedup index private to the run.

The seed deals the 30 event days into BATCHES groups (``days[b::BATCHES]``,
so the group sizes do not depend on the seed) and the documents into
BATCHES equal shares. A delivery is:

- ``stamp_provenance`` then ``rollover_write`` of the batch's events
  (day partitions, dynamic overwrite);
- for the first batch, ``build_index`` seeds the ``dedup_index`` and its
  pairs are read back with ``near_dup_pairs_from_index``; every later
  batch runs ``pairs_against_index`` and then ``append_to_index``.

The night: the seeding delivery, one delivery of new data per remaining
batch (``deliver_next``, the timed unit; ``headline_batch`` makes one per
cold round), then ``read_rollover`` over a seeded period range and
``compact_index``.

Checks, outside the timed region: the rollover read-back equals the
source events; the union of the per-delivery pair sets equals a one-shot
``near_dup_pairs`` over all documents; the range read returns the source
row count of that range.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from contextlib import nullcontext

from common import Ctx, data_files, dir_bytes, job_group
from datagen import EVENT_DAYS

BATCHES = 4
PARAMS = {"n_hashes": 16, "n_bands": 4, "shingle_n": 3}
THRESHOLD = 0.5
_DAY0 = dt.datetime(2024, 1, 1)


def plan(seed: int, doc_ids: list[int]) -> tuple[list[dict],
                                                  tuple[str, str]]:
    """Batches ({"days", "docs"}) and the period range read back after
    the deliveries."""
    rng = random.Random(seed)
    days = [(_DAY0 + dt.timedelta(days=d)).date() for d in range(EVENT_DAYS)]
    docs = list(doc_ids)
    rng.shuffle(days)
    rng.shuffle(docs)
    batches = [{"days": sorted(days[b::BATCHES]),
                "docs": sorted(docs[b::BATCHES])} for b in range(BATCHES)]
    start = (_DAY0 + dt.timedelta(days=rng.randrange(EVENT_DAYS - 7))).date()
    end = start + dt.timedelta(days=rng.randint(3, 7))
    return batches, (start.isoformat(), end.isoformat())


def _pairs(rows) -> set:
    return {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in rows}


class Ingest:
    """The run's rollover directory and dedup index, with every call into
    the ETL and index layers timed by kind."""

    def __init__(self, ctx: Ctx, spark):
        self.ctx, self.spark = ctx, spark
        self.events, self.docs = spark.table("events"), spark.table("documents")
        self.out = os.path.join(ctx.run_dir, "etl", "rollover")
        self.idx = os.path.join(ctx.run_dir, "etl", "index")
        self.t: dict[str, float] = {}
        self.pairs: set = set()
        self.delivered = 0

    def timed(self, key: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.t[key] = self.t.get(key, 0.0) + time.perf_counter() - t0
        return out

    def group(self, name: str):
        return job_group(self.spark, name) if self.ctx.trace \
            else nullcontext()

    def seed(self) -> None:
        """Plan the night and deliver its first batch, which seeds the
        index; ``next_batch`` then yields the batches of new data."""
        doc_ids = sorted(r.doc_id for r in
                         self.docs.select("doc_id").collect())
        self.batches, self.period = plan(self.ctx.seed, doc_ids)
        self.seed_s = self.deliver(self.batches[0])
        self.new_s: list[float] = []

    def deliver_next(self) -> float:
        """Deliver the next batch of new data; returns its latency."""
        self.new_s.append(self.deliver(self.batches[len(self.new_s) + 1]))
        return self.new_s[-1]

    def finish(self) -> None:
        """The night's close: the period range read and the index
        compaction."""
        self.range_rows = self.read_range(self.period)
        self.compact()

    def deliver(self, batch: dict) -> float:
        from pyspark.sql import functions as F

        from activedata_etl_spark.ext import dedup_index as DI
        from activedata_etl_spark.sources.etl import (rollover_write,
                                                      stamp_provenance)

        t0 = time.perf_counter()
        i = self.delivered
        with self.group(f"delivery:{i}"):
            ev = self.events.filter(F.to_date("ts").isin(batch["days"]))
            stamped = stamp_provenance(ev, f"nightly.{i}", F.col("event_id"))
            self.timed("write", lambda: rollover_write(stamped, self.out,
                                                       "ts"))
            new = self.docs.filter(F.col("doc_id").isin(batch["docs"]))
            if i == 0:
                # seeding the index is the first append
                self.timed("append", lambda: DI.build_index(
                    new, "doc_id", "text", self.idx, **PARAMS))
                got = DI.near_dup_pairs_from_index(self.spark, self.idx,
                                                   THRESHOLD)
            else:
                # the call itself runs eager sizing and staging jobs
                got = self.timed("pairs", lambda: DI.pairs_against_index(
                    new, "doc_id", "text", self.spark, self.idx, THRESHOLD,
                    **PARAMS))
            self.pairs |= _pairs(self.timed("pairs", got.collect))
            if i > 0:
                self.timed("append", lambda: DI.append_to_index(
                    new, "doc_id", "text", self.idx, **PARAMS))
        self.delivered += 1
        return time.perf_counter() - t0

    def read_range(self, period: tuple[str, str]) -> int:
        from pyspark.sql import functions as F

        from activedata_etl_spark.sources.etl import read_rollover

        with self.group("read"):
            df = read_rollover(self.spark, self.out, *period).agg(
                F.count("*").alias("n"), F.sum("value"))
            return self.timed("read", lambda: df.first()["n"])

    def compact(self) -> None:
        from activedata_etl_spark.ext import dedup_index as DI

        before = {p: os.path.getsize(p) for p in data_files(self.idx)}
        with self.group("compact"):
            self.timed("compact", lambda: DI.compact_index(self.spark,
                                                           self.idx))
        after = {p: os.path.getsize(p) for p in data_files(self.idx)}
        self.rewritten = sum(s for p, s in after.items() if p not in before)
        self.index_after_compact = (len(after), dir_bytes(self.idx))

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        from activedata_etl_spark.ext import dedup as DD
        from activedata_etl_spark.sources.etl import read_rollover

        spark, events = self.spark, self.events
        problems = []
        back = read_rollover(spark, self.out).drop("__period__")
        if back.filter(F.col("etl.id") != F.col("event_id")).count():
            problems.append("rollover: provenance id differs from event_id")
        back = back.drop("etl")
        if back.exceptAll(events).count() or events.exceptAll(back).count():
            problems.append("rollover read-back differs from the source "
                            "events")
        start, end = self.period
        want = events.filter((F.to_date("ts") >= start)
                             & (F.to_date("ts") < end)).count()
        if self.range_rows != want:
            problems.append(f"read_rollover {self.period}: "
                            f"{self.range_rows} rows, source has {want}")
        one_shot = _pairs(DD.near_dup_pairs(self.docs, "doc_id", "text",
                                            threshold=THRESHOLD, **PARAMS)
                          .collect())
        if self.pairs != one_shot:
            problems.append(f"per-delivery pairs ({len(self.pairs)}) differ "
                            f"from one-shot pairs ({len(one_shot)})")
        return problems

    def trace_layers(self) -> None:
        from pyspark.sql import functions as F

        pl = self.ctx.per_layer
        pl["etl.rollover_write_s"] = self.t.get("write", 0.0)
        pl["etl.read_rollover_s"] = self.t.get("read", 0.0)
        pl["index.pairs_against_s"] = self.t.get("pairs", 0.0)
        pl["index.append_s"] = self.t.get("append", 0.0)
        pl["index.compact_s"] = self.t.get("compact", 0.0)
        pl["etl.files_written"] = len(data_files(self.out))
        pl["etl.bytes_written"] = dir_bytes(self.out)
        pl["index.files"], pl["index.bytes"] = self.index_after_compact
        pl["index.compact_bytes_rewritten"] = self.rewritten
        rows = sum(self.events.filter(F.to_date("ts").isin(b["days"]))
                   .count() + len(b["docs"]) for b in self.batches)
        pl["etl.rows_per_s"] = rows / (self.seed_s + sum(self.new_s))
        input_bytes = sum(os.path.getsize(os.path.join(self.ctx.data_dir,
                                                       f"{t}.parquet"))
                          for t in ("events", "documents"))
        pl["etl.bytes_per_input_byte"] = \
            (pl["etl.bytes_written"] + pl["index.bytes"]) / input_bytes
