"""Portable count–min sketch (Cormode & Muthukrishnan 2005) with
md5-derived buckets — frequency estimation as mergeable, auditable
state, completing the sketch family next to the portable HLL (distinct
counts, functions/hll.py) and the GK percentile audit.

Why not a black-box sketch library: the whole point of persisted sketch
state in this engine is that ANY engine can recompute, verify, and
merge it. Buckets derive from md5(row_seed || key), so the register
table is bit-reproducible by the DuckDB oracle, persists as the
frequency index of a corpus shard, and merges across shards/days with a
plain SUM-groupBy (counters are additive — the CMS merge rule).

Shape: ``d`` independent rows × ``w`` counters. Point estimate for a
key = min over rows of its counter — one-sided error (never an
undercount), overcount ≤ 2N/w with probability ≥ 1 − (1/2)^d for the
classic parameterization. All integer arithmetic end to end: exact,
order-free, engine-portable.

At 100 TB: the register table is d·w rows per (group, shard) — tiny,
broadcastable — and heavy-hitter queries (which URLs/hosts/n-grams are
hot) read it instead of rescanning the corpus; the same counters feed
the streaming index pattern (append per micro-batch, SUM on read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..io import read_parquet

D_ROWS = 4
W_COLS = 64


def _bucket(row: int, value) -> F.Column:
    """Counter index of ``value`` in sketch row ``row``: first 8 md5 hex
    digits of the row-seeded key, mod w — uniform and engine-portable."""
    v = F.col(value) if isinstance(value, str) else value
    h = F.md5(F.concat(F.lit(f"r{row}|"), v.cast("string")))
    return F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"),
                  F.lit(W_COLS)).cast("int")


def cms_registers(df: DataFrame, group_cols: list[str], value) -> DataFrame:
    """(group_cols..., row, col, n) — the mergeable sketch state: one
    scan explodes each input row into its ``d`` (row, bucket) cells, one
    shuffle sums. Rows absent from the output are zero counters."""
    cells = df.select(
        *group_cols,
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("row"), _bucket(r, value).alias("col"))
            for r in range(D_ROWS)])).alias("__c__"))
    return (cells.groupBy(*group_cols, "__c__.row", "__c__.col")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))


def cms_merge(*register_tables: DataFrame, group_cols: list[str]) -> DataFrame:
    """Union register tables into one sketch: per-cell SUM (counters are
    additive) — merge shards/days without rescanning either."""
    out = register_tables[0]
    for t in register_tables[1:]:
        out = out.unionByName(t)
    return (out.groupBy(*group_cols, "row", "col")
            .agg(F.sum("n").cast("bigint").alias("n")))


def cms_estimate(registers: DataFrame, probes: DataFrame,
                 group_cols: list[str], key_col: str) -> DataFrame:
    """Point-frequency estimates for ``probes`` keys against the sketch:
    min over the d row counters (missing counter = 0). Join is on the
    (group, row, col) cell key — register-table-sized, never the corpus."""
    keyed = probes.select(
        *group_cols, F.col(key_col),
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("row"), _bucket(r, key_col).alias("col"))
            for r in range(D_ROWS)])).alias("__c__")) \
        .select(*group_cols, key_col, "__c__.row", "__c__.col")
    joined = keyed.join(registers, [*group_cols, "row", "col"], "left")
    return (joined.groupBy(*group_cols, key_col)
            .agg(F.min(F.coalesce("n", F.lit(0))).cast("bigint")
                 .alias("est")))


def cms_heavy_hitters(registers: DataFrame, candidates: DataFrame,
                      group_cols: list[str], key_col: str,
                      k: int) -> DataFrame:
    """Top-k most-frequent keys per group, answered from the SKETCH: rank
    candidate keys by their count-min estimate (ties broken by key — the
    ordering must be total for a deterministic top-k) and keep the first
    ``k``. A CMS cannot enumerate keys, so ``candidates`` supplies them —
    the distinct key universe for a bounded domain, or the streaming
    candidate list the ingest kept; either way the join touches only the
    d·w-per-group register table, never the corpus. One-sided error
    means a true heavy hitter can be displaced only by an OVERcounted
    lighter key — estimates never undercount — which is the classic
    CMS top-k guarantee (Cormode & Muthukrishnan 2005, §4)."""
    from pyspark.sql import Window

    est = cms_estimate(registers, candidates, group_cols, key_col)
    w = (Window.partitionBy(*group_cols)
         .orderBy(F.desc("est"), F.col(key_col)))
    return (est.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def append_cms_index(df: DataFrame, group_cols: list[str], value,
                     path: str, batch_id: int) -> None:
    """Incremental sketch maintenance with AT-LEAST-ONCE safety: unlike
    the HLL index (max-merge, replay-idempotent by algebra), CMS
    counters are SUMS — a replayed append would double-count. So each
    micro-batch OVERWRITES its own batch-keyed directory (the
    reference's idempotent etl-key overwrite): replaying batch k
    rewrites identical bytes instead of adding them."""
    import os

    cms_registers(df, group_cols, value).write.mode("overwrite") \
        .parquet(os.path.join(path, f"batch={batch_id}"))


def read_cms_index(spark, path: str, group_cols: list[str]) -> DataFrame:
    """Merge-on-read: SUM the per-batch register shards into one sketch."""
    return (read_parquet(spark, path, base_path=path)
            .groupBy(*group_cols, "row", "col")
            .agg(F.sum("n").cast("bigint").alias("n")))
