"""Portable log-histogram quantile registers — the fourth sketch family
(HLL → NDV, CMS → frequency, bottom-k → sample/Jaccard, THIS → quantile
bounds), in the HDR-histogram tradition but reduced to pure integer
arithmetic so every register and every answer is bit-reproducible by the
DuckDB oracle.

State: (group, bucket, n) counts where bucket b holds values in
[2^(b-1), 2^b) (bucket 0 holds v ≤ 0) — ~64 rows per group regardless
of data size. DOMAIN CONTRACT: values are bucketed after a BIGINT cast
(truncation toward zero), so the envelope guarantees below are stated
for the truncated integer value; fractional inputs in (0, 1) truncate
to 0 and land in bucket 0, whose lower bound is reported as NULL
(unbounded below) precisely so the [lo, hi] claim stays true for
negative data too. Merge = SUM, so shards/days combine without
rescanning;
counts are additive, so the persisted index uses batch-keyed OVERWRITE
directories (the CMS idempotence pattern, functions/cms.py), not blind
append.

Answers:
- quantile BOUNDS with a guaranteed factor-2 relative envelope: the
  p-quantile lies in the first bucket whose cumulative count reaches
  rank ceil(p·N); [2^(b-1), 2^b) brackets it. Exact rank selection over
  integer counts — no floats anywhere until the caller divides.
- distribution drift between two register sets (days, sources, corpus
  vs delta) as total-variation distance over buckets:
  TV = Σ|c0·N1 − c1·N0| / (2·N0·N1) — one exact integer sum, one final
  division (the text_term_drift_tv pattern for numeric columns).

At 100 TB: the scan emits (group, bucket) rows that partial-aggregate
map-side to ≤64 rows per group per partition; everything downstream is
register-table-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..io import read_parquet


def _bucket(value) -> F.Column:
    v = (F.col(value) if isinstance(value, str) else value).cast("bigint")
    return (F.when(v <= 0, F.lit(0))
            .otherwise(F.length(F.bin(v))).cast("int"))


def qhist_registers(df: DataFrame, group_cols: list[str],
                    value) -> DataFrame:
    """(group_cols..., bucket, n) — the mergeable quantile-sketch state."""
    return (df.select(*group_cols, _bucket(value).alias("bucket"))
            .groupBy(*group_cols, "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))


def qhist_merge(*register_tables: DataFrame,
                group_cols: list[str]) -> DataFrame:
    """SUM-merge register tables (shards, days, sources)."""
    out = register_tables[0]
    for t in register_tables[1:]:
        out = out.unionByName(t)
    return (out.groupBy(*group_cols, "bucket")
            .agg(F.sum("n").cast("bigint").alias("n")))


def qhist_quantile_bounds(registers: DataFrame, group_cols: list[str],
                          ps: dict[str, tuple[int, int]]) -> DataFrame:
    """Per-group quantile BOUNDS from a register table.

    ``ps`` maps output prefix → (numerator, denominator), e.g.
    {"p50": (1, 2), "p95": (19, 20)}; the target rank is
    ceil(p·N) = (N·num + den − 1) DIV den, all BIGINT. For each p the
    output carries ``<name>_bucket``, ``<name>_lo`` (2^(b−1); NULL —
    unbounded below — for the zero bucket, which admits every v ≤ 0)
    and ``<name>_hi`` (2^b − 1, the largest value the bucket admits) —
    the exact (BIGINT-truncated, see module contract) order statistic
    provably lies in [lo, hi] (lo NULL ⇒ no lower bound), the factor-2
    envelope.

    Plan: one running-sum window per group over ≤64 register rows, then
    a min-aggregate per target — register-table-sized throughout."""
    from pyspark.sql import Window

    w = (Window.partitionBy(*group_cols).orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0))
    tot = Window.partitionBy(*group_cols)
    r = (registers
         .withColumn("__cum__", F.sum("n").over(w).cast("bigint"))
         .withColumn("__N__", F.sum("n").over(tot).cast("bigint")))
    aggs = [F.max("__N__").alias("n_rows")]
    for name, (num, den) in ps.items():
        # integer DIV, never a double detour: exact past 2^53 rows
        rank = F.expr(f"CAST((__N__ * {int(num)} + {int(den) - 1}) "
                      f"DIV {int(den)} AS BIGINT)")
        hit = F.when(F.col("__cum__") >= rank, F.col("bucket"))
        aggs.append(F.min(hit).cast("int").alias(f"{name}_bucket"))
    out = r.groupBy(*group_cols).agg(*aggs)
    for name in ps:
        b = F.col(f"{name}_bucket")
        out = (out.withColumn(
            f"{name}_lo",
            # bucket 0 admits every v <= 0: lower bound is NULL
            # (unbounded below), never a false "0"
            F.when(b <= 0, F.lit(None)).otherwise(
                F.expr(f"shiftleft(1L, {name}_bucket - 1)"))
            .cast("bigint"))
            .withColumn(
            f"{name}_hi",
            F.when(b <= 0, F.lit(0)).otherwise(
                F.expr(f"shiftleft(1L, {name}_bucket) - 1L"))
            .cast("bigint")))
    return out


def qhist_tv_distance(regs_a: DataFrame, regs_b: DataFrame,
                      group_cols: list[str]) -> DataFrame:
    """Total-variation distance between two register sets per group:
    TV = Σ_buckets |c_a·N_b − c_b·N_a| / (2·N_a·N_b). The numerator sum
    is exact BIGINT; the one division happens last."""
    a = regs_a.groupBy(*group_cols, "bucket") \
        .agg(F.sum("n").cast("bigint").alias("ca"))
    b = regs_b.groupBy(*group_cols, "bucket") \
        .agg(F.sum("n").cast("bigint").alias("cb"))
    j = (a.join(b, [*group_cols, "bucket"], "full")
         .fillna(0, ["ca", "cb"]))
    na = j.groupBy(*group_cols).agg(F.sum("ca").cast("bigint").alias("na"),
                                    F.sum("cb").cast("bigint").alias("nb"))
    return (j.join(na, group_cols) if group_cols
            else j.crossJoin(F.broadcast(na))) \
        .groupBy(*group_cols) \
        .agg(F.max("na").alias("na"), F.max("nb").alias("nb"),
             F.sum(F.abs(F.col("ca") * F.col("nb")
                         - F.col("cb") * F.col("na")))
             .cast("bigint").alias("num")) \
        .select(*group_cols, "na", "nb",
                (F.col("num").cast("double")
                 / (2.0 * F.col("na").cast("double")
                    * F.col("nb").cast("double"))).alias("tv"))


def append_qhist_index(df: DataFrame, group_cols: list[str], value,
                       path: str, batch_id: int) -> None:
    """Incremental maintenance with AT-LEAST-ONCE safety: counts are
    SUMS, so each micro-batch OVERWRITES its own batch-keyed directory
    (the CMS pattern) — replaying batch k rewrites identical bytes
    instead of double-counting."""
    import os

    qhist_registers(df, group_cols, value).write.mode("overwrite") \
        .parquet(os.path.join(path, f"batch={batch_id}"))


def read_qhist_index(spark, path: str, group_cols: list[str]) -> DataFrame:
    """Merge-on-read: SUM the per-batch register shards."""
    return (read_parquet(spark, path, base_path=path)
            .groupBy(*group_cols, "bucket")
            .agg(F.sum("n").cast("bigint").alias("n")))
