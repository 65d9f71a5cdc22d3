"""Portable HyperLogLog (Flajolet et al. 2007) with md5-derived registers.

Spark's ``approx_count_distinct`` is an HLL++ whose hashing is private to
the JVM: its register state can't be checked, stored, or merged by
anything else. This one derives registers from md5 — so the REGISTER
TABLE itself is reproducible bit-for-bit by any engine (the DuckDB
oracle recomputes it), can be persisted as the NDV index of a corpus
shard, and merged across shards/days with a plain max-groupBy. That's
the operational form a 100 TB pipeline wants: registers are ~m rows per
(group, shard), mergeable without rescanning, and auditable.

Register construction (b=8 → m=256 registers, std err ≈ 6.5%):
bucket = first 2 md5 hex digits; x = next 15 hex digits (60 bits);
rho = leading-zero count of x in 60 bits + 1 = 61 − length(bin(x)).

Estimation keeps every step engine-portable: the harmonic sum uses
EXACT arithmetic — Σ 2^(61−M_j) as DECIMAL(38,0) (each term a power of
two ≤ 2^61, so the double→decimal conversions are exact and the sum is
order-free) — and converts to double through the string route (the
decimal→double cast divergence recorded in NOTES_r3). The raw-regime
estimate is then one double division of identical operands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..io import read_parquet

B_BITS = 8
M = 1 << B_BITS                     # 256 registers
W = 60                              # bits of rho material
#: alpha_m for m=256: 0.7213 / (1 + 1.079/m)
ALPHA = 0.7213 / (1 + 1.079 / M)


def hll_registers(df: DataFrame, group_cols: list[str], value) -> DataFrame:
    """(group_cols..., bucket, max_rho) — the mergeable sketch state."""
    v = F.col(value) if isinstance(value, str) else value
    h = F.md5(v.cast("string"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    x = F.conv(F.substring(h, 3, 15), 16, 10).cast("bigint")
    rho = F.when(x == 0, F.lit(W + 1)).otherwise(W + 1 - F.length(F.bin(x)))
    return (df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
            .groupBy(*group_cols, "bucket")
            .agg(F.max("rho").alias("max_rho")))


def hll_merge(*register_tables: DataFrame, group_cols: list[str]) -> DataFrame:
    """Union register tables (shards, days, sources) into one sketch:
    per-register max. Exactly the merge a persisted NDV index needs —
    no rescan of any shard."""
    out = register_tables[0]
    for t in register_tables[1:]:
        out = out.unionByName(t)
    return (out.groupBy(*group_cols, "bucket")
            .agg(F.max("max_rho").alias("max_rho")))


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Raw-regime HLL estimate per group from a register table.

    Emits the exact integer/decimal evidence alongside the float
    estimate: (n_buckets, n_zero, harmonic_scaled [decimal-as-string],
    raw_est). Callers needing the small-range (linear counting)
    correction apply m·ln(m/n_zero) when raw_est ≤ 2.5m — kept OUT of
    the hashed outputs because ln() is the one step libm implementations
    may differ on in the last ulp."""
    # 2^(61-rho) as a BIGINT shift, not pow(): Spark's double→decimal
    # cast routes through the double's short string form and loses the
    # low digits of 2^60-sized terms (caught by the sf0.001 oracle)
    term = F.expr(f"shiftleft(1L, CAST({W + 1} - max_rho AS INT))") \
        .cast("decimal(38,0)")
    scale = float(2 ** (W + 1))
    num = ALPHA * M * M * scale     # exact-float numerator, same literal in SQL
    g = (registers.groupBy(*group_cols)
         .agg(F.count(F.lit(1)).alias("n_buckets"),
              F.sum(term).alias("present_sum")))
    harmonic = (F.col("present_sum")
                + (F.lit(M) - F.col("n_buckets"))
                * F.lit(2 ** (W + 1)).cast("decimal(38,0)"))
    return g.select(
        *group_cols, "n_buckets",
        (F.lit(M) - F.col("n_buckets")).cast("bigint").alias("n_zero"),
        harmonic.cast("string").alias("harmonic_scaled"),
        (F.lit(num) / harmonic.cast("string").cast("double")).alias("raw_est"))


def append_registers(df: DataFrame, group_cols: list[str], value,
                     path: str) -> None:
    """Append this batch's registers to an APPEND-ONLY parquet index.
    Merge happens at read (:func:`read_registers`) — and because merge
    is max(), replaying a batch appends duplicate rows that change
    nothing: the index is idempotent under at-least-once delivery with
    no read-modify-write cycle, no transaction, no lost update."""
    hll_registers(df, group_cols, value).write.mode("append").parquet(path)


def read_registers(spark, path: str, group_cols: list[str]) -> DataFrame:
    """Merge-on-read of an append-only register index: one max-groupBy
    over (group, bucket) — ~m rows per group per appended batch, so
    compaction is optional, not required for correctness."""
    return hll_merge(read_parquet(spark, path), group_cols=group_cols)
