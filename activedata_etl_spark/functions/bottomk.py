"""Bottom-k signatures (Cohen & Kaplan 2007; the KMV sketch of
Bar-Yossef et al. 2002) — the third portable sketch family next to the
HLL registers (functions/hll.py) and CMS counters (functions/cms.py).

The sketch of a key set is the k smallest md5(key) values. That single
object answers three things a 100 TB pipeline keeps asking:

- a MERGEABLE UNIFORM SAMPLE of the distinct keys (md5 order is a
  random permutation of the key universe, so the k hash-smallest keys
  are a uniform without-replacement sample — and merging shards is just
  re-taking the k smallest of the union, no rescan);
- a DISTINCT-COUNT estimate: with h_k = the k-th smallest hash mapped
  into [0, 2^32), NDV ≈ (k−1) · 2^32 / h_k (the classic KMV
  estimator; exact when the group has < k distinct keys, since the
  sketch then IS the key set);
- a JACCARD estimate between two sets from their signatures alone:
  J ≈ |B(A∪B) ∩ A ∩ B| / k where B(A∪B) is the bottom-k of the merged
  signatures — the MinHash argument, but with ONE k-row signature per
  set instead of k independent hash functions.

Everything is md5-derived and deterministic, so the signature TABLE is
reproducible bit-for-bit by any engine (the DuckDB oracles rebuild it),
persistable as an append-only index (merge-on-read = re-top-k, replay
of a batch is absorbed by DISTINCT), and auditable row by row.

Plan shape: signature construction is one distinct-aggregate plus a
per-group top-k window over (group, hash) rows — hash-width rows, never
data rows; at 100 TB each shard ships exactly k rows per group upward,
and every downstream answer touches only signature tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..io import read_parquet

#: hash-space size for the NDV estimator: first 8 md5 hex digits.
HASH_SPACE = 1 << 32


def _h(value) -> F.Column:
    v = F.col(value) if isinstance(value, str) else value
    return F.md5(v.cast("string"))


def bottomk_signature(df: DataFrame, group_cols: list[str], value,
                      k: int = 64) -> DataFrame:
    """(group_cols..., h, key, rank) — the k hash-smallest DISTINCT keys
    per group, rank 1..k in hash order. Ties cannot occur (md5 of
    distinct strings collides with negligible probability; equal keys
    are collapsed by the distinct)."""
    v = F.col(value) if isinstance(value, str) else value
    d = (df.select(*group_cols, v.alias("key"))
         .where(F.col("key").isNotNull()).distinct()
         .withColumn("h", _h(F.col("key"))))
    return _topk(d, group_cols, k)


def _topk(d: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """k hash-smallest rows (+rank), grouped or global. The GLOBAL form
    goes through orderBy+limit — Spark lowers it to
    TakeOrderedAndProject (per-partition heaps, no single-partition
    sort of the distinct-key universe); the ranking window then runs
    over k rows only."""
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy("h")
        return (d.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select(*group_cols, "h", "key", "rank"))
    return (d.orderBy("h").limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy("h")))
            .select("h", "key", "rank"))


def bottomk_merge(*signatures: DataFrame, group_cols: list[str],
                  k: int = 64) -> DataFrame:
    """Merge signature tables (shards, days, sources) into the signature
    of the union: distinct (absorbs replayed batches), then re-top-k.
    ``bottomk_merge(sig(A), sig(B)) == bottomk_signature(A ∪ B)`` — the
    closure property that makes the index append-only."""
    out = signatures[0].select(*group_cols, "h", "key")
    for s in signatures[1:]:
        out = out.unionByName(s.select(*group_cols, "h", "key"))
    return _topk(out.distinct(), group_cols, k)


def bottomk_ndv(signature: DataFrame, group_cols: list[str],
                k: int = 64) -> DataFrame:
    """KMV distinct-count estimate per group from a signature table.

    Saturated groups (k rows): NDV ≈ (k−1)·2^32 / h_k with h_k from the
    first 8 hex digits — one integer-derived double division, identical
    in any engine. Unsaturated groups: the sketch holds EVERY distinct
    key, so the answer is exact (est = n_sig)."""
    g = (signature.groupBy(*group_cols)
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_sig"),
              F.max(F.when(F.col("rank") == k,
                           F.conv(F.substring("h", 1, 8), 16, 10)
                           .cast("bigint"))).alias("h_k")))
    est = F.when(F.col("h_k").isNull(), F.col("n_sig").cast("double")) \
        .otherwise(F.lit(float(k - 1)) * F.lit(float(HASH_SPACE))
                   / F.col("h_k").cast("double"))
    return g.select(*group_cols, "n_sig", est.alias("est_ndv"))


def _merged_pair_topk(signature: DataFrame, group_col: str,
                      k: int) -> DataFrame:
    """For every unordered group pair: the k hash-smallest of the union
    of the two signatures, each row tagged with side membership
    (in_a/in_b) and its rank in the merged sample — the shared builder
    behind :func:`bottomk_jaccard` and :func:`bottomk_setops`. The
    crossJoin is against the broadcast GROUP LIST (n_groups rows), so
    everything stays signature-sized."""
    a = signature.select(F.col(group_col).alias("ga"), "h")
    b = signature.select(F.col(group_col).alias("gb"), "h")
    groups = F.broadcast(signature.select(
        F.col(group_col).alias("__g__")).distinct())
    pairs = (a.crossJoin(groups.select(F.col("__g__").alias("gb")))
             .filter(F.col("ga") < F.col("gb"))
             .select("ga", "gb", "h", F.lit(1).alias("in_a"),
                     F.lit(0).alias("in_b"))
             .unionByName(
                 b.crossJoin(groups.select(F.col("__g__").alias("ga")))
                 .filter(F.col("ga") < F.col("gb"))
                 .select("ga", "gb", "h", F.lit(0).alias("in_a"),
                         F.lit(1).alias("in_b"))))
    merged = (pairs.groupBy("ga", "gb", "h")
              .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")))
    w = Window.partitionBy("ga", "gb").orderBy("h")
    return (merged.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def bottomk_jaccard(signature: DataFrame, group_col: str,
                    k: int = 64) -> DataFrame:
    """Pairwise Jaccard estimates between every two groups, from their
    signatures alone (group_col, group_col_b, n_shared, j_est).

    For each unordered pair: take the k hash-smallest of the union of
    the two signatures (a uniform sample of A ∪ B), count how many of
    those keys appear in BOTH signatures, divide by the sample size.
    Exact when both groups are unsaturated. Plan: signatures self-join
    on h (signature-sized, k·n_groups rows), so corpus size never
    enters — the source-similarity matrix for hundreds of sources costs
    k·sources² rows, not a data scan."""
    topk = _merged_pair_topk(signature, group_col, k)
    return (topk.groupBy("ga", "gb")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_union_sample"),
                 F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1))
                       .cast("int")).cast("bigint").alias("n_shared"))
            .select(F.col("ga").alias(group_col),
                    F.col("gb").alias(f"{group_col}_b"),
                    "n_union_sample", "n_shared",
                    (F.col("n_shared").cast("double")
                     / F.col("n_union_sample").cast("double"))
                    .alias("j_est")))


def append_signature(df: DataFrame, group_cols: list[str], value,
                     path: str, k: int = 64) -> None:
    """Append this batch's signature to an APPEND-ONLY parquet index.
    Merge-on-read (:func:`read_signature`) re-takes the top-k after a
    DISTINCT, so at-least-once replay appends rows that change nothing —
    the HLL-register idempotence argument with distinct+top-k in place
    of max."""
    bottomk_signature(df, group_cols, value, k) \
        .write.mode("append").parquet(path)


def read_signature(spark, path: str, group_cols: list[str],
                   k: int = 64) -> DataFrame:
    """Merge-on-read of an append-only signature index."""
    return bottomk_merge(read_parquet(spark, path),
                         group_cols=group_cols, k=k)


def bottomk_setops(signature: DataFrame, group_col: str,
                   k: int = 64) -> DataFrame:
    """Set-OPERATION cardinalities for every unordered group pair, from
    their signatures alone — the KMV family's answer to "how many
    distinct keys do these two sources share / cover together" without
    rescanning either (the question Theta sketches sell; bottom-k
    answers it with the same union-sample argument).

    Per pair (A, B): the k hash-smallest of sig(A) ∪ sig(B) is a
    bottom-k signature OF A ∪ B (closure), so
    - ``union_est``: the KMV estimator on that merged sample — exact
      (= sample size) when the union is unsaturated (< k distinct);
    - ``j_est``: shared fraction of the union sample (the MinHash
      argument);
    - ``intersect_est``: j_est · union_est (|A∩B| = J·|A∪B|), exact in
      the unsaturated case for the same reason.

    All inputs are deterministic md5-derived integers; the three
    outputs are fixed-order double arithmetic over them, so any engine
    reproduces the estimates bit-for-bit. Plan: signature-sized joins
    only — k·groups² rows ceiling, no data scan."""
    topk = _merged_pair_topk(signature, group_col, k)
    g = (topk.groupBy("ga", "gb")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_union_sample"),
              F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1))
                    .cast("int")).cast("bigint").alias("n_shared"),
              F.max(F.when(F.col("rank") == k,
                           F.conv(F.substring("h", 1, 8), 16, 10)
                           .cast("bigint"))).alias("h_k")))
    union_est = F.when(
        F.col("h_k").isNull(), F.col("n_union_sample").cast("double")) \
        .otherwise(F.lit(float(k - 1)) * F.lit(float(HASH_SPACE))
                   / F.col("h_k").cast("double"))
    j_est = (F.col("n_shared").cast("double")
             / F.col("n_union_sample").cast("double"))
    return g.select(
        F.col("ga").alias(group_col), F.col("gb").alias(f"{group_col}_b"),
        "n_union_sample", "n_shared",
        union_est.alias("union_est"), j_est.alias("j_est"),
        (j_est * union_est).alias("intersect_est"))
