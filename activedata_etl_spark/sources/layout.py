"""Multi-dimensional data layout: Z-order (Morton) clustering.

Partition pruning (sources/etl.py date partitions + DPP) and bucketing
(sources/bucketing.py) each optimize ONE key. A 100 TB fact table
queried by several dimensions at once — (customer, date), (host, lang)
— needs its rows CLUSTERED so parquet row-group min/max stats are tight
on every dimension simultaneously; sorting by one column makes the
others' per-file ranges span the whole domain. Z-ordering interleaves
the bits of the dimension keys into one sort key: files then cover
small hyper-rectangles of the key space, and a predicate on ANY ordered
dimension skips most files on footer stats alone (the same mechanism
Delta/Iceberg OPTIMIZE ZORDER relies on — here as a plain repartition +
write, no table format required).

Everything is integer bit arithmetic (exact, oracle-checkable); the
write is one range-shuffle on the z-key. Values must be non-negative
ints that fit ``bits`` bits — normalize first (rank, bucket, epoch-day)
as the caller; that normalization is also what makes skewed dimensions
usable (rank-space is uniform by construction).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from ..io import read_parquet


def zorder_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton interleave of ``len(cols)`` non-negative int columns,
    ``bits`` bits each: bit *i* of column *k* lands at position
    i·n_cols + k. Pure integer shifts/masks — bit-identical on any
    engine. With the default 16 bits × 2 cols the key fits a bigint."""
    n = len(cols)
    assert n * bits <= 63, "z-key must fit a signed 64-bit integer"
    parts = []
    for k, c in enumerate(cols):
        c = F.col(c) if isinstance(c, str) else c
        c = c.cast("bigint")
        parts.extend(
            F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + k)
            for i in range(bits))
    return reduce(lambda a, b: a.bitwiseOR(b), parts).alias("zkey")


def write_zordered(df: DataFrame, path: str, cols: list[str],
                   n_files: int, bits: int = 16) -> None:
    """Cluster ``df`` into ``n_files`` parquet files by z-order of
    ``cols``: one range-shuffle on the z-key (contiguous key ranges per
    file — that is what makes footer min/max tight), rows sorted within
    each file so row-group stats nest the same way. The z-key itself is
    not stored; it is a layout decision, not data."""
    zk = zorder_key(cols, bits)
    (df.withColumn("__zkey__", zk)
       .repartitionByRange(n_files, F.col("__zkey__"))
       .sortWithinPartitions("__zkey__")
       .drop("__zkey__")
       .write.mode("overwrite").parquet(path))


def build_manifest(spark, path: str, stat_cols: list[str]) -> DataFrame:
    """Per-FILE min/max manifest for ``stat_cols`` — the table-format
    trick (Iceberg manifests / Delta file stats) without the table
    format: one distributed pass groups rows by ``input_file_name`` and
    records each file's value ranges. Persist it next to the data and a
    planner can decide which files a predicate touches WITHOUT opening
    any parquet footer — at 100 TB the difference between a driver-side
    list-and-prune over a few thousand manifest rows and a cluster-wide
    footer stampede. Rebuild (or append per new file) on write; the
    manifest is derived data, bit-reproducible from the files."""
    df = read_parquet(spark, path)
    aggs = []
    for c in stat_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (df.groupBy(F.input_file_name().alias("file"))
            .agg(F.count(F.lit(1)).alias("n_rows"), *aggs))


def manifest_path(data_path: str) -> str:
    """Conventional sibling location for a persisted manifest: the data
    dir's path + ``.manifest``. io.load_parquet consults this path, so a
    layout written with write_zordered + write_manifest gets file-level
    pruning through the STANDARD read path — no opt-in helper call."""
    return data_path.rstrip("/") + ".manifest"


def write_manifest(spark, data_path: str, stat_cols: list[str]) -> str:
    """Build + persist the per-file min/max manifest next to the data
    (see manifest_path). Derived data: rebuild after any rewrite of the
    files (the manifest names files by absolute path, so a moved layout
    needs a rebuild too). Returns the manifest path."""
    out = manifest_path(data_path)
    build_manifest(spark, data_path, stat_cols).write.mode(
        "overwrite").parquet(out)
    return out


def prune_files_multi(manifest: DataFrame,
                      bounds: dict[str, tuple]) -> list[str]:
    """Files whose stat ranges intersect EVERY ``col: (lo, hi)`` bound
    (None = unbounded on that side) — conjunctive pruning, so a z-ordered
    layout prunes on all clustered dimensions at once. One-sided like
    prune_files: may admit a file with no matching rows, never drops a
    file with one."""
    cond = F.lit(True)
    for col, (lo, hi) in bounds.items():
        if lo is not None:
            cond = cond & (F.col(f"max_{col}") >= lo)
        if hi is not None:
            cond = cond & (F.col(f"min_{col}") <= hi)
    return [r["file"] for r in
            manifest.filter(cond).select("file").collect()]


def prune_files(manifest: DataFrame, col: str, lo, hi) -> list[str]:
    """Files whose [min,max] range intersects [lo, hi] — the candidate
    list for a range predicate on ``col``. Manifest rows are file-count
    sized, so collecting them to the driver is the cheap, correct move
    (this IS the scheduler's job); everything else stays distributed."""
    hit = manifest.filter((F.col(f"max_{col}") >= lo)
                          & (F.col(f"min_{col}") <= hi))
    return [r["file"] for r in hit.select("file").collect()]


def scan_pruned(spark, manifest: DataFrame, col: str, lo, hi) -> DataFrame:
    """Read ONLY the files a range predicate can touch, then apply the
    exact predicate. Result ≡ full-scan filter (manifest pruning is
    one-sided: it may admit a file with no matching rows, never drop a
    file with one); the win is proportional to how well the layout
    clustered ``col`` — z-ordered data prunes on every ordered
    dimension."""
    files = prune_files(manifest, col, lo, hi)
    if not files:
        # schema recovery needs at least one real file; an empty manifest
        # means there is no schema to recover from — fail loudly rather
        # than let read_parquet() raise on zero paths.
        any_file = manifest.select("file").limit(1).collect()
        if not any_file:
            raise ValueError(
                "empty manifest: no files to recover a schema from — "
                "build_manifest over a non-empty table first")
        empty = read_parquet(spark, any_file[0]["file"])
        return empty.filter(F.lit(False))
    return (read_parquet(spark, *files)
            .filter((F.col(col) >= lo) & (F.col(col) <= hi)))


def append_zordered(df: DataFrame, path: str, cols: list[str],
                    n_files: int, stat_cols: list[str],
                    bits: int = 16) -> None:
    """Incremental maintenance of a z-ordered layout: the DELTA is
    z-clustered among itself and APPENDED as new files, then the
    manifest rebuilds over the whole directory — the steady-state
    ingest path (full re-clustering of 100 TB per batch is not a plan;
    periodic compaction re-tightens global clustering like any
    lakehouse). New files carry tight stats for the delta's value
    ranges, so pruning stays strict on every dimension; correctness
    never depends on clustering quality (the manifest records ACTUAL
    per-file ranges, and pruning is one-sided by construction).

    Manifest ordering: rebuilt only AFTER the append lands, preserving
    the manifest-written-last completion-marker convention — a crash
    between append and rebuild leaves a stale manifest that simply
    prunes the new files out until the next write; callers that need
    crash-atomicity for the delta should route through a batch-keyed
    staging dir like the index appends."""
    zk = zorder_key(cols, bits)
    (df.withColumn("__zkey__", zk)
       .repartitionByRange(n_files, F.col("__zkey__"))
       .sortWithinPartitions("__zkey__")
       .drop("__zkey__")
       .write.mode("append").parquet(path))
    write_manifest(df.sparkSession, path, stat_cols)


def compaction_plan(manifest: DataFrame, target: int,
                    size_col: str = "n_rows",
                    file_col: str = "file") -> DataFrame:
    """Small-file compaction planning (the lakehouse OPTIMIZE planner):
    assign files to rewrite groups of ~``target`` cumulative ``size_col``
    each, preserving file-name order so a z-ordered layout's clustering
    survives the rewrite (adjacent files stay adjacent).

    Rule: group = (size of everything BEFORE this file) DIV target —
    pure integer arithmetic, so the plan is a deterministic function of
    the manifest on any engine and any partitioning. Files are atomic
    (never split), so a group's size is < target + max_file_size and
    every group but the last crosses the target boundary.

    The running sum is a single-partition window — correct BY DESIGN
    here: a manifest is file-count-sized (this module already collects
    candidate lists to the driver; the scheduler-side tables are the
    cheap ones). The 100 TB object is the data the plan rewrites, and
    that rewrite is one grouped read per ``grp``.

    Returns the manifest columns plus ``grp`` (bigint), ``grp_size``
    (bigint, total size of the group) and ``grp_files`` (bigint).
    """
    from pyspark.sql import Window

    w = (Window.orderBy(file_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    planned = (manifest
               .withColumn("__cum__",
                           F.coalesce(F.sum(size_col).over(w), F.lit(0))
                           .cast("bigint"))
               .withColumn("grp", F.expr(f"__cum__ DIV {int(target)}"))
               .drop("__cum__"))
    wg = Window.partitionBy("grp")
    return (planned
            .withColumn("grp_size",
                        F.sum(size_col).over(wg).cast("bigint"))
            .withColumn("grp_files",
                        F.count(F.lit(1)).over(wg).cast("bigint")))


def compact_layout(spark, path: str, stat_cols: list[str],
                   target: int, size_col: str = "n_rows") -> int:
    """Execute a compaction plan (the OPTIMIZE rewrite): each group of
    small files from :func:`compaction_plan` is rewritten as ONE file,
    then the directory is swapped and the manifest rebuilt. Returns the
    number of files after compaction.

    Mechanics: one coalesce(1) write job per group into a staging dir —
    a driver loop over GROUPS is scheduler-side work (group count =
    file count / files-per-target, the same manifest-sized scale this
    module already collects); the data volume each job moves is the
    group's files, read and written exactly once, and jobs are
    independent (a real deployment can submit them concurrently).
    FILE-level clustering is decided by the grouping alone (each group
    becomes ONE file, so its manifest range is the union of its inputs
    regardless of row order); the read itself does NOT preserve name
    order (Spark packs scan splits by size), so within the merged file
    rows are re-sorted by ``stat_cols`` — keeping parquet row-group /
    page statistics tight for readers finer-grained than the manifest.

    Durability: the rewrite lands in ``<path>.compacting``, then the
    old dir moves aside, the new one takes its place, the old one is
    deleted, and the manifest is rebuilt LAST (the completion-marker
    convention — a crash mid-swap leaves either the old layout intact
    or the new layout with a stale manifest that over-admits files,
    which pruning tolerates by its one-sided contract). On object
    storage this swap is the table-format transaction log's job; this
    helper encodes the local-FS equivalent.
    """
    import shutil

    fresh = build_manifest(spark, path, stat_cols)
    plan = compaction_plan(fresh, target=target, size_col=size_col)
    groups: dict[int, list[str]] = {}
    for r in plan.select("grp", "file").collect():
        groups.setdefault(r["grp"], []).append(r["file"])

    staging = path.rstrip("/") + ".compacting"
    shutil.rmtree(staging, ignore_errors=True)
    import os
    os.makedirs(staging, exist_ok=True)
    for grp in sorted(groups):
        files = sorted(groups[grp])
        if len(files) == 1:
            # already-compact group (one file crossed the target, or the
            # lone tail file): byte-copy instead of a decode/re-encode
            # round trip — at 100 TB most groups in a steady-state table
            # are already compact and rewriting them is pure waste
            from urllib.parse import urlparse
            src = files[0]
            if src.startswith("file:"):  # input_file_name() emits URIs
                src = urlparse(src).path
            shutil.copy2(src, os.path.join(
                staging, os.path.basename(src)))
            continue
        (read_parquet(spark, *files)
         .coalesce(1)
         .sortWithinPartitions(*stat_cols)
         .write.mode("append").parquet(staging))

    old = path.rstrip("/") + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    write_manifest(spark, path, stat_cols)
    return len(groups)


def overlap_report(manifest: DataFrame, col: str,
                   label: str = "layout") -> DataFrame:
    """Clustering-quality report for one stat column of a manifest —
    the 'is it time to re-cluster?' diagnostic that pairs with
    :func:`compact_layout`. Emits one row: file count, the number of
    file PAIRS whose [min,max] ranges intersect (0 for a perfectly
    range-partitioned layout, n·(n−1)/2 for a hash layout — every
    overlapping pair is a file a point query may redundantly open),
    and the mean per-file span as a fraction of the global span
    (scan amplification of a range predicate).

    Scale: all arithmetic is over manifest rows (file-count sized); the
    pair join is O(F²) on that table — the scheduler-side scale this
    module works at, never data.
    """
    lo, hi = f"min_{col}", f"max_{col}"
    g = manifest.crossJoin(
        F.broadcast(manifest.agg(F.min(lo).alias("__glo__"),
                                 F.max(hi).alias("__ghi__"),
                                 F.count(F.lit(1)).alias("__nf__"))))
    spans = g.select(
        "__nf__",
        # degenerate single-point domain (ghi == glo): every file's span
        # is 0 of 0 — report 0, not NaN
        F.when(F.col("__ghi__") > F.col("__glo__"),
               (F.col(hi) - F.col(lo)).cast("double")
               / (F.col("__ghi__") - F.col("__glo__")).cast("double"))
        .otherwise(F.lit(0.0))
        .alias("__frac__"))
    a = manifest.select(F.col("file").alias("__fa__"),
                        F.col(lo).alias("__la__"), F.col(hi).alias("__ha__"))
    b = manifest.select(F.col("file").alias("__fb__"),
                        F.col(lo).alias("__lb__"), F.col(hi).alias("__hb__"))
    pairs = (a.crossJoin(b)
             .filter((F.col("__fa__") < F.col("__fb__"))
                     & (F.col("__la__") <= F.col("__hb__"))
                     & (F.col("__lb__") <= F.col("__ha__")))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap_pairs")))
    stats = (spans.groupBy("__nf__")
             .agg((F.sum(F.floor(F.col("__frac__") * F.lit(1e9))
                         .cast("bigint")).cast("double")
                   / (F.count(F.lit(1)) * F.lit(1e9)))
                  .alias("avg_span_frac"))
             .select(F.col("__nf__").cast("bigint").alias("n_files"),
                     "avg_span_frac"))
    return (stats.crossJoin(F.broadcast(pairs))
            .select(F.lit(label).alias("layout"), "n_files",
                    "n_overlap_pairs", "avg_span_frac"))
