"""Persisted dedup index: build MinHash signatures ONCE, reuse forever.

``near_dup_pairs`` (dedup.py) recomputes shingles+signatures per run behind
a ``persist()`` — right for a one-shot query, wrong for the 100 TB corpus a
training-data pipeline dedups repeatedly (nightly crawls, incremental
ingests). This module materializes the derived tables the pipeline
actually needs:

- ``signatures/``  — one row per doc: id, h0..h{n-1} minhash columns plus
  precomputed band keys (band_0..band_{b-1}). ~100 bytes/doc regardless of
  document size, i.e. ~1% of corpus size: cheap to store, cheap to shuffle.
- ``bands/`` (layout v2, r10) — the exploded (id, band_sig) rows laid out
  one directory per ``(band_idx, sbkt)`` where ``sbkt =
  pmod(xxhash64(band_sig), n_sig_buckets)``. The nightly delta's band keys
  touch a BOUNDED set of those directories (≤ n_bands × n_sig_buckets,
  and for a small delta far fewer), so the candidate join reads only the
  band partitions that can possibly collide — static partition pruning,
  the same seek-shaped move that took the bm25 delta from a postings scan
  to a facts lookup (SCALE.md §r9).
- ``shingle_sets/`` — one row per doc: id, distinct word-shingle set, used
  only by the exact-Jaccard verify stage on band-collided candidates.
  Layout v2 partitions it by ``ibkt = pmod(xxhash64(id), n_set_buckets)``
  so the verify stage reads only the set partitions holding candidate
  ids instead of the whole corpus-sized table.

Everything is md5-derived (see dedup.py), so rebuilding any slice of the
index from source docs is bit-for-bit idempotent — the property that makes
at-least-once incremental ETL safe (reference semantics:
activedata_etl/etl.py idempotent etl-key overwrite).

Incremental story (``append_to_index`` + ``pairs_against_index``): new docs
only ever need their OWN signatures computed (scan-local), then one
equi-join of new band keys against the PRUNED stored band partitions —
never a recompute over the historical corpus, and (v2) never a full scan
of it either. At 1000 executors the day's delta is the stream and the
touched band/set partitions are the only stored bytes read.

Layout versioning: a v2 index carries ``graft_index_meta.json`` recording
the bucket counts; indexes built before r10 lack it and are served by the
legacy full-scan path (still correct — rebuild to get the seek shape).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import read_parquet
from .dedup import band_keys, minhash_table, shingle_table

# Bucket-count CAPS for the size-adaptive layout (raised from 32, r11
# ADVICE — the adaptive fan-out must be able to grow, not only shrink).
# 1024 sbkt dirs × 4 bands × 16 MB ≈ 64 GB of band rows before a
# directory exceeds its target — ~400M docs per index shard. The cap
# exists so driver-side prune lists (the lookup regime's OR-chain and
# the purge/compact membership probes) stay a few thousand entries;
# beyond it, per-directory size grows linearly but row-group stats on
# the sorted files keep seeks bounded INSIDE each directory. For a true
# 100 TB single index, pass explicit n_sig_buckets/n_set_buckets (knobs
# on build_index, recorded in the meta — queries adapt automatically).
_SBKT = 1024
_IBKT = 1024
# Target bytes per bucket directory for the size-adaptive layout (r11).
# A FIXED 32×4-directory fan-out was wrong at both ends of the scale:
# at sf0.1 it spread a 5 MB band table over 128 ~40 KB files (160
# footer reads per unpruned delta scan — the measured ~1s floor of the
# 1% nightly query was file opens, not data), while at large corpora a
# small cap stops adapting upward. Buckets now derive from the indexed
# doc count at build time so directories land near _BUCKET_TARGET_BYTES
# up to the caps above; row-group stats on the sorted files carry the
# seek behavior INSIDE each directory whatever the bucket count.
_BUCKET_TARGET_BYTES = 16 << 20
_BAND_ROW_BYTES = 40      # id + 32-hex band_sig + overhead, parquet-encoded
_SET_ROW_BYTES = 1000     # id + ~120-shingle string array


def _auto_buckets(n_docs: int, n_bands: int) -> tuple[int, int]:
    sbkt = max(1, min(_SBKT,
                      n_docs * n_bands * _BAND_ROW_BYTES
                      // (_BUCKET_TARGET_BYTES * n_bands)))
    ibkt = max(1, min(_IBKT, n_docs * _SET_ROW_BYTES // _BUCKET_TARGET_BYTES))
    return int(sbkt), int(ibkt)
# Lookup-regime threshold for the BAND stage: the literal predicate is
# an OR over the delta's distinct (band_idx, sbkt) groups, each with a
# band_sig IN list — every surviving ROW evaluates that whole chain, so
# its cost is (rows scanned) × (groups). Only a truly tiny delta keeps
# both factors small (few groups → real directory pruning → few rows):
# at 256 band rows (~64 docs, the "is this batch already ingested"
# interactive shape) the scan is a few directories' worth of seeks; the
# r10 rig measured a 2000-key delta WORSE than the unfiltered scan+join
# (6.9s vs ~2s — all 128 directories hit, 2M rows × 128-branch OR), so
# mid-size deltas take the batch regime's equi-join instead.
_LOOKUP_CAP = 256
# ...and only if the collected keys hit at most this fraction of the
# (band_idx, sbkt) directories — a delta that touches most directories
# scans the whole table anyway, so the OR chain is pure per-row cost.
_LOOKUP_DIR_BUDGET = 0.25
# Sets-stage threshold: a SINGLE id IN (...) predicate (hash-set eval,
# no OR chain) + ibkt directory pruning — cheap per row, so it pays up
# to a much larger candidate list. 4096 ids ≈ a few hundred KB of
# literals, driver-safe.
_SEEK_CAP = 4096
# Bulk-regime threshold: a delta above this fraction of the stored band
# rows is a re-dedup, not an ingest — candidate ids approach the corpus
# and the staged (persist/probe/checkpoint) pipeline only adds barriers.
_BULK_FRACTION = 0.25


def _meta_path(path: str) -> str:
    return os.path.join(path, "graft_index_meta.json")


def _write_meta(path: str, **kv) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = _meta_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(kv, f)
    os.replace(tmp, _meta_path(path))


def _load_meta(path: str) -> dict | None:
    p = _meta_path(path)
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def _sig_flat(df: DataFrame, id_col: str, text_col: str, n_hashes: int,
              n_bands: int, shingle_n: int, sh: DataFrame) -> DataFrame:
    sig = minhash_table(df, id_col, text_col, n_hashes, shingle_n, sh=sh)
    return sig.select(F.col(id_col).alias("id"),
                      *[F.col(f"h{i}") for i in range(n_hashes)],
                      *band_keys(n_hashes, n_bands))


def _write_derived(spark: SparkSession, sh: DataFrame, id_col: str,
                   path: str, meta: dict, mode: str,
                   sig: DataFrame | None = None,
                   spill: bool = False) -> None:
    """Band + shingle-set shards for one build/append, in layout v2.

    On a BUILD the band rows derive from the just-written
    ``signatures/`` files (a columnar re-read) — re-running the
    shingle→minhash aggregation would double the build's dominant cost
    (the bm25 ``_dl``-shard lesson, SCALE.md §r9). On an APPEND the
    caller passes the batch's own persisted signature frame (``sig``):
    re-reading signatures/ would pay an INDEX-sized scan per nightly
    batch to extract batch-sized rows — the read-modify-write shape the
    streaming measurement exists to catch (r10). ``repartition`` on the
    directory keys keeps output to one file per written directory
    instead of one per upstream task.

    ``spill=True`` (appends — VERDICT r10 #4): a nightly batch fanned
    one small file into EVERY touched (band_idx, sbkt) / ibkt directory
    — ≤160 files per append, write amplification growing with the
    bucket count, not the batch. Spilled appends instead land as ONE
    batch-sized sorted file per table in ``bands_spill/`` /
    ``sets_spill/`` (bucket keys carried as ordinary columns); readers
    union the bucketed layout with the spill, and compact_index folds
    spill rows into their home directories on the compaction cadence —
    so steady-state reads stay seek-shaped while per-append file count
    is O(1)."""
    if sig is not None:
        sig_stored = sig
    else:
        sig_stored = read_parquet(spark, os.path.join(path, "signatures"))
    bands = (_banded(sig_stored)
             .withColumn("sbkt", F.pmod(F.xxhash64("band_sig"),
                                        F.lit(meta["sbkt"])).cast("int")))
    sets_ = (sh.groupBy(id_col).agg(F.collect_set("__s__").alias("sh"))
             .select(F.col(id_col).alias("id"), "sh")
             .withColumn("ibkt", F.pmod(F.xxhash64("id"),
                                        F.lit(meta["ibkt"])).cast("int")))
    if spill:
        (bands.coalesce(1).sortWithinPartitions("band_sig")
         .write.mode("append").parquet(os.path.join(path, "bands_spill")))
        (sets_.coalesce(1).sortWithinPartitions("id")
         .write.mode("append").parquet(os.path.join(path, "sets_spill")))
        return
    (bands
     .repartition("band_idx", "sbkt")
     .sortWithinPartitions("band_sig")  # row-group stats → IN-pushdown seeks
     .write.mode(mode).partitionBy("band_idx", "sbkt")
     .parquet(os.path.join(path, "bands")))
    (sets_
     .repartition("ibkt")
     .sortWithinPartitions("id")  # row-group stats → IN-pushdown seeks
     .write.mode(mode).partitionBy("ibkt")
     .parquet(os.path.join(path, "shingle_sets")))


def build_index(df: DataFrame, id_col: str, text_col: str, path: str,
                n_hashes: int = 16, n_bands: int = 4,
                shingle_n: int = 3, n_sig_buckets: int | None = None,
                n_set_buckets: int | None = None) -> None:
    """Materialize signatures, the bucketed band table and bucketed
    shingle sets under ``path``.

    One scan of the corpus feeds everything; the shingle rows shuffle once
    on the doc id (repartition inside shingle_table) and both aggregates
    reuse that partitioning. Band keys are stored denormalized so candidate
    generation later is a pure read, no hashing — and in the v2 layout
    already exploded into ``(band_idx, sbkt)`` directories so delta
    queries prune to the collidable partitions. Bucket counts default to
    SIZE-ADAPTIVE (_auto_buckets, from the indexed doc count): a fixed
    fan-out was 160 tiny files at sf0.1 and the measured floor of the
    nightly delta's stored scan; pass explicit counts to pin a layout."""
    meta = {"layout": 2, "n_hashes": n_hashes, "n_bands": n_bands,
            "shingle_n": shingle_n}
    sh = shingle_table(df, id_col, text_col, shingle_n).persist()
    try:
        (_sig_flat(df, id_col, text_col, n_hashes, n_bands, shingle_n, sh)
         .write.mode("overwrite").parquet(os.path.join(path, "signatures")))
        # indexed doc count (signature rows — docs below shingle_n
        # tokens drop out) sizes the delta-query regime choice AND the
        # bucket fan-out; read from the written files, not the lineage
        meta["n_docs"] = read_parquet(
            df.sparkSession, os.path.join(path, "signatures")).count()
        auto_s, auto_i = _auto_buckets(meta["n_docs"], n_bands)
        meta["sbkt"] = int(n_sig_buckets) if n_sig_buckets else auto_s
        meta["ibkt"] = int(n_set_buckets) if n_set_buckets else auto_i
        _write_derived(df.sparkSession, sh, id_col, path, meta, "overwrite")
        _write_meta(path, **meta)
    finally:
        sh.unpersist()


def read_signatures(spark: SparkSession, path: str) -> DataFrame:
    return read_parquet(spark, os.path.join(path, "signatures"))


def read_shingle_sets(spark: SparkSession, path: str) -> DataFrame:
    base = read_parquet(spark, os.path.join(path, "shingle_sets"))
    if "ibkt" not in base.columns:  # legacy v1 layout: flat, no spill
        return base.select("id", "sh")
    return _read_sets_with_ibkt(spark, path).select("id", "sh")


def _read_sets_with_ibkt(spark: SparkSession, path: str) -> DataFrame:
    """shingle_sets ∪ the unfolded append spill (id, sh, ibkt) — ibkt is
    a partition column on the bucketed side, an ordinary column on the
    spill side; above the union it is just a column, and Catalyst
    pushes ibkt/id filters through the union into both scans (directory
    pruning on the bucketed child, row-group stats on the spill)."""
    out = (read_parquet(spark, os.path.join(path, "shingle_sets"))
           .select("id", "sh", "ibkt"))
    spill = os.path.join(path, "sets_spill")
    if os.path.isdir(spill):
        out = out.unionByName(
            read_parquet(spark, spill).select("id", "sh", "ibkt"))
    return out


def _banded(sig: DataFrame) -> DataFrame:
    bands = sorted(c for c in sig.columns if c.startswith("band_"))
    return sig.select(
        "id",
        F.posexplode(F.array(*[F.col(b) for b in bands])).alias("band_idx", "band_sig"),
    )


def _read_bands(spark: SparkSession, path: str) -> DataFrame:
    out = (read_parquet(spark, os.path.join(path, "bands"))
           .select("id", "band_idx", "band_sig", "sbkt"))
    spill = os.path.join(path, "bands_spill")
    if os.path.isdir(spill):
        # unfolded appends: (band_idx, sbkt) are ordinary columns here;
        # the lookup regime's prune predicate still reaches both scans
        # (pushed through the union — dirs on the bucketed child,
        # row-group stats on the sorted spill files)
        out = out.unionByName(
            read_parquet(spark, spill)
            .select("id", "band_idx", "band_sig", "sbkt"))
    return out


def candidate_pairs_from_index(spark: SparkSession, path: str,
                               max_bucket_size: int | None = None) -> DataFrame:
    """LSH candidates from the stored band table — no text scan at all."""
    if _load_meta(path) is not None:
        banded = _read_bands(spark, path).drop("sbkt")
    else:  # legacy layout: explode the signature table per query
        banded = _banded(read_signatures(spark, path))
    if max_bucket_size is not None:
        from pyspark.sql import Window
        bs = F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_sig"))
        banded = (banded.withColumn("__bs__", bs)
                  .filter(F.col("__bs__") <= max_bucket_size).drop("__bs__"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_sig") == F.col("b.band_sig"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def near_dup_pairs_from_index(spark: SparkSession, path: str,
                              threshold: float = 0.5,
                              max_bucket_size: int | None = None) -> DataFrame:
    """Full near-dup pairs (candidates + exact-Jaccard verify) from the
    index alone. Identical output to dedup.near_dup_pairs on the same
    corpus/parameters — test_dedup_index asserts this — but the only
    inputs are the derived tables."""
    cands = candidate_pairs_from_index(spark, path, max_bucket_size)
    # ids can be duplicated across leaf+spill (crash between compact's
    # fold and spill rmtree, or a replayed append) — without the dedup
    # the verify join emits duplicate pairs (r11 ADVICE). Rows are
    # md5-identical per id, so any-row-wins is exact; skip the shuffle
    # when no spill exists (the only duplication source).
    sets_ = read_shingle_sets(spark, path)
    if os.path.isdir(os.path.join(path, "sets_spill")):
        sets_ = sets_.dropDuplicates(["id"])
    j = (cands
         .join(sets_.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
         .join(sets_.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
         .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
         .withColumn("uni", F.size("sh_a") + F.size("sh_b") - F.col("inter"))
         .withColumn("jaccard", F.col("inter") / F.col("uni")))
    return (j.filter(F.col("jaccard") >= threshold)
             .select("id_a", "id_b", "jaccard"))


def append_to_index(df_new: DataFrame, id_col: str, text_col: str, path: str,
                    n_hashes: int = 16, n_bands: int = 4,
                    shingle_n: int = 3) -> None:
    """Incremental ingest: compute signatures/band rows/shingle sets for
    NEW docs only and append. md5 determinism makes re-appending the same
    docs produce identical rows (dedupable by id downstream); the
    historical corpus is never rescanned. Appending to a pre-r10 (v1)
    index keeps the legacy layout (no bands/ table) — rebuild for the
    seek-shaped delta path."""
    meta = _load_meta(path)
    if meta is not None:
        assert (meta["n_hashes"], meta["n_bands"]) == (n_hashes, n_bands), \
            "index built with different n_hashes/n_bands"
    sh = shingle_table(df_new, id_col, text_col, shingle_n).persist()
    sig = _sig_flat(df_new, id_col, text_col, n_hashes, n_bands,
                    shingle_n, sh).persist()
    try:
        sig.write.mode("append").parquet(os.path.join(path, "signatures"))
        if meta is not None:
            _write_derived(df_new.sparkSession, sh, id_col, path, meta,
                           "append", sig=sig, spill=True)
            # increment the doc count by this batch (batch-sized; a
            # full recount paid an index-sized read per append — r10).
            # Replay-safe: a re-appended batch double-counts here,
            # which only nudges the regime threshold, never correctness
            meta["n_docs"] = int(meta.get("n_docs", 0)) + sig.count()
            _write_meta(path, **meta)
        else:
            (sh.groupBy(id_col).agg(F.collect_set("__s__").alias("sh"))
             .select(F.col(id_col).alias("id"), "sh")
             .write.mode("append")
             .parquet(os.path.join(path, "shingle_sets")))
    finally:
        sh.unpersist()
        sig.unpersist()


def pairs_against_index(df_new: DataFrame, id_col: str, text_col: str,
                        spark: SparkSession, path: str,
                        threshold: float = 0.5, n_hashes: int = 16,
                        n_bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """Near-dup pairs between a NEW batch and the indexed corpus (plus
    within-batch pairs): the nightly-ingest query. Only the delta is
    tokenized; the corpus side is the stored band table. Pair order is
    normalized (id_a < id_b) so output matches a full-corpus run.

    v2 layout (r10): the verify stage NEVER pays the corpus — stored
    shingle sets are cut to candidate ids (semi-join, or a pushed IN
    predicate when the candidate list is collect-small) before the
    union/dedup, where the former code shuffled every corpus row's
    shingle array through a ``dropDuplicates``. The candidate stage is
    ADAPTIVE on measured delta size (one count over the persisted delta
    band rows, the auto-multiprobe pattern):

    - **lookup regime** (≤ ``_LOOKUP_CAP`` distinct delta band keys —
      the "is this batch of docs already in the corpus" interactive
      shape; distinct keys bound the pushed IN-list size, r12): the
      delta's band keys are collected and pushed as literal predicates
      on the stored band read — ``(band_idx, sbkt)`` prunes partition
      directories outright, and ``band_sig IN (...)`` skips row groups
      inside the survivors (files are laid down sorted by band_sig), so
      the stored side reads a few seeks' worth of bytes however big the
      corpus is. Candidate ids get the same treatment against the
      id-sorted ``ibkt`` set partitions.
    - **batch regime** (a big nightly delta): thousands of band keys
      hit every bucket, so pruning predicates select everything and
      only add cost — measured 1.9× on the 50%-delta fixture at the
      10× rig before this regime split. The stored band table is
      scanned once (it is ~1% of corpus bytes — the scan IS the floor)
      with no filter; the verify keeps the candidate semi-join.

    Under plan-only probes the sizing counts are skipped (explain must
    execute nothing) and the lazy batch-regime plan is returned."""
    from ..planmode import is_plan_only

    meta = _load_meta(path)
    sh_new = shingle_table(df_new, id_col, text_col, shingle_n)
    sig_new = minhash_table(df_new, id_col, text_col, n_hashes, shingle_n,
                            sh=sh_new)
    banded_new = (sig_new.select(F.col(id_col).alias("id"),
                                 *band_keys(n_hashes, n_bands))
                  .transform(_banded))
    sets_new = (sh_new.groupBy(id_col).agg(F.collect_set("__s__").alias("sh"))
                .select(F.col(id_col).alias("id"), "sh"))
    if meta is None or is_plan_only():
        if meta is None:
            stored_bands = _banded(read_signatures(spark, path))
        else:
            stored_bands = _read_bands(spark, path).drop("sbkt")
        banded_all = banded_new.unionByName(stored_bands)
        a, b = banded_new.alias("a"), banded_all.alias("b")
        cands = (
            a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_sig") == F.col("b.band_sig"))
                   & (F.col("a.id") != F.col("b.id")))
            .select(F.least("a.id", "b.id").alias("id_a"),
                    F.greatest("a.id", "b.id").alias("id_b"))
            .distinct()
        )
        sets_ = (sets_new.unionByName(read_shingle_sets(spark, path))
                 .dropDuplicates(["id"]))
        return _verify_jaccard(cands, sets_, threshold)

    from .dedup import _materialize_release

    sh_new = sh_new.persist()  # feeds BOTH the minhash and the verify's
    # sets_new leg — unpersisted, the verify re-tokenized the delta
    # (measured ~10% of the 1% nightly wall, r11)
    banded_new = banded_new.withColumn(
        "sbkt", F.pmod(F.xxhash64("band_sig"),
                       F.lit(meta["sbkt"])).cast("int")).persist()
    # sizing probe, ONE action for the whole lookup path (r12 — the
    # r11 form ran a sizing agg AND, in lookup regime, a second
    # distinct-collect over the same persisted rows; the interactive
    # shape paid two driver barriers for one decision): group to the
    # distinct pushdown keys and limit-collect _LOOKUP_CAP+1 of them
    # with their row counts. ≤ cap groups → this collect already holds
    # everything every later decision needs (exact total band rows =
    # sum of counts for the bulk gate, the exact dir-hit set for the
    # OR-chain budget, and the IN-list keys themselves); > cap groups
    # → a count-only agg decides bulk vs batch (one extra action only
    # on big deltas, where it is noise against the scan it precedes).
    # The lookup gate statistic becomes DISTINCT keys rather than raw
    # band rows — the IN list is built from distinct keys, so the cap
    # now bounds the actual pushed-predicate size (a duplicate-heavy
    # delta no longer falls out of lookup for rows it dedups anyway).
    # The total band-row count (the bulk gate's statistic) rides the
    # SAME job as an observed metric (df.observe sits below the
    # groupBy, so every persisted row flows through it before the
    # exchange — the limit above the aggregate cannot short-circuit
    # map-side work): sizing is ONE driver barrier in EVERY regime.
    # (The v2.2 interim ran a separate count() when the group limit
    # overflowed — measured +0.6s on the 10× batch shape; the
    # observation gets the count for free.)
    from pyspark.sql import Observation

    obs = Observation()
    grouped = (banded_new
               .observe(obs, F.count(F.lit(1)).alias("n"))
               .groupBy("band_idx", "sbkt", "band_sig")
               .agg(F.count(F.lit(1)).alias("__n__"))
               .limit(_LOOKUP_CAP + 1).collect())
    n_delta_bands = int(obs.get["n"])
    in_lookup = len(grouped) <= _LOOKUP_CAP
    # Observed-metric invariant (ADVICE r12): Spark only guarantees an
    # Observation when the plan consumes its input; the shuffle map
    # stage below the groupBy forces that today, but a future
    # limit/AQE pushdown across the partial aggregate would silently
    # under-read n_delta_bands and misroute the regime. When the limit
    # did NOT truncate, the collected groups are exhaustive, so their
    # counts must sum to exactly the observed total — assert it (zero
    # extra driver actions; the collect already happened).
    if in_lookup:
        assert n_delta_bands == sum(int(r["__n__"]) for r in grouped), (
            "observed band-row count diverged from the exhaustive group "
            "sum — the Observation no longer sees every input row "
            f"({n_delta_bands} observed vs "
            f"{sum(int(r['__n__']) for r in grouped)} grouped)")
    n_dirs_hit = len({(int(r["band_idx"]), int(r["sbkt"]))
                      for r in grouped}) if in_lookup else 0
    stored_bands_total = meta.get("n_docs", 0) * meta["n_bands"]
    if (stored_bands_total and
            n_delta_bands > _BULK_FRACTION * stored_bands_total):
        # BULK regime: the "delta" is a large fraction of the corpus
        # (re-dedup of a merged dump, the 50%-delta oracle fixture).
        # Candidate ids approach the corpus, so candidate-restricting
        # the verify buys nothing — and the staged barriers the other
        # regimes need (persist cands, sizing counts, checkpoint)
        # serialize what one lazy plan pipelines across all cores
        # (measured 3.8× on the fixture at 1× before this regime
        # existed). Run the v1-shaped single lazy plan off the stored
        # band table; the persisted delta band rows still cut the
        # delta pipeline from 3 executions to 1.
        stored_bands = _read_bands(spark, path).drop("sbkt")
        banded_all = banded_new.drop("sbkt").unionByName(stored_bands)
        a, b = banded_new.alias("a"), banded_all.alias("b")
        cands = (
            a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_sig") == F.col("b.band_sig"))
                   & (F.col("a.id") != F.col("b.id")))
            .select(F.least("a.id", "b.id").alias("id_a"),
                    F.greatest("a.id", "b.id").alias("id_b"))
            .distinct()
        )
        sets_ = (sets_new.unionByName(read_shingle_sets(spark, path))
                 .dropDuplicates(["id"]))
        return _materialize_release(
            _verify_jaccard(cands, sets_, threshold), banded_new, sh_new)
    stored_b = _read_bands(spark, path)
    n_dirs = int(meta["sbkt"]) * int(meta["n_bands"])
    if in_lookup:
        # lookup regime, split into its two independent mechanisms
        # (r11 — the r10 form coupled them and lost both when either
        # failed):
        # 1. ``band_sig IN (...)`` — ONE hash-set membership per row,
        #    cheap at any selectivity, and row-group stats on the
        #    sorted files turn it into seeks inside every directory.
        #    Always pushed for a ≤_LOOKUP_CAP delta.
        # 2. the (band_idx, sbkt) OR-chain — real directory pruning,
        #    but every surviving row evaluates the whole chain, so it
        #    only pays when the hit set actually prunes (the r10 rig
        #    measured a 200-key delta — ~100 of 128 dirs hit — at 4.6s
        #    vs ~1.3s as a plain join). Gated on the exact
        #    directory-hit count — already in hand from the one
        #    grouped sizing collect, no further action.
        rows = grouped
        if n_dirs_hit <= max(1, int(n_dirs * _LOOKUP_DIR_BUDGET)):
            hit: dict[tuple[int, int], list[str]] = {}
            for r in rows:
                hit.setdefault((int(r["band_idx"]), int(r["sbkt"])),
                               []).append(r["band_sig"])
            prune = F.lit(False)
            for (bi, bk), sigs in hit.items():
                prune = prune | ((F.col("band_idx") == bi)
                                 & (F.col("sbkt") == bk)
                                 & F.col("band_sig").isin(sigs))
            stored_b = stored_b.filter(prune)
        else:
            stored_b = stored_b.filter(
                F.col("band_sig").isin([r["band_sig"] for r in rows]))
    a = banded_new.alias("a")
    cross = (a.join(stored_b.alias("b"),
                    (F.col("a.band_idx") == F.col("b.band_idx"))
                    & (F.col("a.band_sig") == F.col("b.band_sig"))
                    & (F.col("a.id") != F.col("b.id")))
             .select(F.least("a.id", "b.id").alias("id_a"),
                     F.greatest("a.id", "b.id").alias("id_b")))
    c = banded_new.alias("c")
    within = (a.join(c, (F.col("a.band_idx") == F.col("c.band_idx"))
                     & (F.col("a.band_sig") == F.col("c.band_sig"))
                     & (F.col("a.id") < F.col("c.id")))
              .select(F.col("a.id").alias("id_a"),
                      F.col("c.id").alias("id_b")))
    cands = cross.unionByName(within).distinct().persist()
    cand_ids = (cands.select(F.col("id_a").alias("id"))
                .unionByName(cands.select(F.col("id_b").alias("id")))
                .distinct())
    stored_sets = _read_sets_with_ibkt(spark, path)
    # sizing + seek keys in ONE action: limit(cap+1) both bounds the
    # collect and answers "≤ cap?" (v2.0 ran a count, then a second
    # collect over the same persisted cands — one driver round-trip per
    # nightly run for nothing). The action materializes the cands
    # persist; the verify below reuses it.
    rows = (cand_ids.withColumn(
        "ibkt", F.pmod(F.xxhash64("id"),
                       F.lit(meta["ibkt"])).cast("int"))
        .limit(_SEEK_CAP + 1).collect())
    if len(rows) <= _SEEK_CAP:
        ids = [r["id"] for r in rows]
        ibkts = sorted({int(r["ibkt"]) for r in rows})
        stored_sets = (stored_sets
                       .filter(F.col("ibkt").isin(ibkts) if ibkts
                               else F.lit(False))
                       .filter(F.col("id").isin(ids) if ids
                               else F.lit(False)))
    else:
        stored_sets = stored_sets.join(cand_ids, "id", "left_semi")
    # union/dedup runs over candidate-bounded rows only — never a
    # corpus-wide shuffle of the shingle arrays
    sets_ = (sets_new.join(cand_ids, "id", "left_semi")
             .unionByName(stored_sets.select("id", "sh"))
             .dropDuplicates(["id"]))
    return _materialize_release(_verify_jaccard(cands, sets_, threshold),
                                banded_new, cands, sh_new)


def _verify_jaccard(cands: DataFrame, sets_: DataFrame,
                    threshold: float) -> DataFrame:
    j = (cands
         .join(sets_.select(F.col("id").alias("id_a"),
                            F.col("sh").alias("sh_a")), "id_a")
         .join(sets_.select(F.col("id").alias("id_b"),
                            F.col("sh").alias("sh_b")), "id_b")
         .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
         .withColumn("uni", F.size("sh_a") + F.size("sh_b") - F.col("inter"))
         .withColumn("jaccard", F.col("inter") / F.col("uni")))
    return (j.filter(F.col("jaccard") >= threshold)
             .select("id_a", "id_b", "jaccard"))


def purge_from_index(spark: SparkSession, path: str, ids) -> int:
    """Right-to-be-forgotten over the v2 minhash index: remove every
    trace of ``ids`` from signatures/, bands/ and shingle_sets/ so no
    served pair, candidate, or signature can mention a forgotten doc.

    The bucketed layout makes the derived-table rewrites SEEK-shaped:
    the purged docs' band rows live only in the (band_idx, sbkt)
    directories their stored signatures hash to, and their shingle sets
    only in ibkt = xxhash64(id) % n. Every candidate directory is
    MEMBERSHIP-PROBED before rewriting (the purge_from_fact_index
    convention), so untouched directories keep their files
    byte-identical, a replayed purge is a true no-op (returns 0), and
    the return value counts only directories that actually shed rows.
    Ids keep their native type — no numeric coercion, so string-keyed
    indexes purge correctly (r10 review). Rewrites go through
    iosafe.atomic_rewrite (discovery-invisible temp + swap; interrupted
    swaps self-heal via adopt_orphans at the start of every pass).
    n_docs decrements so the delta-regime threshold tracks the live
    corpus."""
    from .iosafe import adopt_orphans, atomic_rewrite

    meta = _load_meta(path)
    assert meta is not None, "purge_from_index needs the v2 layout"
    adopt_orphans(path)
    sig = read_signatures(spark, path)
    if isinstance(ids, DataFrame):
        ids_df = ids.toDF("id")
    else:
        from pyspark.sql.types import StructField, StructType

        ids_df = spark.createDataFrame(
            [(i,) for i in ids],
            StructType([StructField("id", sig.schema["id"].dataType)]))
    ids_df = ids_df.persist()
    purged_sig = sig.join(F.broadcast(ids_df), "id", "left_semi").persist()
    try:
        n_purged = purged_sig.count()
        if n_purged == 0:
            return 0
        # only ids actually present name directories; each is probed
        # again for membership before any bytes move
        hit_dirs = (_banded(purged_sig)
                    .select("band_idx",
                            F.pmod(F.xxhash64("band_sig"),
                                   F.lit(meta["sbkt"])).cast("int")
                            .alias("sbkt"))
                    .distinct().collect())
        ibkts = [r["ibkt"] for r in purged_sig.select(
            F.pmod(F.xxhash64("id"), F.lit(meta["ibkt"])).cast("int")
            .alias("ibkt")).distinct().collect()]

        def _purge_dir(sub: str) -> int:
            if not os.path.isdir(sub):
                return 0
            shard = read_parquet(spark, sub)
            if shard.join(F.broadcast(ids_df), "id", "left_semi") \
                    .isEmpty():
                return 0
            atomic_rewrite(
                shard.join(F.broadcast(ids_df), "id", "left_anti"), sub)
            return 1

        rewritten = 0
        for r in hit_dirs:
            rewritten += _purge_dir(os.path.join(
                path, "bands", f"band_idx={r['band_idx']}",
                f"sbkt={r['sbkt']}"))
        for k in ibkts:
            rewritten += _purge_dir(
                os.path.join(path, "shingle_sets", f"ibkt={k}"))
        # unfolded append spill: batch-sized by construction, so each
        # spill table purges as ONE probed unit (still membership-gated
        # — an untouched spill stays byte-identical)
        for d in ("bands_spill", "sets_spill"):
            rewritten += _purge_dir(os.path.join(path, d))
        atomic_rewrite(sig.join(F.broadcast(ids_df), "id", "left_anti"),
                       os.path.join(path, "signatures"))
        rewritten += 1
        meta["n_docs"] = max(0, int(meta.get("n_docs", 0)) - n_purged)
        _write_meta(path, **meta)
        return rewritten
    finally:
        purged_sig.unpersist()
        ids_df.unpersist()


def compact_index(spark: SparkSession, path: str) -> int:
    """Fold per-append file churn: every append writes one file into
    each touched (band_idx, sbkt) / ibkt directory, so after B nightly
    batches a directory holds up to B small files — read fan-in and
    open-cost grow with ingest history, not data. Compaction rewrites
    each multi-file directory to ONE file re-sorted on its seek column
    (band_sig / id — the row-group-stats order the lookup regime's IN
    pushdown relies on, which interleaved appends progressively
    degrade). signatures/ coalesces the same way. Read-invisible: same
    rows, same answers (test-pinned); rewrites go through
    iosafe.atomic_rewrite (discovery-invisible temp + self-healing
    swap). Returns directories rewritten. Run it on the compaction
    cadence the storage lifecycle kit uses for the batch-keyed
    families."""
    import glob as _glob

    from .iosafe import adopt_orphans, atomic_rewrite

    meta = _load_meta(path)
    assert meta is not None, "compact_index needs the v2 layout"
    adopt_orphans(path)

    def _files(d: str) -> list[str]:
        return [f for f in os.listdir(d) if f.startswith("part-")]

    def _rewrite(d: str, sort_col: str) -> None:
        atomic_rewrite(read_parquet(spark, d).coalesce(1)
                       .sortWithinPartitions(sort_col), d)

    rewritten = 0
    # fold the append spill into its home directories FIRST (r11 — the
    # delta-spill design: appends write one batch-sized file per table;
    # compaction moves those rows into the bucketed layout). Crash
    # safety: the fold dedups rows (replayed appends write identical
    # rows, and a crash between fold and spill-removal leaves rows
    # duplicated across leaf+spill — every reader dedups candidates/ids
    # anyway, and the next compaction converges because the fold is a
    # distinct-union, not a blind append).
    import shutil as _shutil

    bands_spill = os.path.join(path, "bands_spill")
    if os.path.isdir(bands_spill):
        spill = read_parquet(spark, bands_spill).persist()
        homes = spill.select("band_idx", "sbkt").distinct().collect()
        for r in homes:
            leaf = os.path.join(path, "bands", f"band_idx={r['band_idx']}",
                                f"sbkt={r['sbkt']}")
            rows = (spill.filter((F.col("band_idx") == r["band_idx"])
                                 & (F.col("sbkt") == r["sbkt"]))
                    .select("id", "band_sig"))
            if os.path.isdir(leaf):
                rows = rows.unionByName(
                    read_parquet(spark, leaf).select("id", "band_sig"))
            atomic_rewrite(rows.distinct().coalesce(1)
                           .sortWithinPartitions("band_sig"), leaf)
            rewritten += 1
        spill.unpersist()
        _shutil.rmtree(bands_spill, ignore_errors=True)
    sets_spill = os.path.join(path, "sets_spill")
    if os.path.isdir(sets_spill):
        spill = read_parquet(spark, sets_spill).persist()
        for r in spill.select("ibkt").distinct().collect():
            leaf = os.path.join(path, "shingle_sets", f"ibkt={r['ibkt']}")
            rows = (spill.filter(F.col("ibkt") == r["ibkt"])
                    .select("id", "sh"))
            if os.path.isdir(leaf):
                rows = rows.unionByName(
                    read_parquet(spark, leaf).select("id", "sh"))
            atomic_rewrite(rows.dropDuplicates(["id"]).coalesce(1)
                           .sortWithinPartitions("id"), leaf)
            rewritten += 1
        spill.unpersist()
        _shutil.rmtree(sets_spill, ignore_errors=True)
    for leaf in _glob.glob(os.path.join(path, "bands", "band_idx=*",
                                        "sbkt=*")):
        if len(_files(leaf)) > 1:
            _rewrite(leaf, "band_sig")
            rewritten += 1
    for leaf in _glob.glob(os.path.join(path, "shingle_sets", "ibkt=*")):
        if len(_files(leaf)) > 1:
            _rewrite(leaf, "id")
            rewritten += 1
    sig_dir = os.path.join(path, "signatures")
    if os.path.isdir(sig_dir) and len(_files(sig_dir)) > 1:
        _rewrite(sig_dir, "id")
        rewritten += 1
    return rewritten
