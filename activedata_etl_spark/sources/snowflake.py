"""Snowflake (parent/child-table) storage for nested documents.

The reference has TWO physical strategies for nested docs: inline nested
objects (its document store's ``task.artifacts[]`` arrays) and a
normalized "snowflake" schema — one relational table per nesting level,
child rows pointing at their parent, reassembled on read (its embedded
jx_sqlite backend stores every nested array that way; SURVEY.md §1.2).
This module maps the second strategy onto partitioned parquet:

- ``<path>/parent/`` — one row per document: the scalar columns.
- ``<path>/<array>/`` — one row per array element: the parent key
  columns (the FK), ``__pos__`` (the element's ordinal — arrays are
  ordered, a bag join would scramble them), and the element fields.

Why bother when parquet can nest natively? The child table is the right
shape when the array is QUERIED relationally far more often than the doc
is read whole: a scan of ``orders_items`` prunes to exactly the element
columns touched (no struct unwrapping), aggregates over elements need no
explode, and appending elements to existing documents is an append to
one table instead of a rewrite of nested rows. ``read_snowflake``
rebuilds the nested form with ONE shuffle (groupBy the FK, array_sort on
``__pos__``) and broadcast-or-shuffle joins it back onto the parent;
``read_flat`` skips reassembly for the relational access path — at
100 TB, pick per query, the storage serves both.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import read_parquet


def write_snowflake(df: DataFrame, path: str, parent_keys: list[str],
                    array_col: str) -> None:
    """Split a DataFrame holding ``array_col`` (array of structs) into
    parent + child parquet tables under ``path``.

    Both writes are derived from ONE pass over ``df`` (Spark schedules
    them as two jobs over the same scan; with the source cached upstream
    they share it). ``parent_keys`` must uniquely identify a document —
    that is what makes reassembly lossless.
    """
    parent_cols = [c for c in df.columns if c != array_col]
    df.select(*parent_cols).write.mode("overwrite").parquet(
        os.path.join(path, "parent"))
    elem = F.posexplode_outer(F.col(array_col)).alias("__pos__", "__e__")
    child = (
        df.select(*[F.col(k) for k in parent_keys], elem)
        # posexplode_outer keeps empty/null-array parents as a null
        # element row — correct for outer JOINS, wrong for a child TABLE
        # (the parent table already records the document; an empty array
        # is simply "no child rows")
        .filter(F.col("__e__").isNotNull())
        .select(*parent_keys, "__pos__", "__e__.*")
    )
    child.write.mode("overwrite").parquet(os.path.join(path, array_col))


def read_flat(spark: SparkSession, path: str, array_col: str,
              how: str = "inner") -> DataFrame:
    """The relational access path: parent ⨝ child rows, one row per
    element — what a deep query ("from": "t.items") reads, with NO
    explode because the storage is already element-grained."""
    parent = read_parquet(spark, os.path.join(path, "parent"))
    child = read_parquet(spark, os.path.join(path, array_col))
    keys = [c for c in child.columns if c in parent.columns]
    return parent.join(child, on=keys, how=how)


def read_snowflake(spark: SparkSession, path: str, array_col: str) -> DataFrame:
    """Reassemble the nested document form: parent rows with ``array_col``
    rebuilt as an ordered array of structs (empty array — not null — for
    documents that had no elements, matching the write contract).

    One shuffle (groupBy FK) builds the arrays; the join back onto the
    parent broadcasts when the reassembled side is small, shuffles on the
    same keys otherwise — AQE picks. ``__pos__`` leads the item struct
    during array_sort, then is stripped, so element order is exactly the
    stored order regardless of scan parallelism."""
    parent = read_parquet(spark, os.path.join(path, "parent"))
    child = read_parquet(spark, os.path.join(path, array_col))
    keys = [c for c in child.columns if c in parent.columns]
    item_cols = [c for c in child.columns if c not in keys and c != "__pos__"]
    arrays = (
        child.repartition(*[F.col(k) for k in keys])  # partial-agg skip:
        # FKs are near-unique, map-side partial collect_list reduces
        # nothing (same rationale as operators/nested.nest)
        .groupBy(*keys)
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct(
                F.col("__pos__"), *[F.col(c) for c in item_cols]))),
            lambda s: F.struct(*[s[c].alias(c) for c in item_cols])
        ).alias(array_col))
    )
    return parent.join(arrays, on=keys, how="left").withColumn(
        array_col, F.coalesce(F.col(array_col),
                              F.array().cast(dict(arrays.dtypes)[array_col])))
