"""io.read_parquet — the package's one parquet read path.

It takes the data schema from one footer on the driver instead of
Spark's one-job-per-read inference. These tests pin that the schema it
builds is the one Spark infers, on every layout the package writes, that
registering the fixture tables runs no Spark job, and that no package
module reads parquet around it.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from activedata_etl_spark import io
from activedata_etl_spark.ext import dedup_index as DI
from activedata_etl_spark.sources.etl import read_rollover, rollover_write

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "activedata_etl_spark")


@pytest.mark.parametrize("table", io.TABLES)
def test_fixture_table_schema_matches_inference(spark, sf_dir, table):
    p = f"{sf_dir}/{table}.parquet"
    assert io.read_parquet(spark, p).schema == spark.read.parquet(p).schema


@pytest.fixture(scope="module")
def written(spark, sf_dir, tmp_path_factory):
    """A dedup_index with an append spill, and a rollover layout."""
    root = tmp_path_factory.mktemp("read_path")
    docs = io.load_table(spark, sf_dir, "documents")
    idx = str(root / "idx")
    DI.build_index(docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text",
                   idx)
    DI.append_to_index(docs.filter(F.col("doc_id") % 2 == 1), "doc_id",
                       "text", idx)
    roll = str(root / "roll")
    ev = io.load_table(spark, sf_dir, "events")
    rollover_write(ev.limit(500), roll, "ts")
    return idx, roll


@pytest.mark.parametrize("sub", ["signatures", "shingle_sets", "bands",
                                 "bands_spill", "sets_spill"])
def test_dedup_index_schema_matches_inference(spark, written, sub):
    p = os.path.join(written[0], sub)
    assert os.path.isdir(p), f"layout changed: no {sub}/ under the index"
    assert io.read_parquet(spark, p).schema == spark.read.parquet(p).schema


def test_rollover_and_base_path_schemas_match_inference(spark, written):
    roll = written[1]
    assert (read_rollover(spark, roll).schema
            == spark.read.parquet(roll).schema)
    assert "__period__" in read_rollover(spark, roll).columns
    part = os.path.join(roll, sorted(
        d for d in os.listdir(roll) if d.startswith("__period__="))[0])
    got = io.read_parquet(spark, part, base_path=roll)
    want = spark.read.option("basePath", roll).parquet(part)
    assert got.schema == want.schema
    assert got.count() == want.count()


def test_path_without_data_keeps_the_plain_error(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        io.read_parquet(spark, str(empty))


def test_register_views_launches_no_job(spark, sf_dir):
    fresh = spark.newSession()
    sc = spark.sparkContext
    group = "read-path-register-views"
    sc.setJobGroup(group, group)
    try:
        io.register_views(fresh, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


# `.read.parquet(` and `.read.option(...).parquet(`, across line breaks
_DIRECT_READ = re.compile(
    r"\.read\s*(?:\.option\((?:[^()]|\([^()]*\))*\)\s*)*\.parquet\(")


def test_no_direct_parquet_read_outside_io():
    offenders = []
    for root, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == os.path.join(PKG, "io.py"):
                continue
            with open(path) as fh:
                if _DIRECT_READ.search(fh.read()):
                    offenders.append(os.path.relpath(path, PKG))
    assert offenders == []
