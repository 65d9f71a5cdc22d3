"""dedup.minhash_table / band_keys build their expressions as SQL text;
the Column-API form they replaced stays here as the reference, and both
must give identical signatures and band keys."""

import pytest
from pyspark.sql import functions as F

from activedata_etl_spark.ext import dedup as D
from activedata_etl_spark.io import load_table


def _ref_minhash(sh, id_col, n_hashes):
    return sh.groupBy(id_col).agg(*[
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("__s__")))).alias(f"h{i}")
        for i in range(n_hashes)])


def _ref_band_keys(n_hashes, n_bands):
    rpb = n_hashes // n_bands
    return [
        F.md5(F.concat_ws("|", *[F.col(f"h{b * rpb + j}")
                                 for j in range(rpb)])).alias(f"band_{b}")
        for b in range(n_bands)]


@pytest.fixture(scope="module")
def shingled(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # shorter than shingle_n=3 tokens: no shingles, so no signature row
    short = spark.createDataFrame(
        [(-1, "two words"), (-2, "one"), (-3, "")], "doc_id bigint, text string")
    sh = D.shingle_table(docs.unionByName(short), "doc_id", "text").persist()
    yield sh
    sh.unpersist()


@pytest.mark.parametrize("n_hashes,n_bands", [(16, 4), (8, 2), (20, 5)])
def test_sql_text_builders_equal_column_api(shingled, n_hashes, n_bands):
    got = D.minhash_table(None, "doc_id", "text", n_hashes, sh=shingled)
    want = _ref_minhash(shingled, "doc_id", n_hashes)
    assert got.schema == want.schema
    got_b = got.select("doc_id", *D.band_keys(n_hashes, n_bands))
    want_b = want.select("doc_id", *_ref_band_keys(n_hashes, n_bands))
    assert got_b.schema == want_b.schema
    g = sorted(got.join(got_b, "doc_id").collect())
    w = sorted(want.join(want_b, "doc_id").collect())
    assert g == w
    ids = {r["doc_id"] for r in g}
    assert len(ids) > 10 and not ids & {-1, -2, -3}
