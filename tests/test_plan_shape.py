"""Physical-plan regression guards — the plan properties that make the
engine scale are asserted, not assumed (the brief's `.explain` discipline):

  * the query-term predicate reaches the parquet scan of the shard table
    (row-group pruning at 100 TB depends on it),
  * small sides broadcast (query terms, lexicon, final top-k),
  * per-query top-k uses WindowGroupLimit (partial per-partition heap +
    final — Spark's TakeOrderedAndProject analogue of the reference's
    bounded heap, Index.hpp:60-77),
  * the scoring aggregation is partial+final (map-side combine).
"""

import pytest
from pyspark.sql import functions as F

from searchenginepp_spark.operators.index_build import build_index
from searchenginepp_spark.operators.query import Searcher
from searchenginepp_spark.sources.corpus import synthesize_corpus


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("plan_idx"))
    build_index(spark, synthesize_corpus(spark, 120), root,
                salt_target=64, block_size=16)
    return root


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_search_plan_shape(spark, built):
    df = Searcher(spark, built).search([(1, "sym1 int"), (2, "fn_1 return")],
                                       k=10)
    plan = _formatted_plan(df)
    # term IN (...) pushed into the shard parquet scan
    assert "PushedFilters: [In(term, [" in plan
    # blobs scanned only where needed: shard scan reads the blob columns,
    # the lexicon scan must not
    assert "docid_blob" in plan
    # broadcast joins for the small sides
    assert plan.count("BroadcastHashJoin") >= 2
    # partial + final top-k
    assert plan.count("WindowGroupLimit") >= 2
    # partial aggregation before the (qid, docid) exchange
    assert "partial_sum" in plan


def test_lexicon_slice_driver_side(spark, built):
    """The query-terms lexicon slice is read driver-side via pyarrow: no
    lexicon parquet scan appears in the query plan (one Spark job per
    search call removed), and the slice matches the Spark-filtered read.
    The Spark-backend read is pinned in tests/test_index_reader.py."""
    s = Searcher(spark, built)
    df = s.search([(1, "sym1")], k=5)
    plan = _formatted_plan(df)
    assert "global_lexicon" not in plan, "lexicon should be read driver-side"
    got = sorted(s.reader.df(["sym1"]).items())
    want = sorted((r.term, r.df)
                  for r in spark.read.parquet(s.reader.paths.lexicon)
                                .filter(F.col("term") == "sym1")
                                .select("term", "df").collect())
    assert got == want
    assert got, "slice must contain the queried term"
