"""Coverage for the remaining query/source surface: TREC run output (Q14),
corpus loading from both input shapes (B1), driver-side query
normalization parity, and Searcher reuse."""

import pytest
from pyspark.sql import functions as F

from searchenginepp_spark.operators.index_build import build_index
from searchenginepp_spark.operators.query import (
    Searcher, normalize_queries, queries_df, query_terms_local, trec_output,
)
from searchenginepp_spark.sources.corpus import load_corpus, synthesize_corpus

QUERIES = [(1, "sym1 sym2"), (2, "int return")]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("qsurf"))
    build_index(spark, synthesize_corpus(spark, 150), root,
                salt_target=64, block_size=16)
    return root


def test_query_terms_local_matches_udf_path(spark):
    """Driver-side normalization must produce exactly what the distributed
    tokenizer UDF produces (same kernel, same dedup, engine.cpp:88-96)."""
    qs = [(1, "Twinkle, twinkle LITTLE bat!"), (2, "the and of"),
          (3, "running runs RUN run"), (4, "foo(bar); x=y+1;")]
    local = set(query_terms_local(qs, stem=True))
    dist = {(r["qid"], r["term"])
            for r in normalize_queries(queries_df(spark, qs), stem=True).collect()}
    assert local == dist
    assert (3, "run") in local and len([t for q, t in local if q == 3]) == 1


def test_trec_output_format(spark, built):
    s = Searcher(spark, built)
    res = s.search(QUERIES, k=5)
    lines = [r["line"] for r in trec_output(res, run_name="r1").collect()]
    assert len(lines) == res.count()
    qid, q0, docno, rank, score, run = lines[0].split(" ")
    assert q0 == "Q0" and run == "r1"
    assert int(qid) in (1, 2) and int(rank) >= 1 and float(score) > 0
    assert "@" in docno and ":" in docno          # repo:path@commit


def test_searcher_reuse_consistent(spark, built):
    s = Searcher(spark, built)
    a = sorted((r["qid"], r["docid"], r["rank"]) for r in s.search(QUERIES, k=5).collect())
    b = sorted((r["qid"], r["docid"], r["rank"]) for r in s.search(QUERIES, k=5).collect())
    assert a == b and a


def test_load_corpus_native_shape(spark, tmp_path):
    native = synthesize_corpus(spark, 20)
    p = str(tmp_path / "native")
    native.write.parquet(p)
    out = load_corpus(spark, p)
    assert set(out.columns) == {"repo", "path", "commit", "lang", "content"}
    assert out.count() == 20


def test_load_corpus_documents_shape(spark):
    out = load_corpus(spark, "/root/testdata/sf0.001/documents.parquet")
    assert set(out.columns) == {"repo", "path", "commit", "lang", "content"}
    assert out.count() == 500
    # adaptation is deterministic: same docno every load
    a = sorted(r["commit"] for r in out.limit(5).collect())
    b = sorted(r["commit"] for r in load_corpus(
        spark, "/root/testdata/sf0.001/documents.parquet").limit(5).collect())
    assert a == b


def test_local_df_values_path(spark):
    """_local_df builds long/string frames as a SQL inline table
    (LocalTableScan, zero scheduled jobs per broadcast build) and must
    round-trip exactly — including SQL-metacharacter strings — and fall
    back to the parallelize frame for anything the literal path cannot
    represent."""
    from searchenginepp_spark import frames
    from searchenginepp_spark.frames import _local_df, _values_df

    rows = [(1, "don't"), (2, "a\\b"), (3, "x'y\\"), (4, "unié中"),
            (5, "plain")]
    df = _local_df(spark, rows, "qid long, term string")
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert sorted((r.qid, r.term) for r in df.collect()) == rows
    # identical rows to the parallelize path
    rdd_df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1),
        schema="qid long, term string")
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, rdd_df.collect()))

    # fallbacks: non-long/string schema, None values, oversized lists,
    # backticks in a column name, escapedStringLiterals sessions (the conf
    # is a case-insensitive boolean)
    assert _values_df(spark, [(1, 0.5)], "a long, b double") is None
    assert _values_df(spark, [(1, None)], "a long, b string") is None
    assert _values_df(spark, [(1, 2 ** 63)], "a long, b long") is None
    big = [(i, "t") for i in range(frames._VALUES_MAX_ROWS + 1)]
    assert _values_df(spark, big, "a long, b string") is None
    assert _values_df(spark, [(1, "t")], "q`id long, term string") is None
    for conf in ("true", "TRUE"):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", conf)
        try:
            assert _values_df(spark, rows, "qid long, term string") is None
            # _local_df still returns correct rows through the fallback
            fb = _local_df(spark, rows, "qid long, term string")
            assert sorted((r.qid, r.term) for r in fb.collect()) == rows
        finally:
            spark.conf.unset("spark.sql.parser.escapedStringLiterals")
