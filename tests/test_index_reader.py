"""IndexReader — the one driver-side reader behind the exact, BMM and
in-process query paths: one backend decision at open (Spark only where
pyarrow cannot reach the root), no silent fallback after it, and one
bounded LRU for the serving reader's cursors and docnos."""

import shutil
from types import SimpleNamespace

import pyarrow as pa
import pytest

from searchenginepp_spark.operators import index_reader
from searchenginepp_spark.operators.bmm import search_bmm
from searchenginepp_spark.operators.index_build import build_index
from searchenginepp_spark.operators.index_reader import IndexReader
from searchenginepp_spark.operators.local_engine import LocalSearcher
from searchenginepp_spark.operators.query import Searcher
from searchenginepp_spark.sources.corpus import synthesize_corpus

QUERIES = [(1, "sym1 int"), (2, "fn_1 return sym5"), (3, "naïve 中文"),
           (4, "nonexistenttermxyz")]

# quotes, backslashes and non-ASCII reach every path's query literals
ADVERSARIAL = "don't a\\b naïve 中文 sym1"

EXTRA_DOCS = [
    ("adv/repo", "a.py", "c0ffee01", "python", "naïve 中文 sym1 don't"),
    ("adv/repo", "b.py", "c0ffee02", "python", "naïve naïve a\\b return"),
    ("adv/repo", "c.py", "c0ffee03", "python", "中文 中文 中文 sym1 sym1"),
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("reader_idx"))
    extra = spark.createDataFrame(
        EXTRA_DOCS,
        schema="repo string, path string, commit string, lang string, "
               "content string")
    build_index(spark, synthesize_corpus(spark, 300).unionByName(extra), root,
                salt_target=64, block_size=16)
    return root


def _rows(df):
    return sorted((r["qid"], r["docno"], r["rank"], round(r["score"], 6))
                  for r in df.collect())


def _local_rows(res):
    return sorted((q, n, r, round(s, 6)) for q, _, n, r, s in res)


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_spark_backend_matches_pyarrow(spark, built, monkeypatch):
    """A root pyarrow cannot reach is read through Spark, decided once at
    open: same rows on both Spark query paths, and the lexicon read pushes
    `term IN` into a (term, df)-only scan — the blobs are never read."""
    want_exact = _rows(Searcher(spark, built).search(QUERIES, k=10))
    want_bmm = _rows(search_bmm(spark, built, QUERIES, k=10))
    pa_reader = IndexReader(built, spark)
    assert pa_reader.io == "pyarrow"

    def _refuse(uri):
        raise pa.ArrowInvalid(f"Unrecognized filesystem type in URI: {uri}")

    monkeypatch.setattr(index_reader, "pafs", SimpleNamespace(
        FileSystem=SimpleNamespace(from_uri=_refuse)))
    frame_cls = type(spark.range(1))
    plans = []
    to_arrow = frame_cls.toArrow

    def spy(self):
        plans.append(_formatted_plan(self))
        return to_arrow(self)

    monkeypatch.setattr(frame_cls, "toArrow", spy)

    reader = IndexReader(built, spark)
    assert reader.io == "spark"
    assert (reader.n_docs, reader.avgdl) == (pa_reader.n_docs, pa_reader.avgdl)
    s = Searcher(spark, built)
    assert s.reader.io == "spark"
    assert _rows(s.search(QUERIES, k=10)) == want_exact
    assert _rows(search_bmm(spark, built, QUERIES, k=10)) == want_bmm

    lex_scans = [b for p in plans for b in p.split("\n\n")
                 if "Scan parquet" in b and "global_lexicon" in b]
    assert lex_scans, "Spark-backend lexicon read missing"
    for b in lex_scans:
        assert "In(term, [" in b
        assert "docid_blob" not in b
        assert "ReadSchema: struct<term:string,df:bigint>" in b

    # the serving-side reads agree across backends too
    terms = ["int", "sym1", "中文"]
    lex = pa_reader.lexicon()
    assert reader.lexicon() == lex
    assert reader.df(terms) == pa_reader.df(terms)
    got = reader.cursors(terms, "bm25", lex)
    want = pa_reader.cursors(terms, "bm25", lex)
    assert {t: sorted((c.n_blocks, c.sigma) for c in cs)
            for t, cs in got.items()} == \
        {t: sorted((c.n_blocks, c.sigma) for c in cs)
         for t, cs in want.items()}
    assert reader.docnos([1, 2, 3]) == pa_reader.docnos([1, 2, 3])

    # without a session there is nothing to read through
    with pytest.raises(pa.ArrowInvalid):
        LocalSearcher(built)


@pytest.mark.parametrize("table", ["stats", "global_lexicon"])
def test_missing_table_raises_on_every_path(spark, built, tmp_path, table):
    """A partial index directory is an error naming the missing table on
    every path — never a silent re-read through Spark (whose error would
    be an AnalysisException, not a FileNotFoundError)."""
    root = str(tmp_path / "partial")
    shutil.copytree(built, root)
    shutil.rmtree(f"{root}/{table}")

    with pytest.raises(FileNotFoundError, match=table):
        Searcher(spark, root).search(QUERIES, k=10)
    with pytest.raises(FileNotFoundError, match=table):
        search_bmm(spark, root, QUERIES, k=10)
    with pytest.raises(FileNotFoundError, match=table):
        LocalSearcher(root).search(QUERIES, k=10)


def test_lru_bounded_and_rank_identical(built, monkeypatch):
    """With the shared cursor/docno LRU capped at 2 entries, a stream that
    cycles 3 terms keeps re-reading evicted cursors yet returns exactly
    what a fresh reader returns, and the cache never exceeds its cap."""
    monkeypatch.setattr(index_reader, "_CACHE_ENTRIES", 2)
    ls = LocalSearcher(built)
    tables = []
    read = ls.reader._read

    def counting(table, *a, **kw):
        tables.append(table)
        return read(table, *a, **kw)

    monkeypatch.setattr(ls.reader, "_read", counting)
    stream = ["sym1", "fn_1", "int"] * 3
    for i, term in enumerate(stream):
        got = ls.search([(i, term)], k=5)
        assert got, term
        assert got == LocalSearcher(built).search([(i, term)], k=5)
        assert len(ls.reader._cache) <= 2
    assert tables.count("shards") > 3, "cap of 2 never evicted a cursor list"


def test_adversarial_query_rank_identical_on_all_paths(spark, built):
    """Quotes, a backslash and non-ASCII terms give the same ranking on the
    exact path, the BMM path (one- and two-level) and the local path."""
    q = [(7, ADVERSARIAL)]
    s = Searcher(spark, built)
    exact = _rows(s.search(q, k=10))
    assert len(exact) == 10
    assert _rows(s.search_bmm(q, k=10)) == exact
    assert _rows(search_bmm(spark, built, q, k=10, n_ranges=3)) == exact
    assert _local_rows(LocalSearcher(built).search(q, k=10)) == exact
