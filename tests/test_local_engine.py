"""LocalSearcher (in-process serving reader) must be rank-identical to the
Spark query paths, and fast enough to be a serving story (no Spark job per
query)."""

import time

import pytest

from searchenginepp_spark.operators.index_build import build_index
from searchenginepp_spark.operators.local_engine import LocalSearcher
from searchenginepp_spark.operators.query import Searcher
from searchenginepp_spark.sources.corpus import synthesize_corpus

QUERIES = [
    (1, "sym1 sym2"),
    (2, "int return"),
    (3, "twinkle wonder"),
    (4, "sym1 sym1"),
    (5, "nonexistenttermxyz sym3"),
    (6, "the and from"),
    (7, "fn_1 fn_2 sym5 int"),
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("local_idx"))
    build_index(spark, synthesize_corpus(spark, 300), root,
                salt_target=64, block_size=16)
    return root


@pytest.mark.parametrize("scorer", ["bm25", "tfidf"])
def test_local_matches_spark_exact(spark, built, scorer):
    want = sorted(
        (r["qid"], r["docid"], r["docno"], r["rank"], round(r["score"], 6))
        for r in Searcher(spark, built).search(QUERIES, k=10,
                                               scorer=scorer).collect())
    got = sorted((q, d, n, r, round(s, 6))
                 for q, d, n, r, s in
                 LocalSearcher(built).search(QUERIES, k=10, scorer=scorer))
    assert got == want


def test_local_latency_is_millisecond_scale(built):
    ls = LocalSearcher(built)
    ls.search(QUERIES[:1], k=10)                 # warm the datasets
    t0 = time.perf_counter()
    n = 20
    for _ in range(n):
        ls.search([(1, "sym1 int fn_2")], k=10)
    avg_ms = (time.perf_counter() - t0) / n * 1000
    # generous bound: no Spark job may be involved (those cost ~1s)
    assert avg_ms < 200, f"local query path too slow: {avg_ms:.1f} ms"


def test_local_empty_and_missing(built):
    ls = LocalSearcher(built)
    assert ls.search([(1, "the and")], k=10) == []
    res = ls.search([(2, "nonexistenttermxyz sym3")], k=10)
    assert res and all(q == 2 for q, *_ in res)


@pytest.mark.parametrize("scorer", ["bm25", "tfidf"])
def test_local_conjunctive_matches_spark(spark, built, scorer):
    want = sorted(
        (r["qid"], r["docid"], r["docno"], r["rank"], round(r["score"], 6))
        for r in Searcher(spark, built).search(QUERIES, k=10, scorer=scorer,
                                               conjunctive=True).collect())
    got = sorted((q, d, n, r, round(s, 6))
                 for q, d, n, r, s in
                 LocalSearcher(built).search(QUERIES, k=10, scorer=scorer,
                                             conjunctive=True))
    assert got == want
    assert got, "conjunctive results empty for every query?"


def test_cli_batch_trec_output(built, tmp_path, capsys, monkeypatch):
    """CLI batch mode (engine.cpp:74-79): qid\\tquery lines in, TREC run
    lines out, same ranking as LocalSearcher."""
    import io

    from searchenginepp_spark.cli import main
    from searchenginepp_spark.operators.local_engine import LocalSearcher

    monkeypatch.setattr("sys.stdin",
                        io.StringIO("1\tsym1 sym2\n2\tint return\n"))
    rc = main([built, "--batch", "--k", "5", "--run-name", "t"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().split("\n")
    want = LocalSearcher(built).search(
        [(1, "sym1 sym2"), (2, "int return")], k=5)
    assert len(lines) == len(want)
    q, _, docno, rank, score = want[0]
    assert lines[0] == f"{q} Q0 {docno} {rank} {score:.6f} t"


def test_head_term_query_skips_most_block_decodes(built, monkeypatch):
    """Round 5 (VERDICT #4): a single-head-term top-k must NOT decode the
    whole posting list — phase 1 seeds θ in descending block-max order and
    cuts off, so the decode count is a small fraction of the list's blocks
    (the reference's nextGEQ similarly never decodes skipped blocks,
    Index.cpp:181-214).  Rank-identity is pinned by the tests above; this
    pins the work bound."""
    from searchenginepp_spark.operators import bmm

    calls = {"n": 0}
    orig = bmm._ListCursor.decode_block

    def counting(self, b, scorer_fn):
        calls["n"] += 1
        return orig(self, b, scorer_fn)

    monkeypatch.setattr(bmm._ListCursor, "decode_block", counting)
    ls = LocalSearcher(built, stem=True)
    res = ls.search([(1, "int")], k=5)          # head term: df >> k
    assert len(res) == 5
    total_blocks = sum(   # a cache hit: no further block is decoded
        c.n_blocks for c in ls.reader.cursors(["int"], "bm25",
                                              ls.df_by_term)["int"])
    assert total_blocks > 4                     # list really is multi-block
    # decoded far fewer blocks than exist (cache was cold: every decode
    # counted); allow slack for ties near θ
    assert calls["n"] < total_blocks, (calls["n"], total_blocks)
    assert calls["n"] <= max(2, total_blocks // 2)
