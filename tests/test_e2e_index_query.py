"""End-to-end: build a persisted index from the synthetic source-code corpus
and verify top-k rank identity against the brute-force oracle, plus the
structural invariants (docids, sha256, salting, skip pointers)."""

import math

import pytest
from pyspark.sql import functions as F

from searchenginepp_spark.operators.index_build import IndexPaths, build_index
from searchenginepp_spark.operators.query import search
from searchenginepp_spark.sources.corpus import (
    assign_docids, assign_docids_window, synthesize_corpus, with_content_sha256,
    with_docno,
)
from tests.oracle import BruteForceIndex

N_DOCS = 400

QUERIES = [
    (1, "sym1 sym2"),
    (2, "int return"),                  # head terms
    (3, "twinkle wonder"),              # stemmable english
    (4, "sym1 sym1"),                   # repeated term must dedupe
    (5, "nonexistenttermxyz sym3"),     # disjunctive: drop missing term
    (6, "the and from"),                # stopword-only → empty
    (7, "fn_1 fn_2 sym5"),
]


@pytest.fixture(scope="module")
def corpus_rows():
    # materialize the same corpus the Spark build sees, for the oracle
    return None


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index"))
    corpus = synthesize_corpus(spark, N_DOCS)
    # salt_target tiny to exercise the salted-shard path on head terms
    paths = build_index(spark, corpus, root, salt_target=256)
    return paths


@pytest.fixture(scope="module")
def oracle(spark, built):
    docmap = spark.read.parquet(built.docmap)
    corpus = synthesize_corpus(spark, N_DOCS)
    rows = (
        with_docno(corpus)
        .join(docmap.select("docid", "docno"), "docno")
        .select("docid", "docno", "content")
        .collect()
    )
    return BruteForceIndex([(r["docid"], r["docno"], r["content"]) for r in rows])


def test_docid_assignment_dense_and_deterministic(spark, built):
    docmap = spark.read.parquet(built.docmap)
    ids = [r["docid"] for r in docmap.select("docid").collect()]
    assert sorted(ids) == list(range(1, N_DOCS + 1))
    # window and scalable paths agree
    corpus = with_docno(synthesize_corpus(spark, 100))
    a = {r["docno"]: r["docid"] for r in assign_docids(corpus).collect()}
    b = {r["docno"]: r["docid"] for r in assign_docids_window(corpus).collect()}
    assert a == b


def test_content_sha256_invariant(spark, built):
    """input_hint invariant: sha256 at ingest == sha256 recomputed from the
    source rows joined back via docno."""
    docmap = spark.read.parquet(built.docmap)
    src = with_content_sha256(with_docno(synthesize_corpus(spark, N_DOCS)))
    joined = docmap.alias("d").join(src.alias("s"), "docno").filter(
        F.col("d.content_sha256") != F.col("s.content_sha256")
    )
    assert joined.count() == 0


def test_stats_and_lexicon(spark, built, oracle):
    stats = spark.read.parquet(built.stats).collect()[0]
    assert stats["n_docs"] == N_DOCS
    assert stats["sum_doclen"] == sum(oracle.doclen.values())
    lex = {r["term"]: r["df"] for r in spark.read.parquet(built.lexicon).collect()}
    assert lex == {t: len(p) for t, p in oracle.postings.items()}


def test_salting_split_head_terms(spark, built):
    shards = spark.read.parquet(built.shards)
    per_term = shards.groupBy("term").agg(
        F.count("*").alias("n_shards"), F.sum("df_shard").alias("df")
    )
    multi = per_term.filter(F.col("n_shards") > 1)
    assert multi.count() > 0, "expected salted head terms with salt_target=256"
    # no shard exceeds ~target postings by construction
    assert shards.agg(F.max("df_shard")).collect()[0][0] <= 2 * 256 + 256
    # shards of one term partition the docid space disjointly
    bad = (
        shards.groupBy("term").agg(
            F.sum("df_shard").alias("total"),
        )
    )
    lex = spark.read.parquet(built.lexicon)
    mismatch = bad.join(lex, "term").filter(F.col("total") != F.col("df"))
    assert mismatch.count() == 0


def test_skip_pointers_structure(spark, built):
    shards = spark.read.parquet(built.shards)
    row = shards.filter(F.col("df_shard") > 1).limit(1).collect()[0]
    skips = row["skips"]
    assert len(skips) >= 1
    assert skips[-1]["last_docid"] == row["last_docid"]
    assert skips[0]["docid_off"] == 0 and skips[0]["tf_bit_off"] == 0
    assert row["sigma_bm25_part"] >= max(s["bm25_part_ub"] for s in skips) - 1e-12
    assert row["sigma_bm25_part"] == pytest.approx(
        max(s["bm25_part_ub"] for s in skips))


@pytest.mark.parametrize("scorer", ["bm25", "tfidf"])
@pytest.mark.parametrize("conjunctive", [False, True])
def test_topk_rank_identity(spark, built, oracle, scorer, conjunctive):
    k = 10
    res = search(spark, built.root, QUERIES, k=k, scorer=scorer,
                 conjunctive=conjunctive)
    got = {}
    for r in res.collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["docid"], r["docno"], r["score"]))
    for qid, text in QUERIES:
        expected = oracle.search(text, k=k, scorer=scorer, conjunctive=conjunctive)
        mine = sorted(got.get(qid, []))
        assert len(mine) == len(expected), f"q{qid}: row count"
        for (rank, docid, docno, score), (e_docid, e_docno, e_rank, e_score) in zip(mine, expected):
            assert (rank, docid, docno) == (e_rank, e_docid, e_docno), f"q{qid} rank {rank}"
            assert math.isclose(score, e_score, abs_tol=1e-6), f"q{qid} score"


def test_empty_and_missing_term_semantics(spark, built, oracle):
    res = search(spark, built.root, [(6, "the and from")], k=10)
    assert res.count() == 0  # stopword-only query
    res = search(spark, built.root, [(5, "nonexistenttermxyz sym3")], k=10,
                 conjunctive=True)
    assert res.count() == 0  # conjunctive with missing term → empty


def test_index_size_report(spark, built):
    from searchenginepp_spark.operators.index_build import index_size_report

    rep = index_size_report(spark, built)
    assert rep["n_postings"] > 0
    # delta-gap + varbyte must beat raw 8-byte docids by a wide margin
    assert rep["bytes_per_posting_docid"] < 4.0
    # unary tf: average tf is small, so only a few bits per posting
    assert rep["bits_per_posting_tf"] < 16.0
    assert rep["disk_shards_bytes"] > 0 and rep["disk_docmap_bytes"] > 0


def test_grouped_transfer_encodes_identically(spark):
    """build_index_shards(transfer="dict") — the int32 term_id transfer
    that restores the term string after encoding — must produce
    byte-identical shard rows to the sorted-row path (same blobs, same
    skips, same σ)."""
    from searchenginepp_spark.operators.index_build import (
        build_index_shards, explode_postings,
    )

    corpus = assign_docids_window(with_content_sha256(with_docno(
        synthesize_corpus(spark, 200))))
    postings = explode_postings(corpus, stem=False).cache()
    avgdl = (postings.groupBy("docid").agg(F.first("doclen").alias("dl"))
             .agg(F.avg("dl")).collect()[0][0])

    def canon(df):
        out = []
        for r in df.collect():
            out.append((
                r["term"], r["shard"], r["df_shard"], r["first_docid"],
                r["last_docid"], bytes(r["docid_blob"]), bytes(r["tf_blob"]),
                bytes(r["doclen_blob"]), round(r["sigma_bm25_part"], 9),
                round(r["sigma_tfidf_part"], 9), round(r["avgdl_encode"], 6),
                tuple((s["last_docid"], s["prev_docid"], s["n_postings"],
                       s["docid_off"], s["tf_bit_off"], s["doclen_off"],
                       round(s["bm25_part_ub"], 9), round(s["tfidf_part_ub"], 9))
                      for s in r["skips"])))
        return sorted(out)

    row = canon(build_index_shards(postings, float(avgdl),
                                   salt_target=64, block_size=16))
    dct = canon(build_index_shards(postings, float(avgdl), salt_target=64,
                                   block_size=16, transfer="dict"))
    with pytest.raises(ValueError, match="unknown transfer mode"):
        build_index_shards(postings, float(avgdl), transfer="group")
    postings.unpersist()
    assert row == dct
    assert len(row) > 200       # salting + multi-term corpus actually engaged


def test_dict_transfer_end_to_end_and_auto_mode(spark, tmp_path):
    """build_index(transfer="auto") must pick the dict path for a
    broadcastable vocab (recorded in the build manifest), produce a
    term-readable shard table, and answer queries identically to a forced
    row-mode build."""
    import json

    from searchenginepp_spark.operators.index_build import build_index
    from searchenginepp_spark.operators.query import search

    corpus = synthesize_corpus(spark, 300)
    auto_root = str(tmp_path / "auto")
    row_root = str(tmp_path / "row")
    build_index(spark, corpus, auto_root, salt_target=64, block_size=16)
    build_index(spark, corpus, row_root, salt_target=64, block_size=16,
                transfer="row")
    with open(f"{auto_root}/manifest/build_manifest.json") as f:
        m = json.load(f)
    assert m["transfer"] == "dict" and m["n_vocab"] > 0
    queries = [(1, "sym1 sym2"), (2, "int return"), (3, "fn_1 sym5")]
    got = sorted((r["qid"], r["docid"], r["rank"], round(r["score"], 6))
                 for r in search(spark, auto_root, queries, k=10).collect())
    want = sorted((r["qid"], r["docid"], r["rank"], round(r["score"], 6))
                  for r in search(spark, row_root, queries, k=10).collect())
    assert got == want and got
    # lexicon df invariant: exact per-term df == sum of shard dfs
    lex = {r["term"]: r["df"]
           for r in spark.read.parquet(f"{auto_root}/global_lexicon").collect()}
    shard_df = {r["term"]: r["s"] for r in
                spark.read.parquet(f"{auto_root}/index_shards")
                .groupBy("term").agg(F.sum("df_shard").alias("s")).collect()}
    assert lex == shard_df


def test_auto_transfer_falls_back_to_row_for_huge_vocab(spark, tmp_path):
    """dict_max_vocab below the corpus vocabulary → auto must pick row mode
    (the unbounded-vocabulary fallback), still answering identically."""
    import json

    from searchenginepp_spark.operators.index_build import build_index
    from searchenginepp_spark.operators.query import search

    corpus = synthesize_corpus(spark, 200)
    root = str(tmp_path / "fallback")
    build_index(spark, corpus, root, salt_target=64, block_size=16,
                dict_max_vocab=5)
    with open(f"{root}/manifest/build_manifest.json") as f:
        m = json.load(f)
    assert m["transfer"] == "row" and m["n_vocab"] > 5
    got = search(spark, root, [(1, "sym1 sym2")], k=5).collect()
    assert got
