"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship stemmed BM25 top-k over sf0.001.
`queries()` exposes the operator inventory (SURVEY.md §2) over the driver's
parquet tables; `oracle_sql()` carries the matching DuckDB SQL.  Stemmed /
compressed-index / streaming paths are not SQL-expressible and get
rows-only checks (no oracle entry); their rank-identity is pinned by
tests/ against the brute-force oracle instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchenginepp_spark import oracle_sql as osql
from searchenginepp_spark.frames import _local_df
from searchenginepp_spark.oracle_sql import QUERY_SET, ROUND, TOP_K

SF_DEFAULT = "/root/testdata/sf0.001"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("docid"),
        F.col("text").alias("content"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: stemmed BM25 disjunctive top-k over sf0.001 documents."""
    from searchenginepp_spark.operators.query import search_corpus

    return search_corpus(spark, _docs(spark, SF_DEFAULT), QUERY_SET,
                         k=TOP_K, scorer="bm25", stem=True)


# ---------------------------------------------------------------- queries

def _tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchenginepp_spark.operators.index_build import tokenize_corpus

    return tokenize_corpus(_docs(spark, sf_dir), stem=False)


def q_postings_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchenginepp_spark.operators.index_build import build_postings

    return build_postings(_tokenized(spark, sf_dir)).select("term", "docid", "tf")


def q_docmap_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tokenized(spark, sf_dir).select("docid", "doclen")


def q_global_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchenginepp_spark.operators.index_build import (
        build_global_lexicon, build_postings,
    )

    return build_global_lexicon(build_postings(_tokenized(spark, sf_dir)))


def q_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tokenized(spark, sf_dir).agg(
        F.count("*").alias("n_docs"),
        F.sum("doclen").alias("sum_doclen"),
    )


def _topk(spark: SparkSession, sf_dir: str, scorer: str,
          conjunctive: bool, stem: bool = False) -> DataFrame:
    from searchenginepp_spark.operators.query import search_corpus

    return search_corpus(spark, _docs(spark, sf_dir), QUERY_SET, k=TOP_K,
                         scorer=scorer, conjunctive=conjunctive, stem=stem,
                         round_to=ROUND)


def q_bm25_disj(spark, sf_dir):
    return _topk(spark, sf_dir, "bm25", conjunctive=False)


def q_bm25_conj(spark, sf_dir):
    return _topk(spark, sf_dir, "bm25", conjunctive=True)


def q_tfidf_disj(spark, sf_dir):
    return _topk(spark, sf_dir, "tfidf", conjunctive=False)


def q_bm25_stemmed(spark, sf_dir):
    """Flagship stemmed path — rows-only check (stemming ∉ SQL)."""
    return _topk(spark, sf_dir, "bm25", conjunctive=False, stem=True)


_INDEX_CACHE: dict[str, str] = {}


def _built_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir per process) an unstemmed compressed index of
    the documents table, shared by the persisted-index queries."""
    root = _INDEX_CACHE.get(sf_dir)
    if root is None:
        import tempfile

        from searchenginepp_spark.operators.index_build import build_index
        from searchenginepp_spark.sources.corpus import load_corpus

        corpus = load_corpus(spark, f"{sf_dir}/documents.parquet")
        root = tempfile.mkdtemp(prefix="sepp_index_")
        build_index(spark, corpus, root, stem=False, salt_target=4096,
                    block_size=64)
        _INDEX_CACHE[sf_dir] = root
    return root


# Internal index docids are assigned in (repo, path, commit) order — the
# engine contract breaks rounded-score ties by THAT docid (reference
# semantics).  The oracle compares in the driver's doc_id space, where the
# same tie canonicalizes by doc_id asc — a different order whenever two
# equal-rounded-score docs sort differently under the two identities.  The
# adapter therefore over-fetches a tie margin, maps docno → doc_id, and
# re-ranks canonically; any rounded-score group straddling the k boundary
# is fully contained as long as it has ≤ TIE_MARGIN members beyond k
# (the planted duplicate groups in the testdata are far smaller).
TIE_MARGIN = 50


def _docid_from_docno(res: DataFrame, k: int) -> DataFrame:
    # docno = repo:path@commit built from doc_id (docXXXXX.txt)
    from pyspark.sql import Window

    mapped = res.select(
        "qid",
        F.regexp_extract("docno", r"doc(\d+)\.txt", 1).cast("long").alias("docid"),
        "score",
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    ranked = mapped.withColumn("rank", F.row_number().over(w).cast("long"))
    # TIE_MARGIN soundness check (ADVICE round 4): the adapter is only
    # correct if every rounded-score tie group straddling the k boundary is
    # FULLY contained in the k+TIE_MARGIN fetch.  If a qid used its whole
    # margin AND its last fetched row still rounds equal to its k-th row,
    # the tie group may extend past the fetch — fail loudly instead of
    # silently returning a wrong canonical top-k.  The ranked frame is tiny
    # (≤ n_queries×(k+margin) rows), so collect ONCE, check in Python, and
    # return a local frame — the search itself runs exactly one job.
    rows = ranked.collect()
    per_qid: dict = {}
    for r in rows:
        per_qid.setdefault(r["qid"], []).append(r)
    for qid, rs in per_qid.items():
        if len(rs) < k + TIE_MARGIN:
            continue
        s_k = next((round(r["score"], 6) for r in rs if r["rank"] == k), None)
        s_last = round(min(r["score"] for r in rs), 6)
        if s_k is not None and s_k == s_last:
            raise AssertionError(
                f"TIE_MARGIN={TIE_MARGIN} exhausted for qid={qid}: "
                f"rounded-score tie group at rank {k} extends past the "
                f"fetch — raise TIE_MARGIN")
    spark = ranked.sparkSession
    out = [(r["qid"], r["docid"], r["rank"], r["score"])
           for r in rows if r["rank"] <= k]
    return _local_df(spark, out, "qid long, docid long, rank long, score double")


def q_bm25_compressed_index(spark, sf_dir):
    """Full persisted-index path: build → compress (+fused skip/σ) → exact
    decode search. Rank-identical to q_bm25_disj, shares that oracle SQL."""
    from searchenginepp_spark.operators.query import search

    res = search(spark, _built_index(spark, sf_dir), QUERY_SET,
                 k=TOP_K + TIE_MARGIN, scorer="bm25", stem=False)
    return _docid_from_docno(res, TOP_K)


def q_bm25_bmm_index(spark, sf_dir):
    """Block-Max MaxScore pruned path over the same persisted index —
    must be rank-identical to the exact path (and to the DuckDB oracle).
    n_ranges=4 forces the two-level docid-range fan-out (level-1 slice →
    per-range MaxScore → level-2 merge) so the oracle gates the plan shape
    that actually runs at scale, not just the single-task degenerate."""
    from searchenginepp_spark.operators.bmm import search_bmm

    res = search_bmm(spark, _built_index(spark, sf_dir), QUERY_SET,
                     k=TOP_K + TIE_MARGIN, scorer="bm25", stem=False,
                     n_ranges=4)
    return _docid_from_docno(res, TOP_K)


_MERGED_CACHE: dict[str, tuple[str, str]] = {}


def _merged_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(merged_root, compacted_root) — two half-corpus indexes (split by
    doc_id parity, so the rebased docid order differs from the from-scratch
    build) merged via the metadata-only merge, then compacted.  Caches per
    sf_dir like _built_index."""
    roots = _MERGED_CACHE.get(sf_dir)
    if roots is None:
        import tempfile

        from searchenginepp_spark.operators.index_build import build_index
        from searchenginepp_spark.operators.index_merge import (
            compact_index, merge_indexes,
        )
        from searchenginepp_spark.sources.corpus import load_corpus

        corpus = load_corpus(spark, f"{sf_dir}/documents.parquet")
        even = corpus.filter(
            F.regexp_extract("path", r"doc(\d+)\.txt", 1).cast("long")
            % 2 == 0)
        odd = corpus.subtract(even)
        half_a = tempfile.mkdtemp(prefix="sepp_half_a_")
        half_b = tempfile.mkdtemp(prefix="sepp_half_b_")
        merged = tempfile.mkdtemp(prefix="sepp_merged_")
        compacted = tempfile.mkdtemp(prefix="sepp_compacted_")
        for half, root in ((even, half_a), (odd, half_b)):
            build_index(spark, half, root, stem=False, salt_target=4096,
                        block_size=64)
        merge_indexes(spark, [half_a, half_b], merged, rebase=True)
        compact_index(spark, merged, compacted, salt_target=4096,
                      block_size=64)
        roots = (merged, compacted)
        _MERGED_CACHE[sf_dir] = roots
    return roots


def q_bm25_merged_segments(spark, sf_dir):
    """Segment lifecycle, driver-gated (VERDICT round 4 #5): two half-corpus
    indexes → metadata-only merge (docid rebase, zero blob re-encode) →
    exact search.  Merged ≡ from-scratch, so it shares the plain bm25
    oracle SQL; the docid-order difference vs the single build exercises
    the rebase + tie canonicalization for real."""
    from searchenginepp_spark.operators.query import search

    merged, _ = _merged_index(spark, sf_dir)
    res = search(spark, merged, QUERY_SET,
                 k=TOP_K + TIE_MARGIN, scorer="bm25", stem=False)
    return _docid_from_docno(res, TOP_K)


def q_bm25_compacted_index(spark, sf_dir):
    """compact_index over the merged segments (decode → one salted shuffle
    → fresh encode): the LSM leveling step, hash-gated against the same
    oracle."""
    from searchenginepp_spark.operators.query import search

    _, compacted = _merged_index(spark, sf_dir)
    res = search(spark, compacted, QUERY_SET,
                 k=TOP_K + TIE_MARGIN, scorer="bm25", stem=False)
    return _docid_from_docno(res, TOP_K)


def q_bm25_bmm_ranges7(spark, sf_dir):
    """Same pruned path at a second, non-divisor fan-out (n_ranges=7): the
    range boundaries fall at different blocks than n_ranges=4, so boundary-
    block replication + [lo,hi) masking stay hash-gated as the slicing code
    evolves (VERDICT round 2 #8)."""
    from searchenginepp_spark.operators.bmm import search_bmm

    res = search_bmm(spark, _built_index(spark, sf_dir), QUERY_SET,
                     k=TOP_K + TIE_MARGIN, scorer="bm25", stem=False,
                     n_ranges=7)
    return _docid_from_docno(res, TOP_K)


# ------------------------------------------- training-data pipeline ops

SIM_QUERY_IDS = [0, 1, 2, 3, 4]
SIM_K = 5
EMB_DIMS = 64
NEAR_DUP_COS = 0.45
NEAR_DUP_BANDS = 2       # banded multi-table LSH (b tables × r planes);
NEAR_DUP_ROWS = 2        # loose 2-bit buckets at this tiny SF so candidates
                         # survive — at scale n_rows grows with log2(N)
JACCARD_T = 0.5
JACCARD_MAX_SHINGLE_DF = 256   # fan-out cap, applied on BOTH engines
SIMHASH_MAX_HAMMING = 3


def _pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir)


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_dedup_exact(spark, sf_dir):
    from searchenginepp_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_pipeline_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    from searchenginepp_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_pipeline_docs(spark, sf_dir),
                               n=3, threshold=JACCARD_T,
                               max_shingle_df=JACCARD_MAX_SHINGLE_DF)


def q_dedup_minhash_lsh(spark, sf_dir):
    from searchenginepp_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(_pipeline_docs(spark, sf_dir), n=3)


def q_dedup_simhash(spark, sf_dir):
    from searchenginepp_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_pipeline_docs(spark, sf_dir),
                              max_hamming=SIMHASH_MAX_HAMMING)


def q_dedup_components(spark, sf_dir):
    from searchenginepp_spark.operators.dedup import (
        dedup_components, minhash_lsh_candidates,
    )

    docs = _pipeline_docs(spark, sf_dir)
    return dedup_components(docs, minhash_lsh_candidates(docs, n=3))


CONTAM_BENCH_MOD, CONTAM_BENCH_REM = 100, 7   # ~1% of docs as the eval set
CONTAM_MIN_SHARED = 3


def q_text_contamination(spark, sf_dir):
    from searchenginepp_spark.operators.text_analysis import (
        contamination_check,
    )

    docs = _pipeline_docs(spark, sf_dir)
    is_bench = (F.col("docid") % CONTAM_BENCH_MOD) == CONTAM_BENCH_REM
    return contamination_check(docs.where(~is_bench), docs.where(is_bench),
                               n=3, min_shared=CONTAM_MIN_SHARED)


SAMPLE_FRACTIONS = {"en": 0.25, "de": 0.5, "zh": 0.1}
SAMPLE_DEFAULT_FRACTION = 0.75      # es / fr fall through
SAMPLE_CAP = 40


def _docs_with_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("docid"), "lang")


def q_sample_fraction(spark, sf_dir):
    from searchenginepp_spark.operators.sampling import (
        stratified_sample_fraction,
    )

    return stratified_sample_fraction(
        _docs_with_lang(spark, sf_dir), "lang",
        SAMPLE_FRACTIONS, default_fraction=SAMPLE_DEFAULT_FRACTION)


def q_sample_cap(spark, sf_dir):
    from searchenginepp_spark.operators.sampling import stratified_sample_cap

    return stratified_sample_cap(_docs_with_lang(spark, sf_dir), "lang",
                                 cap=SAMPLE_CAP)


def q_sim_cosine_topk(spark, sf_dir):
    from searchenginepp_spark.operators.similarity import cosine_topk

    return cosine_topk(_embeddings(spark, sf_dir), SIM_QUERY_IDS, k=SIM_K)


IVF_CENTROIDS = 8    # 500-2000 vectors in the testdata → ~sqrt(N) coarse
IVF_PROBE = 3        # buckets; 3-probe keeps recall high at this tiny SF


def q_sim_ivf_ann_topk(spark, sf_dir):
    from searchenginepp_spark.operators.similarity import ivf_ann_topk

    return ivf_ann_topk(_embeddings(spark, sf_dir), SIM_QUERY_IDS, k=SIM_K,
                        n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE)


def q_sim_lsh_ann_topk(spark, sf_dir):
    from searchenginepp_spark.operators.similarity import lsh_ann_topk

    return lsh_ann_topk(_embeddings(spark, sf_dir), EMB_DIMS,
                        SIM_QUERY_IDS, k=SIM_K)


def q_sim_embedding_near_dup(spark, sf_dir):
    from searchenginepp_spark.operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_embeddings(spark, sf_dir), EMB_DIMS,
                                    threshold=NEAR_DUP_COS,
                                    n_bands=NEAR_DUP_BANDS,
                                    n_rows=NEAR_DUP_ROWS)


def q_text_token_counts(spark, sf_dir):
    from searchenginepp_spark.operators.text_analysis import token_counts

    return token_counts(_pipeline_docs(spark, sf_dir))


def q_text_quality(spark, sf_dir):
    from searchenginepp_spark.operators.text_analysis import quality_scores

    return quality_scores(_pipeline_docs(spark, sf_dir))


def q_text_language_id(spark, sf_dir):
    from searchenginepp_spark.operators.text_analysis import language_id

    return language_id(_pipeline_docs(spark, sf_dir))


def q_text_fingerprint(spark, sf_dir):
    from searchenginepp_spark.operators.text_analysis import doc_fingerprint

    return doc_fingerprint(_pipeline_docs(spark, sf_dir))


def q_events_windowed(spark, sf_dir):
    from searchenginepp_spark.streaming.windowed import windowed_event_counts

    return windowed_event_counts(
        spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_events_sessionize(spark, sf_dir):
    from searchenginepp_spark.streaming.windowed import sessionize_events

    return sessionize_events(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_events_daily_json(spark, sf_dir):
    from searchenginepp_spark.streaming.windowed import daily_event_stats

    return daily_event_stats(spark.read.parquet(f"{sf_dir}/events.parquet"))


# ------------------------------------------------------ ranking evaluation

EVAL_QRELS_MOD = 7     # deterministic synthetic qrels: relevant iff
                       # docid % EVAL_QRELS_MOD == qid % EVAL_QRELS_MOD


def q_eval_metrics(spark, sf_dir):
    """mAP/nDCG@10/MRR of the BM25 run against deterministic synthetic
    qrels — gates the evaluation operator's metric math (not ranking
    quality; quality goldens live in tests/test_evaluation.py)."""
    from searchenginepp_spark.operators.evaluation import evaluate_topk

    run = _topk(spark, sf_dir, "bm25", conjunctive=False)
    qids = _local_df(spark, [(q,) for q, _ in QUERY_SET], "qid long")
    qrels = (
        _docs(spark, sf_dir).select("docid").crossJoin(qids)
        .filter(F.col("docid") % EVAL_QRELS_MOD
                == F.col("qid") % EVAL_QRELS_MOD)
        .withColumn("gain", F.lit(1.0))
    )
    return evaluate_topk(run, qrels, k=TOP_K)


# ------------------------------------------------- relational (TPC-H-ish)

TPCH_SHIP_CUTOFF = "1998-09-02"
TPCH_Q3_SEGMENT = "BUILDING"
TPCH_Q3_DATE = "1998-03-15"
TPCH_Q5_REGION = "ASIA"
TPCH_Q5_YEAR = 1996


def _t(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q_tpch_pricing_summary(spark, sf_dir):
    from searchenginepp_spark.operators.relational import pricing_summary

    return pricing_summary(_t(spark, sf_dir, "lineitem"),
                           ship_cutoff=TPCH_SHIP_CUTOFF)


def q_tpch_top_unshipped(spark, sf_dir):
    from searchenginepp_spark.operators.relational import top_unshipped_orders

    return top_unshipped_orders(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"), segment=TPCH_Q3_SEGMENT,
        date=TPCH_Q3_DATE, n=10)


def q_tpch_regional_revenue(spark, sf_dir):
    from searchenginepp_spark.operators.relational import regional_revenue

    return regional_revenue(
        _t(spark, sf_dir, "region"), _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier"),
        region_name=TPCH_Q5_REGION, year=TPCH_Q5_YEAR)


def q_mm_byte_histogram(spark, sf_dir):
    """Multimodal plumbing demo: document text as opaque binary payload →
    Arrow-batched numpy byte histogram (operators/multimodal.py)."""
    from searchenginepp_spark.operators.multimodal import (
        asset_table, byte_histogram,
    )

    docs = _pipeline_docs(spark, sf_dir).select(
        "docid", F.encode("content", "utf-8").alias("data"))
    return byte_histogram(asset_table(docs, "docid", "data"), n_buckets=16)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "postings_tf": q_postings_tf,
        "docmap_doclen": q_docmap_doclen,
        "global_lexicon": q_global_lexicon,
        "collection_stats": q_collection_stats,
        "bm25_topk_disjunctive": q_bm25_disj,
        "bm25_topk_conjunctive": q_bm25_conj,
        "tfidf_topk_disjunctive": q_tfidf_disj,
        "bm25_topk_stemmed": q_bm25_stemmed,
        "bm25_topk_compressed_index": q_bm25_compressed_index,
        "bm25_topk_bmm_index": q_bm25_bmm_index,
        "bm25_topk_bmm_ranges7": q_bm25_bmm_ranges7,
        "bm25_topk_merged_segments": q_bm25_merged_segments,
        "bm25_topk_compacted_index": q_bm25_compacted_index,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_components": q_dedup_components,
        "sample_stratified_fraction": q_sample_fraction,
        "sample_stratified_cap": q_sample_cap,
        "text_contamination": q_text_contamination,
        "dedup_simhash_pairs": q_dedup_simhash,
        "sim_cosine_topk": q_sim_cosine_topk,
        "sim_lsh_ann_topk": q_sim_lsh_ann_topk,
        "sim_ivf_ann_topk": q_sim_ivf_ann_topk,
        "sim_embedding_near_dup": q_sim_embedding_near_dup,
        "text_token_counts": q_text_token_counts,
        "text_quality_scores": q_text_quality,
        "text_language_id": q_text_language_id,
        "text_doc_fingerprint": q_text_fingerprint,
        "events_windowed_agg": q_events_windowed,
        "events_sessionize": q_events_sessionize,
        "events_daily_json": q_events_daily_json,
        "mm_byte_histogram": q_mm_byte_histogram,
        "tpch_pricing_summary": q_tpch_pricing_summary,
        "tpch_top_unshipped": q_tpch_top_unshipped,
        "tpch_regional_revenue": q_tpch_regional_revenue,
        "eval_metrics": q_eval_metrics,
    }


def oracle_sql() -> dict[str, str]:
    from searchenginepp_spark import oracle_sql_pipeline as opipe

    topk_bm25 = osql.sql_topk("bm25", conjunctive=False)
    pipeline = {
        "dedup_exact": opipe.sql_dedup_exact(),
        "dedup_ngram_jaccard": opipe.sql_ngram_jaccard(
            n=3, threshold=JACCARD_T, max_shingle_df=JACCARD_MAX_SHINGLE_DF),
        "dedup_minhash_lsh": opipe.sql_minhash_lsh(n=3),
        "dedup_components": opipe.sql_dedup_components(n=3),
        "sample_stratified_fraction": opipe.sql_sample_fraction(
            SAMPLE_FRACTIONS, SAMPLE_DEFAULT_FRACTION),
        "sample_stratified_cap": opipe.sql_sample_cap(SAMPLE_CAP),
        "text_contamination": opipe.sql_contamination(
            n=3, min_shared=CONTAM_MIN_SHARED,
            bench_mod=CONTAM_BENCH_MOD, bench_rem=CONTAM_BENCH_REM),
        "dedup_simhash_pairs": opipe.sql_simhash_pairs(
            max_hamming=SIMHASH_MAX_HAMMING),
        "sim_cosine_topk": opipe.sql_cosine_topk(SIM_QUERY_IDS, k=SIM_K),
        "sim_lsh_ann_topk": opipe.sql_lsh_ann_topk(SIM_QUERY_IDS, EMB_DIMS,
                                                   k=SIM_K),
        "sim_ivf_ann_topk": opipe.sql_ivf_ann_topk(
            SIM_QUERY_IDS, k=SIM_K, n_centroids=IVF_CENTROIDS,
            n_probe=IVF_PROBE),
        "sim_embedding_near_dup": opipe.sql_embedding_near_dup(
            EMB_DIMS, threshold=NEAR_DUP_COS, n_bands=NEAR_DUP_BANDS,
            n_rows=NEAR_DUP_ROWS),
        "text_token_counts": opipe.sql_token_counts(),
        "text_quality_scores": opipe.sql_quality_scores(),
        "text_language_id": opipe.sql_language_id(),
        "text_doc_fingerprint": opipe.sql_doc_fingerprint(),
        "events_windowed_agg": opipe.sql_events_windowed(),
        "events_sessionize": opipe.sql_sessionize(),
        "events_daily_json": opipe.sql_daily_event_stats(),
        "mm_byte_histogram": opipe.sql_byte_histogram(16),
        "tpch_pricing_summary": opipe.sql_pricing_summary(TPCH_SHIP_CUTOFF),
        "tpch_top_unshipped": opipe.sql_top_unshipped_orders(
            TPCH_Q3_SEGMENT, TPCH_Q3_DATE, n=10),
        "tpch_regional_revenue": opipe.sql_regional_revenue(
            TPCH_Q5_REGION, TPCH_Q5_YEAR),
        "eval_metrics": osql.sql_eval_metrics(k=TOP_K,
                                              qrels_mod=EVAL_QRELS_MOD),
    }
    return pipeline | {
        "postings_tf": osql.sql_postings_tf(),
        "docmap_doclen": osql.sql_docmap_doclen(),
        "global_lexicon": osql.sql_global_lexicon(),
        "collection_stats": osql.sql_collection_stats(),
        "bm25_topk_disjunctive": topk_bm25,
        "bm25_topk_conjunctive": osql.sql_topk("bm25", conjunctive=True),
        "tfidf_topk_disjunctive": osql.sql_topk("tfidf", conjunctive=False),
        # stemmed: SQL-expressible via the (token -> stem) lookup fixture
        # materialized from the ctypes-validated Porter2
        # (scripts/gen_stem_map.py; data/stem_map.parquet)
        "bm25_topk_stemmed": osql.sql_topk("bm25", conjunctive=False,
                                           stemmed=True),
        "bm25_topk_compressed_index": topk_bm25,
        "bm25_topk_bmm_index": topk_bm25,
        "bm25_topk_bmm_ranges7": topk_bm25,
        # merged/compacted ≡ from-scratch (rank-identical by construction;
        # gated here against the same oracle for real)
        "bm25_topk_merged_segments": topk_bm25,
        "bm25_topk_compacted_index": topk_bm25,
    }
