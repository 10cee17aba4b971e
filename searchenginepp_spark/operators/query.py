"""Query-side operators — exact top-k BM25/TF-IDF (the semantic oracle path)
expressed as declarative DataFrame ops so Catalyst plans the joins.

Reference semantics replicated (file:line):
  query normalize + set-dedup      src/engine.cpp:88-96 (repeated terms score once)
  missing-term handling            src/index/Index.template.hpp:53-89
                                   (disjunctive: drop term; conjunctive:
                                    whole query returns empty, :65-73)
  idf = log2(N/df), GLOBAL df      src/index/Index.template.hpp:167-180
  BM25 (k1=0.82, b=0.68)           src/index/query_scorer.cpp:102-126
  TFIDF (1+log2(tf))*idf           src/index/query_scorer.cpp:47-57
  DAAT OR-merge → per-doc Σ score  src/index/Index.template.hpp:98-165
                                   (here: join + groupBy(qid,docid) — the
                                    shuffle IS the multiway cursor merge)
  AND-merge                        src/index/Index.template.hpp:117-121
                                   (HAVING n_matched == n_query_terms)
  top-k + merge                    src/index/Index.hpp:60-77, engine.cpp:119-126
                                   (window row_number ≤ k; reference sorts by
                                    score only — we canonicalize ties with
                                    (score desc, docid asc))

The plan shape: broadcast(query terms ⋈ lexicon) ⋈ postings → WSCG scoring
arithmetic → one groupBy(qid, docid) shuffle → per-qid top-k window.
At 100 TB the postings side is the compressed shard table restricted by a
pushed-down `term IN (...)` predicate (term-sorted parquet → row-group
pruning), decoded by a vectorized UDF; see bmm.py for the pruned fast path.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from searchenginepp_spark.config import BM25_B, BM25_K1, DEFAULT_TOP_K
from searchenginepp_spark.frames import _local_df
from searchenginepp_spark.operators.index_reader import IndexReader


def queries_df(spark: SparkSession, queries: Iterable[tuple[int, str]]) -> DataFrame:
    return _local_df(spark, list(queries), "qid long, text string")


def normalize_queries(qdf: DataFrame, stem: bool = True) -> DataFrame:
    """(qid, text) → (qid, term) with set-dedup (engine.cpp:88-96)."""
    from searchenginepp_spark.operators.index_build import tf_map_udf

    return (
        qdf.withColumn("tf_map", tf_map_udf(stem)(F.col("text")))
        .select("qid", F.explode(F.map_keys("tf_map")).alias("term"))
        .distinct()
    )


def query_terms_local(queries: Iterable[tuple[int, str]],
                      stem: bool = True) -> list[tuple[int, str]]:
    """Driver-side query normalization — queries are a tiny batch, so
    tokenizing them locally (same kernel, same semantics as the reference's
    in-process normalize, engine.cpp:88-96) skips a Spark job + Python
    worker round-trip per search call.  Returns deduped (qid, term) rows."""
    from searchenginepp_spark.functions.normalizer import tokenize
    from searchenginepp_spark.functions.porter2 import MemoStemmer

    st = MemoStemmer()
    out: list[tuple[int, str]] = []
    for qid, text in queries:
        for term in sorted(set(tokenize(text, st, stem))):
            out.append((int(qid), term))
    return out


def query_terms_df(spark: SparkSession, qterms: list[tuple[int, str]]) -> DataFrame:
    return _local_df(spark, qterms, "qid long, term string")


def lexicon_df(spark: SparkSession, df_by_term: dict[str, int]) -> DataFrame:
    """A lexicon slice (`IndexReader.df`) as a tiny (term, df) frame."""
    return _local_df(spark, sorted(df_by_term.items()), "term string, df long")


def _score_col(scorer: str, avgdl: float):
    tf = F.col("tf").cast("double")
    idf = F.col("idf")
    if scorer == "bm25":
        dl = F.col("doclen").cast("double")
        return (tf / (F.lit(BM25_K1) * (F.lit(1.0 - BM25_B)
                                        + F.lit(BM25_B) * dl / F.lit(avgdl)) + tf)) * idf
    if scorer == "tfidf":
        return (F.lit(1.0) + F.log2(tf)) * idf
    raise ValueError(f"unknown scorer: {scorer}")


def score_postings(postings: DataFrame, lexicon: DataFrame, qterms: DataFrame,
                   n_docs: int, avgdl: float, scorer: str = "bm25") -> DataFrame:
    """(qid, docid, partial score per matched term).

    postings: (term, docid, tf, doclen) relational form, or any DataFrame
    with those columns (the shard decoder produces the same shape).
    """
    # broadcast the qterms side: both sides of this join can be statless
    # local frames (the Searcher's driver-side lexicon slice), which
    # otherwise plans as a SortMergeJoin with two shuffles of ~|terms| rows;
    # qterms is tiny by construction at any scale, lexicon may not be
    matched = (
        F.broadcast(qterms).join(lexicon, "term", "inner")  # missing terms drop
        .withColumn("idf", F.log2(F.lit(float(n_docs)) / F.col("df")))
    )
    return (
        postings.join(F.broadcast(matched), "term")
        .withColumn("partial", _score_col(scorer, avgdl))
        .select("qid", "term", "docid", "doclen", "partial")
    )


def topk(scored: DataFrame, qterms: DataFrame, lexicon: DataFrame,
         k: int = DEFAULT_TOP_K, conjunctive: bool = False,
         round_to: int | None = 6) -> DataFrame:
    """Aggregate per-doc scores and take canonical top-k per query.

    round_to: scores are rounded before ranking so that independent engines
    (Spark vs DuckDB oracle) rank identically despite last-ulp float
    differences; exact ties then break by docid asc.
    """
    # One exchange instead of two (guide §2.4): hash(qid) satisfies the
    # aggregation's ClusteredDistribution(qid, docid) — all rows of one
    # (qid, docid) share a qid — AND the window's PartitionBy(qid), so the
    # explicit repartition is reused by both and Catalyst inserts no
    # further exchange.  The per-qid funnel is unchanged: the window always
    # received every (qid, docid) row of a query in one task anyway.
    agg = scored.repartition("qid").groupBy("qid", "docid").agg(
        F.sum("partial").alias("score_raw"),
        F.count("*").alias("n_matched"),
    )
    if conjunctive:
        # reference: if ANY query term is missing from the lexicon the whole
        # query yields nothing (Index.template.hpp:65-73); otherwise a doc
        # must contain every query term.
        n_terms = qterms.groupBy("qid").agg(F.count("*").alias("n_terms"))
        n_found = (
            F.broadcast(qterms).join(lexicon, "term", "inner")
            .groupBy("qid").agg(F.count("*").alias("n_found"))
        )
        cond = n_terms.join(n_found, "qid", "left").filter(
            F.col("n_found") == F.col("n_terms")
        ).select("qid", "n_terms")
        agg = agg.join(F.broadcast(cond), "qid").filter(
            F.col("n_matched") == F.col("n_terms")
        )
    score = (F.round(F.col("score_raw"), round_to) if round_to is not None
             else F.col("score_raw"))
    agg = agg.withColumn("score", score)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "docid", "rank", "score")
    )


def resolve_docnos(results: DataFrame, docmap: DataFrame) -> DataFrame:
    """docid → docno for the final k rows only (reference convert_results,
    Index.hpp:85-106). The results side is tiny → broadcast it."""
    return (
        docmap.join(F.broadcast(results), "docid")
        .select("qid", "docid", "docno", "rank", "score")
    )


def trec_output(results: DataFrame, run_name: str = "spark") -> DataFrame:
    """qid Q0 docno rank score run (engine.cpp:132-135)."""
    return results.select(
        F.format_string("%d Q0 %s %d %.6f %s",
                        F.col("qid"), F.col("docno"), F.col("rank"),
                        F.col("score"), F.lit(run_name)).alias("line")
    )


def decode_shards(shards: DataFrame) -> DataFrame:
    """Compressed index shards → relational postings (term, docid, tf,
    doclen), vectorized decode in mapInPandas. Feed the result to
    score_postings for the exact path over the persisted index.

    A `docid_base` column (written by index_merge segment rebasing) offsets
    the delta-decoded docids; plain builds have none (base 0)."""
    from searchenginepp_spark.functions.codecs import (
        decode_posting_list, varbyte_decode,
    )

    schema = StructType([
        StructField("term", StringType()),
        StructField("docid", LongType()),
        StructField("tf", LongType()),
        StructField("doclen", LongType()),
    ])
    if "docid_base" not in shards.columns:
        shards = shards.withColumn("docid_base", F.lit(0).cast("long"))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms, docids, tfs, doclens = [], [], [], []
            for row in pdf.itertuples(index=False):
                df_shard = int(row.df_shard)
                d, t = decode_posting_list(row.docid_blob, row.tf_blob, df_shard)
                dl = varbyte_decode(row.doclen_blob, count=df_shard)
                terms.append(np.repeat(np.array([row.term], dtype=object), df_shard))
                docids.append(d.astype(np.int64) + int(row.docid_base))
                tfs.append(t.astype(np.int64))
                doclens.append(dl.astype(np.int64))
            if not terms:
                yield pd.DataFrame({"term": [], "docid": [], "tf": [], "doclen": []})
                continue
            yield pd.DataFrame({
                "term": np.concatenate(terms),
                "docid": np.concatenate(docids),
                "tf": np.concatenate(tfs),
                "doclen": np.concatenate(doclens),
            })

    return shards.select(
        "term", "df_shard", "docid_blob", "tf_blob", "doclen_blob",
        "docid_base"
    ).mapInPandas(decode, schema=schema)


def search_corpus(spark: SparkSession, docs: DataFrame,
                  queries: Iterable[tuple[int, str]], k: int = DEFAULT_TOP_K,
                  scorer: str = "bm25", conjunctive: bool = False,
                  stem: bool = True, round_to: int | None = 6) -> DataFrame:
    """One-shot search over a corpus DataFrame with columns (docid, content)
    — the flagship relational plan, end-to-end Catalyst except the tokenizer
    UDF. Used by the driver contract and the DuckDB-oracle checks.

    The corpus is tokenized exactly ONCE: the exploded postings are
    persisted and serve stats (sum_doclen = Σtf), the lexicon agg, and the
    scoring join; without the persist Catalyst would recompute the tokenizer
    UDF for each consumer (~3x the dominant cost).  n_docs comes from a
    plain count (zero-token docs must still count toward N/avgdl).  The
    result is materialized eagerly so the persist can be released
    deterministically — it is a k·|queries|-row top-k, small by contract.
    """
    from searchenginepp_spark.operators.index_build import (
        build_global_lexicon, explode_postings,
    )

    n_docs = docs.count()
    postings = explode_postings(docs, stem=stem).persist()
    try:
        s = postings.agg(F.sum("tf").alias("s")).collect()[0]["s"]
        avgdl = ((s or 0) / n_docs) if n_docs else 0.0
        lexicon = build_global_lexicon(postings)
        qterms = query_terms_df(spark, query_terms_local(queries, stem=stem))
        scored = score_postings(postings, lexicon, qterms, n_docs, avgdl,
                                scorer)
        result = topk(scored, qterms, lexicon, k=k, conjunctive=conjunctive,
                      round_to=round_to)
        rows = result.collect()
    finally:
        postings.unpersist()
    return _local_df(spark, [tuple(r) for r in rows],
                     "qid long, docid long, rank long, score double")


def search(spark: SparkSession, index_root: str,
           queries: Iterable[tuple[int, str]], k: int = DEFAULT_TOP_K,
           scorer: str = "bm25", conjunctive: bool = False,
           stem: bool = True) -> DataFrame:
    """End-to-end search over a persisted index (exact path).

    The term predicate is pushed into the parquet scan of the term-sorted
    shard table before any decode happens.
    """
    return Searcher(spark, index_root, stem=stem).search(
        queries, k=k, scorer=scorer, conjunctive=conjunctive)


class Searcher:
    """Reusable query engine over a persisted index.  Its `IndexReader`
    reads collection stats once at construction (the analogue of the
    reference engine's startup read of metadata/lexicon, engine.cpp:30-59)
    and the |query terms| lexicon rows per call, driver-side — so repeated
    searches pay only the scoring job itself."""

    def __init__(self, spark: SparkSession, index_root: str, stem: bool = True):
        self.spark = spark
        self.reader = IndexReader(index_root, spark)
        self.stem = stem

    def search(self, queries: Iterable[tuple[int, str]],
               k: int = DEFAULT_TOP_K, scorer: str = "bm25",
               conjunctive: bool = False) -> DataFrame:
        qt = query_terms_local(queries, stem=self.stem)
        qterms = query_terms_df(self.spark, qt)
        terms = sorted({t for _, t in qt})
        if not terms:
            return self.spark.createDataFrame(
                [], schema="qid long, docid long, docno string, rank long, "
                           "score double")
        shards = self.reader.shards.filter(F.col("term").isin(terms))
        postings = decode_shards(shards)
        lexicon = lexicon_df(self.spark, self.reader.df(terms))
        scored = score_postings(postings, lexicon, qterms, self.reader.n_docs,
                                self.reader.avgdl, scorer)
        results = topk(scored, qterms, lexicon, k=k,
                       conjunctive=conjunctive)
        return resolve_docnos(results, self.reader.docmap)

    def search_bmm(self, queries: Iterable[tuple[int, str]],
                   k: int = DEFAULT_TOP_K, scorer: str = "bm25",
                   n_ranges: int | None = None) -> DataFrame:
        """Block-Max MaxScore fast path (disjunctive) over this index."""
        from searchenginepp_spark.operators.bmm import search_bmm

        return search_bmm(self.spark, self.reader, queries, k=k,
                          scorer=scorer, stem=self.stem, n_ranges=n_ranges)
