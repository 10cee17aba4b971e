#!/usr/bin/env python
"""Round-6 optimization instrumentation — NOT the driver bench (bench.py is
frozen).  Reproduces bench.py's headline Spark config exactly, then times
individual phases / queries with noop sinks (guide §1.4) and captures
explain("formatted") plans for plans/r06/.

Usage:
  python bench_extra.py build [workdir]      build 100k index, phase timings
  python bench_extra.py queries <workdir>    per-query + decomposition timings
  python bench_extra.py explain <workdir>    write plans/r06/*_{before,after}.txt
  python bench_extra.py all [workdir]

Env: SPARK_GRAFT_CPUS (default 32 — the driver's headline config),
SPARK_GRAFT_BENCH_DOCS (default 100000), SPARK_GRAFT_EXTRA_TAG (suffix for
plan files: "before"/"after").
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "100000"))
TAG = os.environ.get("SPARK_GRAFT_EXTRA_TAG", "before")

BENCH_QUERIES = [
    (1, "sym1 sym2 fn_3"),
    (2, "int return"),
    (3, "twinkle wonder world"),
    (4, "sym10 sym20 sym30 sym40"),
    (5, "fn_100 static const"),
]


def make_spark(cores: int = CPUS):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"sepp-bench-extra-{cores}")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.shuffle.partitions", str(max(cores * 4, 8)))
        .config("spark.default.parallelism", str(cores * 3))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .getOrCreate()
    )


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn, out: dict):
    t0 = time.perf_counter()
    r = fn()
    out[label] = round(time.perf_counter() - t0, 3)
    return r


def do_build(workdir: str) -> dict:
    from searchenginepp_spark.operators.index_build import build_index
    from searchenginepp_spark.sources.corpus import synthesize_corpus_distributed

    spark = make_spark()
    spark.sparkContext.setLogLevel("ERROR")
    res: dict = {}
    src = f"{workdir}/corpus_parquet"
    if not os.path.exists(src):
        corpus = synthesize_corpus_distributed(
            spark, N_DOCS, num_partitions=CPUS * 3)
        corpus.write.mode("overwrite").parquet(src)
    corpus = spark.read.parquet(src)
    phases: dict = {}
    t0 = time.perf_counter()
    build_index(spark, corpus, f"{workdir}/index", timings=phases)
    res["build_s"] = round(time.perf_counter() - t0, 3)
    res["phases"] = phases
    spark.stop()
    return res


def do_queries(workdir: str) -> dict:
    from searchenginepp_spark.operators.bmm import search_bmm
    from searchenginepp_spark.operators.local_engine import LocalSearcher
    from searchenginepp_spark.operators.query import Searcher

    spark = make_spark()
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}
    idx = f"{workdir}/index"
    timed("searcher_init", lambda: Searcher(spark, idx), out)
    searcher = Searcher(spark, idx)
    sc = spark.sparkContext
    for qid, text in BENCH_QUERIES:
        sc.setJobDescription(f"exact q{qid}")
        timed(f"q{qid}", lambda: searcher.search([(qid, text)], k=10).collect(),
              out)
    # repeat to split warm-up from steady-state
    for qid, text in BENCH_QUERIES:
        sc.setJobDescription(f"exact q{qid} (2nd)")
        timed(f"q{qid}_2nd",
              lambda: searcher.search([(qid, text)], k=10).collect(), out)
    sc.setJobDescription("batch exact")
    timed("batch_exact", lambda: searcher.search(BENCH_QUERIES, k=10).collect(),
          out)
    sc.setJobDescription("batch bmm")
    timed("batch_bmm",
          lambda: search_bmm(spark, idx, BENCH_QUERIES, k=10).collect(), out)
    sc.setJobDescription("batch bmm 2level")
    timed("batch_bmm_2level",
          lambda: search_bmm(spark, idx, BENCH_QUERIES, k=10,
                             n_ranges=4).collect(), out)

    # decomposition of one exact query (q4, the slowest in BENCH_r05):
    from pyspark.sql import functions as F

    from searchenginepp_spark.operators.query import (
        decode_shards, lexicon_df, query_terms_df, query_terms_local,
        resolve_docnos, score_postings, topk,
    )

    reader = searcher.reader
    qs = [BENCH_QUERIES[3]]
    qt = query_terms_local(qs, stem=True)
    terms = sorted({t for _, t in qt})
    sc.setJobDescription("decomp: shards scan only")
    timed("d_scan", lambda: noop(reader.shards.filter(
        F.col("term").isin(terms))), out)
    sc.setJobDescription("decomp: + decode")
    timed("d_decode", lambda: noop(decode_shards(
        reader.shards.filter(F.col("term").isin(terms)))), out)
    qterms = query_terms_df(spark, qt)
    lexicon = lexicon_df(spark, reader.df(terms))
    scored = score_postings(
        decode_shards(reader.shards.filter(F.col("term").isin(terms))),
        lexicon, qterms, reader.n_docs, reader.avgdl, "bm25")
    sc.setJobDescription("decomp: + score")
    timed("d_score", lambda: noop(scored), out)
    res = topk(scored, qterms, lexicon, k=10)
    sc.setJobDescription("decomp: + topk")
    timed("d_topk", lambda: noop(res), out)
    sc.setJobDescription("decomp: + docnos")
    timed("d_full", lambda: noop(
        resolve_docnos(res, reader.docmap)), out)

    ls = LocalSearcher(idx)
    t0 = time.perf_counter()
    for q in BENCH_QUERIES:
        ls.search([q], k=10)
    out["local_cold_avg_ms"] = round(
        (time.perf_counter() - t0) / len(BENCH_QUERIES) * 1000, 2)
    t0 = time.perf_counter()
    for _ in range(20):
        for q in BENCH_QUERIES:
            ls.search([q], k=10)
    out["local_warm_avg_ms"] = round(
        (time.perf_counter() - t0) / (20 * len(BENCH_QUERIES)) * 1000, 2)
    spark.stop()
    return out


def do_explain(workdir: str) -> None:
    from searchenginepp_spark.operators.bmm import search_bmm
    from searchenginepp_spark.operators.query import Searcher

    spark = make_spark()
    spark.sparkContext.setLogLevel("ERROR")
    idx = f"{workdir}/index"
    searcher = Searcher(spark, idx)
    os.makedirs("plans/r06", exist_ok=True)

    def cap(name, df):
        with open(f"plans/r06/{name}_{TAG}.txt", "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))

    cap("exact_search_q4", searcher.search([BENCH_QUERIES[3]], k=10))
    cap("exact_search_batch", searcher.search(BENCH_QUERIES, k=10))
    cap("bmm_batch", search_bmm(spark, idx, BENCH_QUERIES, k=10))
    cap("bmm_2level", search_bmm(spark, idx, BENCH_QUERIES, k=10, n_ranges=4))
    spark.stop()


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "all"
    workdir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(
        prefix="sepp_extra_")
    print(f"workdir: {workdir}", file=sys.stderr)
    out: dict = {"workdir": workdir, "cpus": CPUS, "n_docs": N_DOCS}
    if cmd in ("build", "all"):
        out["build"] = do_build(workdir)
    if cmd in ("queries", "all"):
        out["queries"] = do_queries(workdir)
    if cmd in ("explain", "all"):
        do_explain(workdir)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
