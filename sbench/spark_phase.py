"""Spark phase of one benchmark run.

Writes the seeded corpus, builds the index, opens `Searcher`, and times the
exact (`Searcher.search`) and BMM (`search_bmm`) Spark paths.  It runs in a
process of its own so that the parent can check that the Spark JVM and the
Python worker daemon are gone before the serving phase starts.

Usage: python3 spark_phase.py CONFIG.json   (written by run.py)
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import workload
from spans import Ops, Tracer

OPENS = 3            # timed Searcher opens, after one warm-up open
POINT_WARM = 1       # point queries run before the timed closed loop
POINT_MIN = 6        # timed point queries, whatever --seconds says; the
                     # traced run counts the Spark jobs of exactly these
BATCH_ROUNDS = 2     # timed (exact, bmm) batch pairs
WARM_BATCH = 50      # queries per warm-up batch: plan shape, not size, warms
NORMALIZER_DOCS = 1_000
DECODE_ROWS = 10_000
INDEX_DIRS = ("index_shards", "docmap", "global_lexicon", "stats")


def spark_conf(work: str, nproc: int, heap_mb: int) -> dict:
    """bench.py's session shape, sized to the host: local[nproc], 3-4
    tasks per core, a heap that fits in a quarter of RAM.  Every file the
    JVM writes stays in the run's scratch directory."""
    return {
        "spark.master": f"local[{nproc}]",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.shuffle.partitions": str(max(nproc * 4, 8)),
        "spark.default.parallelism": str(nproc * 3),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "100000",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }


def start_spark(conf: dict):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("sbench")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes); the JVM stops the Python worker daemon on the way."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def settle(spark) -> None:
    """Start a timed region from a collected heap on both sides of py4j, so
    a collection left over from earlier work does not land inside it."""
    spark._jvm.System.gc()
    gc.collect()


def job_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks the scheduler ran under one job group.  A
    stage shared by several jobs counts once; skipped stages ran no tasks
    and do not count."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids = {s for j in jobs for s in st.getJobInfo(j).stageIds}
    stages = tasks = 0
    for sid in stage_ids:
        info = st.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def parquet_bytes(root: str) -> int:
    """On-disk bytes of an index: shards, docmap, lexicon and stats."""
    total = 0
    for sub in INDEX_DIRS:
        for dirpath, _, files in os.walk(os.path.join(root, sub)):
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in files if f.endswith(".parquet"))
    return total


def result_rows(rows) -> list:
    return sorted((int(r["qid"]), r["docno"], int(r["rank"]),
                   round(float(r["score"]), 6)) for r in rows)


def query_layers(spark, idx: str, batch, stats: dict) -> dict:
    """Cumulative no-op-sink runs of the exact path's layers over one batch:
    scan, then scan+decode, ... up to docno resolve (milliseconds each)."""
    from pyspark.sql import functions as F
    from searchenginepp_spark.operators.query import (
        decode_shards, query_terms_df, query_terms_local, resolve_docnos,
        score_postings, topk,
    )

    qt = query_terms_local(batch)
    terms = sorted({t for _, t in qt})
    qterms = query_terms_df(spark, qt)
    lexicon = spark.read.parquet(f"{idx}/global_lexicon").filter(
        F.col("term").isin(terms))
    scan = spark.read.parquet(f"{idx}/index_shards").filter(
        F.col("term").isin(terms))
    decoded = decode_shards(scan)
    scored = score_postings(decoded, lexicon, qterms, stats["n_docs"],
                            stats["avgdl"])
    top = topk(scored, qterms, lexicon)
    resolved = resolve_docnos(top, spark.read.parquet(f"{idx}/docmap"))
    out = {}
    for name, df in (("scan", scan), ("decode", decoded), ("score", scored),
                     ("topk", top), ("resolve", resolved)):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[f"query.{name}_ms"] = (time.perf_counter() - t0) * 1e3
    return out


def normalizer_docs_per_s(rows) -> float:
    from searchenginepp_spark.functions.normalizer import term_frequencies_fast

    docs = [r[4] for r in rows[:NORMALIZER_DOCS]]
    t0 = time.perf_counter()
    for text in docs:
        term_frequencies_fast(text)
    return len(docs) / (time.perf_counter() - t0)


def decode_postings_per_s(idx: str) -> float:
    """decode_posting_list over the built shards' blobs (an evenly strided
    subset of at most DECODE_ROWS shard rows)."""
    import pyarrow.dataset as pads
    from searchenginepp_spark.functions.codecs import decode_posting_list

    tbl = pads.dataset(f"{idx}/index_shards", format="parquet").to_table(
        columns=["docid_blob", "tf_blob", "df_shard"])
    step = max(1, tbl.num_rows // DECODE_ROWS)
    rows = list(zip(tbl.column("docid_blob").to_pylist()[::step],
                    tbl.column("tf_blob").to_pylist()[::step],
                    tbl.column("df_shard").to_pylist()[::step]))
    t0 = time.perf_counter()
    for docid_blob, tf_blob, df in rows:
        decode_posting_list(docid_blob, tf_blob, df)
    return sum(r[2] for r in rows) / (time.perf_counter() - t0)


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    wl, seed, scale = cfg["workload"], cfg["seed"], cfg["scale"]
    trace, work = cfg["trace"], cfg["work"]
    tracer = Tracer(cfg["run_id"], "spark.", trace, cfg["root_span"])
    ops = Ops(tracer)
    res: dict = {"e2e": {}, "layers": {}, "detail": {}}
    try:
        with tracer.span("phase.spark"):
            run(cfg, wl, seed, scale, trace, work, tracer, ops, res)
    except Exception:
        ops.errors.append(f"phase.spark: {traceback.format_exc()}")
        res["aborted"] = True
    res.update(attempted=ops.attempted, failed=ops.failed, errors=ops.errors,
               spans=tracer.spans)
    with open(cfg["out"], "w") as f:
        json.dump(res, f)
    return 1 if res.get("aborted") else 0


def run(cfg, wl, seed, scale, trace, work, tracer, ops, res) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    e2e, layers, detail = res["e2e"], res["layers"], res["detail"]
    conf = spark_conf(work, cfg["nproc"], cfg["heap_mb"])
    res["spark_conf"] = conf
    # The JVM starts while this thread writes the corpus; neither is timed.
    steps = detail.setdefault("steps", {})
    with tracer.step("step.session", steps), ThreadPoolExecutor(1) as pool:
        starting = pool.submit(start_spark, conf)
        with tracer.span("workload.corpus"):
            rows = workload.corpus_rows(wl, seed, scale)
            cols = list(zip(*rows))
            table = pa.table({name: list(col) for name, col in zip(
                ("repo", "path", "commit", "lang", "content"), cols)})
            corpus_path = os.path.join(work, "corpus.parquet")
            pq.write_table(table, corpus_path)
            content_bytes = sum(len(c.encode()) for c in cols[4])
        spark = starting.result()
    detail["n_docs"] = len(rows)
    sc = spark.sparkContext
    res["java"] = spark._jvm.System.getProperty("java.version")
    try:
        spark_work(spark, sc, cfg, wl, seed, scale, trace, work, tracer, ops,
                   corpus_path, content_bytes, e2e, layers, detail)
    finally:
        with tracer.step("step.stop", steps):
            stop_spark(spark)
    if trace:
        with tracer.span("functions.normalizer.term_frequencies_fast"):
            layers["normalizer.docs_per_s"] = normalizer_docs_per_s(rows)
        with tracer.span("functions.codecs.decode_posting_list"):
            layers["codecs.decode_postings_per_s"] = decode_postings_per_s(
                os.path.join(work, "idx"))


def spark_work(spark, sc, cfg, wl, seed, scale, trace, work, tracer, ops,
               corpus_path, content_bytes, e2e, layers, detail) -> None:
    import pyarrow.parquet as pq
    from searchenginepp_spark.operators.bmm import search_bmm
    from searchenginepp_spark.operators.index_build import (
        IndexPaths, build_index, index_size_report,
    )
    from searchenginepp_spark.operators.query import Searcher

    seconds = cfg["seconds"]
    steps = detail.setdefault("steps", {})
    idx, idx_timed = os.path.join(work, "idx"), os.path.join(work, "idx_timed")
    corpus = spark.read.parquet(corpus_path)
    n_docs = detail["n_docs"]

    # The first build in a fresh JVM pays class loading, JIT warm-up and
    # Python worker start-up; its index serves the queries.  The second
    # build is the timed one.
    with tracer.step("step.warm_build", steps):
        ops.run("index_build.build_index",
                lambda: build_index(spark, corpus, idx), required=True)
    with tracer.step("step.timed_build", steps):
        settle(spark)
        timings: dict = {}
        if trace:
            sc.setJobGroup("build", "timed build")
        _, dt = ops.run("index_build.build_index", lambda: build_index(
            spark, corpus, idx_timed, timings=timings), required=True)
    e2e["build_docs_per_s"] = n_docs / dt
    e2e["index_bytes_per_input_byte"] = parquet_bytes(idx_timed) / content_bytes
    if trace:
        c = job_counts(sc, "build")
        for phase in ("docids", "docmap", "sample", "encode", "lexicon"):
            layers[f"index_build.{phase}_s"] = timings[phase]
        for k in ("jobs", "stages", "tasks"):
            layers[f"index_build.spark_{k}"] = c[k]
        with tracer.span("index_build.index_size_report"):
            rep = index_size_report(spark, IndexPaths(idx_timed))
        layers.update({
            "index_build.shard_rows": rep["n_shard_rows"],
            "index_build.docid_bytes_per_posting": rep["bytes_per_posting_docid"],
            "index_build.tf_bits_per_posting": rep["bits_per_posting_tf"],
            "index_build.shards_bytes": rep["disk_shards_bytes"],
            "index_build.docmap_bytes": rep["disk_docmap_bytes"],
            "index_build.lexicon_bytes": rep["disk_lexicon_bytes"],
        })

    with tracer.step("step.opens", steps):
        opens = []
        for i in range(OPENS + 1):
            searcher, dt = ops.run("operators.query.Searcher",
                                   lambda: Searcher(spark, idx), required=True)
            if i:
                opens.append(dt)
    detail["searcher_open_s"] = statistics.median(opens)
    if trace:
        layers["query.open_ms"] = detail["searcher_open_s"] * 1e3

    batch = workload.batch_queries(wl, seed, scale)
    points = workload.queries(wl, seed, "point", 500, scale)

    def exact(qs):
        return searcher.search(qs).collect()

    def bmm(qs):
        return search_bmm(spark, idx, qs).collect()

    # Warm-up: the Spark query paths' JIT and codegen settle over the first
    # few dozen calls; none of these are timed.
    with tracer.step("step.query_warmup", steps):
        warm = batch[:WARM_BATCH]
        ops.run("operators.query.Searcher.search", lambda: exact(warm))
        ops.run("operators.bmm.search_bmm", lambda: bmm(warm))
        for q in points[:POINT_WARM]:
            ops.run("operators.query.Searcher.search", lambda: exact([q]))

    # The point loop and the batch rounds alternate, so each metric's
    # samples spread over the whole query phase rather than one stretch of
    # it (host speed can drift in phases of seconds).
    lat, per_query, ex_t, bmm_t, gate = [], [], [], [], {}
    i = POINT_WARM

    def point_loop(n_min: int, secs: float) -> None:
        nonlocal i
        settle(spark)
        n0, t_end = len(lat), time.perf_counter() + secs
        while len(lat) - n0 < n_min or time.perf_counter() < t_end:
            q = points[i % len(points)]
            i += 1
            counted = trace and len(lat) < POINT_MIN
            if counted:
                sc.setJobGroup(f"point{len(lat)}", "point query")
            out, dt = ops.run("operators.query.Searcher.search",
                              lambda: exact([q]))
            if out is not None:
                lat.append(dt * 1e3)
            if counted:
                per_query.append(job_counts(sc, f"point{len(lat) - 1}"))

    def batch_round(r: int) -> None:
        settle(spark)
        if trace:
            sc.setJobGroup(f"exact{r}", "exact batch")
        out, dt = ops.run("operators.query.Searcher.search",
                          lambda: exact(batch))
        if out is not None:
            ex_t.append(dt)
            gate.setdefault("exact", result_rows(out))
        if trace:
            sc.setJobGroup(f"bmm{r}", "bmm batch")
        out, dt = ops.run("operators.bmm.search_bmm", lambda: bmm(batch))
        if out is not None:
            bmm_t.append(dt)
            gate.setdefault("bmm", result_rows(out))

    for r in range(BATCH_ROUNDS):
        with tracer.step("step.point_loop", steps):
            point_loop(-(-POINT_MIN // BATCH_ROUNDS), seconds / BATCH_ROUNDS)
        with tracer.step("step.batches", steps):
            batch_round(r)
    e2e["spark_query_p50_ms"] = statistics.median(lat)
    detail["spark_query_ms"] = lat
    # best of the rounds, for the reason given in serve_phase.SEGMENTS
    e2e["spark_batch_queries_per_s"] = len(batch) / min(ex_t)
    e2e["bmm_batch_queries_per_s"] = len(batch) / min(bmm_t)
    detail["gate"] = gate
    detail["batch_s"] = {"exact": ex_t, "bmm": bmm_t}

    if trace:
        for k in ("jobs", "stages", "tasks"):
            layers[f"query.spark_{k}_per_query"] = (
                sum(c[k] for c in per_query) / len(per_query))
        layers["query.spark_tasks_per_batch"] = job_counts(sc, "exact0")["tasks"]
        c = job_counts(sc, "bmm0")
        layers["bmm.spark_jobs_per_batch"] = c["jobs"]
        layers["bmm.spark_tasks_per_batch"] = c["tasks"]
        stats = pq.read_table(f"{idx}/stats").to_pylist()[0]
        stats["avgdl"] = stats["sum_doclen"] / stats["n_docs"]
        with tracer.span("operators.query.layers"):
            layers.update(query_layers(spark, idx, batch, stats))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
