"""Index segment merge — combine K independently-built indexes over
disjoint corpora into one queryable index, Lucene-segment style.

The reference builds doc-partitioned chunk indexes (db_0..4) and merges
only their LEXICONS (k-way merge, /root/reference/src/builder.cpp:127-170),
leaving posting lists physically separate per chunk.  This operator is the
same design taken to its Spark conclusion: each source index's shard rows
become independent sub-lists of the merged index (exactly the shape salted
head terms already have — queries merge multi-row terms natively), so a
merge is

  * docid REBASE, metadata-only: blobs store delta-GAPS, so shifting every
    docid of segment i by base_i touches ONLY the skip entries'
    prev_docid/last_docid and the row's first/last_docid — zero blob bytes
    are read or written.  (The reference's absolute-docid varbyte streams
    would force re-encoding every blob; this is the delta-gap mandate
    paying off structurally, not just in bytes/posting.)
  * one union + write of the rebased shard tables (blobs pass through);
  * docmaps unioned with the same rebased docids;
  * lexicons summed per term; stats summed.

Cost: O(total shard METADATA + docmap) — independent of posting count
except for streaming the blob bytes through the union write.  No shuffle
of blobs by key, no decode, no re-encode.

Scores after merge equal a from-scratch build over the concatenated corpus
(BM25/TFIDF depend on docids only through global df/N/avgdl, which are
summed exactly); ranking can differ from a from-scratch build only on
EXACT rounded-score ties, because docid order (the tie-break) reflects
segment concatenation rather than the global (repo,path,commit) sort.

Repeatedly merged indexes accumulate sub-list rows per term (K segments →
≤K rows per unsalted term).  Query paths handle any row count, but for
read amplification run the normal build over the union when fragmentation
matters — a compaction, in LSM terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchenginepp_spark.frames import _local_df
from searchenginepp_spark.operators.index_build import IndexPaths

# per-segment shard-id offset keeps (term, shard) unique across segments
_SEG_SHARD_BASE = 1 << 32


def _rebase_shards(shards: DataFrame, base: int, seg: int) -> DataFrame:
    d = F.lit(int(base)).cast("long")
    prior = (F.col("docid_base") if "docid_base" in shards.columns
             else F.lit(0).cast("long"))     # merging already-merged segments
    return (
        shards.withColumn("docid_base", prior + d)
        .withColumn("first_docid", F.col("first_docid") + d)
        .withColumn("last_docid", F.col("last_docid") + d)
        .withColumn("shard", F.col("shard") + F.lit(seg * _SEG_SHARD_BASE))
        .withColumn(
            "skips",
            F.transform(
                "skips",
                lambda s: F.struct(
                    (s["last_docid"] + d).alias("last_docid"),
                    # block 0 stores prev_docid=0; rebasing it to `base`
                    # makes cumsum(gaps) + prev_docid decode the shifted
                    # docids with the ORIGINAL blob bytes
                    (s["prev_docid"] + d).alias("prev_docid"),
                    s["n_postings"].alias("n_postings"),
                    s["docid_off"].alias("docid_off"),
                    s["tf_bit_off"].alias("tf_bit_off"),
                    s["doclen_off"].alias("doclen_off"),
                    s["bm25_part_ub"].alias("bm25_part_ub"),
                    s["tfidf_part_ub"].alias("tfidf_part_ub"),
                ),
            ),
        )
    )


def compact_index(spark: SparkSession, root: str | IndexPaths,
                  out: str | IndexPaths, **build_kwargs) -> IndexPaths:
    """Rewrite a (typically merged, fragmented) index into freshly encoded
    shards — the LSM 'compaction' complement of merge_indexes.  Decodes the
    shard table back to relational postings (docid_base-aware) and re-runs
    the normal salted shuffle + streaming encoder, so K accumulated
    sub-list rows per term collapse to ceil(df/salt_target) again.  The
    docmap and stats are copied unchanged (docids are already global)."""
    from searchenginepp_spark.operators.index_build import build_index_shards
    from searchenginepp_spark.operators.query import decode_shards

    src = root if isinstance(root, IndexPaths) else IndexPaths(root)
    paths = out if isinstance(out, IndexPaths) else IndexPaths(out)
    stats = spark.read.parquet(src.stats).collect()[0]
    n_docs = int(stats["n_docs"])
    avgdl = (stats["sum_doclen"] / n_docs) if n_docs else 0.0
    postings = decode_shards(spark.read.parquet(src.shards))
    shards = build_index_shards(postings, float(avgdl), **build_kwargs)
    shards.write.mode("overwrite").parquet(paths.shards)
    spark.read.parquet(src.docmap).write.mode("overwrite").parquet(paths.docmap)
    spark.read.parquet(src.stats).write.mode("overwrite").parquet(paths.stats)
    (spark.read.parquet(paths.shards)
     .groupBy("term").agg(F.sum("df_shard").alias("df"))
     .write.mode("overwrite").parquet(paths.lexicon))
    return paths


def merge_indexes(spark: SparkSession, roots: list[str],
                  out: str | IndexPaths, rebase: bool = True) -> IndexPaths:
    """Merge K persisted indexes (disjoint corpora) into one at `out`.

    rebase=True: segment i's docids shift by Σ_{j<i} max_docid_j (docmap
    max, so non-dense docid spaces merge correctly).  rebase=False: the
    segments already share one global docid space (e.g. incremental delta
    segments built from the same staged sequence) — docids pass through
    unchanged (caller guarantees disjointness)."""
    if len(roots) < 2:
        raise ValueError("merge_indexes needs at least two source indexes")
    paths = out if isinstance(out, IndexPaths) else IndexPaths(out)
    srcs = [p if isinstance(p, IndexPaths) else IndexPaths(p) for p in roots]

    bases: list[int] = []
    acc = 0
    stats_rows = []
    for s in srcs:
        bases.append(acc if rebase else 0)
        if rebase:
            row = spark.read.parquet(s.docmap).agg(
                F.coalesce(F.max("docid"), F.lit(0)).alias("m")).collect()[0]
            acc += int(row["m"])
        stats_rows.append(spark.read.parquet(s.stats).collect()[0])

    docmap = None
    shards = None
    for i, (s, base) in enumerate(zip(srcs, bases)):
        dm = spark.read.parquet(s.docmap).withColumn(
            "docid", F.col("docid") + F.lit(base).cast("long"))
        sh = _rebase_shards(spark.read.parquet(s.shards), base, i)
        # Segments built before the avgdl_encode schema addition carry no
        # record of the avgdl their BM25 σ/block bounds were computed under —
        # and _ListCursor skips the bound scaling when it is null, which is
        # UNSOUND once the merged collection avgdl exceeds the segment's
        # (ADVICE round 2).  A direct build/finalize encodes under its own
        # collection avgdl, which IS the segment's stats avgdl — so backfill
        # exactly that value here (per segment, before the union).  Corner:
        # a PRE-SCHEMA segment that was itself a merge would need its
        # sub-segments' encode avgdls (unknowable); no such segment can
        # exist from this codebase — merge_indexes has always written
        # avgdl_encode (backfilled here) since the column was introduced.
        n_i = int(stats_rows[i]["n_docs"])
        avgdl_i = (int(stats_rows[i]["sum_doclen"] or 0) / n_i) if n_i else 0.0
        if "avgdl_encode" not in sh.columns:
            sh = sh.withColumn("avgdl_encode", F.lit(float(avgdl_i)))
        else:
            sh = sh.withColumn(
                "avgdl_encode",
                F.coalesce(F.col("avgdl_encode"), F.lit(float(avgdl_i))))
        docmap = dm if docmap is None else docmap.unionByName(dm)
        shards = (sh if shards is None
                  else shards.unionByName(sh, allowMissingColumns=True))

    docmap.write.mode("overwrite").parquet(paths.docmap)
    shards.write.mode("overwrite").parquet(paths.shards)
    (_local_df(spark,
               [(sum(int(r["n_docs"]) for r in stats_rows),
                 sum(int(r["sum_doclen"] or 0) for r in stats_rows))],
               "n_docs long, sum_doclen long")
     .write.mode("overwrite").parquet(paths.stats))
    lex = None
    for s in srcs:
        one = spark.read.parquet(s.lexicon)
        lex = one if lex is None else lex.unionByName(one)
    (lex.groupBy("term").agg(F.sum("df").alias("df"))
     .write.mode("overwrite").parquet(paths.lexicon))
    return paths
