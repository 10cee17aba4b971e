"""Index construction — the Spark-first re-expression of the reference
builder pipeline (/root/reference/src/builder.cpp:270-374):

  corpus → docmap pass (scalar doclen UDF)                     [narrow]
         → explode_postings (flat Arrow kernel; B4-B9)         [narrow]
         → salted repartition(term, salt) + Tungsten sort      [1 shuffle]
         → streaming encode (codecs + fused skip/σ metadata)   [narrow]
         → global lexicon from the written shard table         [tiny shuffle]

Scale design:
  * ONE wide shuffle of the exploded postings, keyed by (term, salt). Head
    terms (df above SALT_TARGET_POSTINGS, e.g. 'int'/'return' in code) are
    split into ceil(df/target) docid-hashed sub-lists so no reducer ever
    materializes an unbounded posting list — the sub-lists stay separate
    index rows (the analogue of the reference's doc-partitioned db_0..4
    dirs, src/builder.cpp:98-109) and queries merge them, which is
    score-invariant because scoring uses only global df/avgdl/N
    (src/engine.cpp:30-32: all partitions share the global lexicon).
  * The reference needs a SECOND pass for σ/skip metadata because its
    stored bounds bake in the global df (builder.cpp:192-268).  We store
    idf-FREE score parts (score = idf·part for both BM25 and TFIDF), so the
    bounds are computed while the arrays are in hand during encoding — the
    second pass over the index disappears.
  * No map<string,int> Arrow columns and no intermediate persist on the
    build path: exploded postings are flat int64/string columns (measured
    ~10x on the tokenize stage), sorting happens in the JVM (radix sort,
    not pandas), and the encoder streams over complete groups per batch.
  * doclen is carried through the explode instead of re-joined — postings
    arrive at the encoder self-contained.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from searchenginepp_spark.config import (
    BM25_B, BM25_K1, DOCID_START, SKIP_BLOCK_SIZE,
)
from searchenginepp_spark.frames import _local_df
from searchenginepp_spark.functions.codecs import (
    delta_encode, unary_encode, unary_value_bit_offsets, varbyte_encode,
    varbyte_value_offsets,
)
from searchenginepp_spark.sources.corpus import (
    assign_docids, assign_docids_window, with_content_sha256, with_docno,
)

# How many postings a single index row (sub-list) may hold before the term
# is salted into multiple docid-hashed shards. 2^21 postings ≈ 4-8 MB blob.
SALT_TARGET_POSTINGS = 1 << 21

# Output-file sizing (guide §6: aim for 128 MB-1 GB files).  Every persisted
# table is written with a file count derived from its estimated bytes, never
# from the compute-stage partition count — a 100k-doc toy index otherwise
# lands as ~200 KB/file × (2-6 tasks/core) files and every downstream scan
# (Spark query jobs, the LocalSearcher cold read) pays one task/footer per
# file (measured round 6: ~2 s of pure task scheduling per exact query).
TARGET_FILE_BYTES = 128 * 1024 * 1024
# Estimated encoded index bytes per posting (docid ~1.0 B + tf ~0.2 B +
# doclen ~1 B measured, plus skip structs ≈ posting/64 × ~70 B) — rounded up.
_EST_BLOB_BYTES_PER_POSTING = 4
# Estimated docmap bytes per doc (docno + sha256 + path metadata columns).
_EST_DOCMAP_BYTES_PER_DOC = 250


def _n_output_files(est_bytes: int, cap: int,
                    target: int = TARGET_FILE_BYTES) -> int:
    """File count for a table of est_bytes: ~target bytes per file, at least
    1, never more than the compute partition count (`cap`)."""
    return max(1, min(int(cap), -(-int(est_bytes) // int(target))))


def tf_map_udf(stem: bool = True):
    """content → map<term,int> term frequencies, one Python pass per batch
    (reference builder.cpp:56-66 per-doc unordered_map).  Uses the
    worker-persistent vocabulary cache (normalizer.term_frequencies_fast) —
    in steady state each token costs one dict hit."""
    from searchenginepp_spark.functions.normalizer import term_frequencies_fast

    @F.pandas_udf("map<string,int>")
    def _tf(content: pd.Series) -> pd.Series:
        return content.map(
            lambda t: dict(term_frequencies_fast(t if t is not None else "", stem))
        )

    return _tf


def tokenize_corpus(corpus: DataFrame, stem: bool = True) -> DataFrame:
    """corpus(+docid) → per-doc tf map and doclen (doclen = Σtf, reference
    builder.cpp:69-73).

    NOTE: the map<string,int> Arrow column is convenient for the relational
    oracle queries but expensive to serialize at volume — the build paths
    use explode_postings/doclen_udf instead (measured ~10x on the tokenize
    stage)."""
    df = corpus.withColumn("tf_map", tf_map_udf(stem)(F.col("content")))
    return df.withColumn(
        "doclen",
        F.aggregate(F.map_values("tf_map"), F.lit(0).cast("long"),
                    lambda acc, x: acc + x.cast("long")),
    )


def doclen_udf(stem: bool = True):
    """content → doclen (post-filter token count). Scalar long output —
    no map conversion."""
    from searchenginepp_spark.functions.normalizer import term_frequencies_fast

    @F.pandas_udf("long")
    def _dl(content: pd.Series) -> pd.Series:
        return content.map(
            lambda t: sum(term_frequencies_fast(t if t is not None else "",
                                                stem).values()))

    return _dl


def doclen_jvm(corpus: DataFrame) -> DataFrame:
    """(docid, doclen) computed ENTIRELY JVM-side — no Python tokenize.

    doclen is the post-filter token count and is stem-INVARIANT (the
    reference stems each surviving token 1:1 after the stop/length filter,
    src/normalizer/WordNormalizer.cpp:62-73), so it is expressible with
    built-in SQL functions: punctuation→space (the same codepoint class the
    Python kernel uses), lowercase, whitespace split on the C-locale set,
    then — the part a naive translation gets wrong — the 1,155-word
    stopword filter as a broadcast hash ANTI-JOIN over the exploded tokens
    instead of a per-token array_contains scan (O(1) hash probe per token
    inside whole-stage codegen vs an O(|stopwords|) literal-array walk).
    The groupBy(docid) shuffle moves only ~n_docs rows: tokens of one doc
    stay in one partition, so the map-side partial count collapses them
    before the exchange.

    Used by the cache_postings=False (memory-light two-pass) build so its
    docmap pass drops the second full Python tokenize; parity with
    doclen_udf is pinned by tests/test_cache_pressure.py."""
    from searchenginepp_spark.config import MAX_TOKEN_LEN
    from searchenginepp_spark.functions.normalizer import SQL_PUNCT_CLASS
    from searchenginepp_spark.functions.stop_words import stop_words

    spark = corpus.sparkSession
    sw = _local_df(spark, [(w,) for w in sorted(stop_words())], "tok string")
    toks = (
        corpus.select(
            "docid",
            F.explode(
                F.split(F.lower(F.regexp_replace(
                    "content", SQL_PUNCT_CLASS, " ")),
                    "[ \t\n\x0b\x0c\r]+")).alias("tok"))
        .filter((F.col("tok") != "")
                & (F.length("tok") <= MAX_TOKEN_LEN))
    )
    return (toks.join(F.broadcast(sw), "tok", "left_anti")
            .groupBy("docid").agg(F.count("*").alias("doclen")))


def explode_postings(corpus: DataFrame, stem: bool = True) -> DataFrame:
    """corpus(+docid) → exploded postings (term, docid, tf, doclen) in ONE
    Arrow pass.

    The build hot path: mapInArrow (no pandas Series of 10^7 Python strings
    — term/tf columns are built directly as Arrow arrays at C speed, docid/
    doclen via np.repeat), tokenizing each doc with the worker-persistent
    vocabulary cache.

    tf/doclen are int32 (both bounded by tokens-per-document << 2^31):
    postings are the highest-volume intermediate of the whole build, and the
    narrower columns shrink the Python→JVM Arrow leg, the postings persist,
    and the downstream (term,salt) shuffle; docid stays int64 (10^12 docs).
    Consumers that need a long (staged-postings public schema) cast up."""
    import pyarrow as pa

    from searchenginepp_spark.functions.normalizer import term_frequencies_fast

    def gen(batches):
        for batch in batches:
            docid_np = batch.column(0).to_numpy(zero_copy_only=False)
            contents = batch.column(1).to_pylist()
            terms: list[str] = []
            tfs: list[int] = []
            n_per = np.empty(len(contents), dtype=np.int64)
            dl_per = np.empty(len(contents), dtype=np.int32)
            for i, content in enumerate(contents):
                c = term_frequencies_fast(
                    content if content is not None else "", stem)
                n_per[i] = len(c)
                dl_per[i] = sum(c.values())
                terms.extend(c.keys())
                tfs.extend(c.values())
            yield pa.record_batch(
                [pa.array(terms, pa.string()),
                 pa.array(np.repeat(docid_np, n_per)),
                 pa.array(tfs, pa.int32()),
                 pa.array(np.repeat(dl_per, n_per))],
                names=["term", "docid", "tf", "doclen"])

    return corpus.select("docid", "content").mapInArrow(
        gen, schema="term string, docid long, tf int, doclen int")


def build_postings(tokenized: DataFrame) -> DataFrame:
    """Explode tf maps into the relational postings (term, docid, tf, doclen).
    Docs whose every token was filtered produce no postings (but stay in the
    docmap, matching the reference document index)."""
    return tokenized.select(
        F.col("docid"), F.col("doclen"),
        F.explode("tf_map").alias("term", "tf"),
    ).select("term", "docid", F.col("tf").cast("long").alias("tf"), "doclen")


def build_docmap(tokenized: DataFrame) -> DataFrame:
    """(docid, docno, repo, path, commit, lang, doclen, content_sha256) —
    reference document index (src/indexBuilder/IndexBuilder.cpp:74-98) plus
    the sha256 ingest invariant."""
    return tokenized.select(
        "docid", "docno", "repo", "path", "commit", "lang", "doclen",
        "content_sha256",
    )


def build_global_lexicon(postings: DataFrame) -> DataFrame:
    """term → collection-wide df. The shuffle IS the reference's k-way
    sorted merge of partition-local lexicons (builder.cpp:127-170)."""
    return postings.groupBy("term").agg(F.count("*").alias("df"))


def build_stats(docmap: DataFrame) -> DataFrame:
    """Single-row collection stats (reference metadata file,
    builder.cpp:177-181): n_docs, sum_doclen → avgdl = sum/n at read
    (Index.template.hpp:35-37)."""
    return docmap.agg(
        F.count("*").alias("n_docs"),
        F.sum("doclen").alias("sum_doclen"),
    )


SKIP_FIELD = ArrayType(StructType([
    StructField("last_docid", LongType()),
    StructField("prev_docid", LongType()),   # last docid of previous block (0
                                             # for block 0) — delta-gap base so
                                             # a block decodes standalone
    StructField("n_postings", LongType()),   # postings in this block
    StructField("docid_off", LongType()),    # byte offset into docid_blob
    StructField("tf_bit_off", LongType()),   # bit offset into tf_blob
    StructField("doclen_off", LongType()),   # byte offset into doclen_blob
    # Score upper bounds are stored WITHOUT the idf factor: every scorer here
    # factorizes as score = idf(term) * part(tf, doclen), so per-block maxima
    # of `part` multiplied by idf at query time are exact bounds.  This is
    # what lets sigma/skip construction fuse into the single encode pass —
    # the reference needs a second pass only because its stored bounds bake
    # in the global df (builder.cpp:192-268).
    StructField("bm25_part_ub", DoubleType()),
    StructField("tfidf_part_ub", DoubleType()),
]))

_SHARD_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("shard", LongType()),
    StructField("df_shard", LongType()),
    StructField("first_docid", LongType()),
    StructField("last_docid", LongType()),
    StructField("docid_blob", BinaryType()),
    StructField("tf_blob", BinaryType()),
    StructField("doclen_blob", BinaryType()),
    StructField("sigma_bm25_part", DoubleType()),
    StructField("sigma_tfidf_part", DoubleType()),
    # avgdl the BM25 score parts were computed under.  BM25 part is
    # increasing in avgdl, so when index segments are merged and the
    # COLLECTION avgdl grows past this value, stored bounds would
    # understate true scores; query paths scale bm25 bounds by
    # max(1, avgdl_query/avgdl_encode) — a sound upper bound because
    # part(avgdl_q)/part(avgdl_e) ≤ avgdl_q/avgdl_e for all (tf, dl).
    StructField("avgdl_encode", DoubleType()),
    StructField("skips", SKIP_FIELD),
])

# dict transfer mode: the encoder emits int32 term_ids; the term string is
# restored by a broadcast join against the vocab before anything persists.
_SHARD_SCHEMA_ID = StructType(
    [StructField("term_id", IntegerType())] + list(_SHARD_SCHEMA.fields[1:]))


def _encode_one(term, salt: int, docids_in, tfs, doclens_in,
                block_size: int, avgdl: float, key: str = "term") -> dict:
    """Encode ONE (term, salt) posting group (docid-sorted numpy slices)
    into a compressed index row with fused skip pointers and idf-free
    score-part maxima.  `term` is the group key value — the term string in
    row mode, the int32 term_id in dict mode (emitted under `key`)."""
    docids = docids_in.astype(np.uint64)
    doclens = doclens_in.astype(np.uint64)
    n = docids.size
    tf_f = tfs.astype(np.float64)
    bm25_part = tf_f / (BM25_K1 * ((1 - BM25_B)
                                   + BM25_B * doclens.astype(np.float64)
                                   / avgdl) + tf_f)
    tfidf_part = 1.0 + np.log2(tf_f)
    gaps = delta_encode(docids)
    d_offs = varbyte_value_offsets(gaps)
    t_offs = unary_value_bit_offsets(tfs)
    l_offs = varbyte_value_offsets(doclens)
    bstarts = np.arange(0, n, block_size)
    bends = np.minimum(bstarts + block_size, n) - 1
    skips = [
        {
            "last_docid": int(docids[be]),
            "prev_docid": int(docids[bs - 1]) if bs > 0 else 0,
            "n_postings": int(be - bs + 1),
            "docid_off": int(d_offs[bs]),
            "tf_bit_off": int(t_offs[bs]),
            "doclen_off": int(l_offs[bs]),
            "bm25_part_ub": float(np.max(bm25_part[bs:be + 1])),
            "tfidf_part_ub": float(np.max(tfidf_part[bs:be + 1])),
        }
        for bs, be in zip(bstarts, bends)
    ]
    return {
        key: term,
        "shard": int(salt),
        "df_shard": int(n),
        "first_docid": int(docids[0]),
        "last_docid": int(docids[-1]),
        "docid_blob": varbyte_encode(gaps),
        "tf_blob": unary_encode(tfs),
        "doclen_blob": varbyte_encode(doclens),
        "sigma_bm25_part": float(bm25_part.max()),
        "sigma_tfidf_part": float(tfidf_part.max()),
        "avgdl_encode": float(avgdl),
        "skips": skips,
    }


def _encode_groups(terms, salts_np, docids_np, tfs_np, dl_np, change,
                   block_size: int, avgdl: float,
                   key: str = "term") -> list[dict]:
    """Encode a run of complete (term, salt) groups (rows already sorted by
    (term, salt, docid) by the JVM) into compressed index rows.

    `terms` is a pyarrow array (strings in row mode, int32 ids in dict
    mode) — only ONE value per group is ever materialized into Python
    (`terms[s].as_py()`); `change` holds the precomputed group-start
    offsets."""
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [len(salts_np)]))
    return [
        _encode_one(terms[s].as_py(), salts_np[s], docids_np[s:e],
                    tfs_np[s:e], dl_np[s:e], block_size, avgdl, key=key)
        for s, e in zip(starts, ends)
    ]


def _pa_shard_schema(key_field: tuple | None = None):
    import pyarrow as pa

    pa_skip = pa.list_(pa.struct([
        ("last_docid", pa.int64()), ("prev_docid", pa.int64()),
        ("n_postings", pa.int64()), ("docid_off", pa.int64()),
        ("tf_bit_off", pa.int64()), ("doclen_off", pa.int64()),
        ("bm25_part_ub", pa.float64()), ("tfidf_part_ub", pa.float64()),
    ]))
    return pa.schema([
        key_field or ("term", pa.string()), ("shard", pa.int64()),
        ("df_shard", pa.int64()), ("first_docid", pa.int64()),
        ("last_docid", pa.int64()), ("docid_blob", pa.binary()),
        ("tf_blob", pa.binary()), ("doclen_blob", pa.binary()),
        ("sigma_bm25_part", pa.float64()), ("sigma_tfidf_part", pa.float64()),
        ("avgdl_encode", pa.float64()),
        ("skips", pa_skip),
    ])


def build_index_shards(postings: DataFrame, avgdl: float,
                       salt_target: int = SALT_TARGET_POSTINGS,
                       num_partitions: int | None = None,
                       block_size: int = SKIP_BLOCK_SIZE,
                       heavy: DataFrame | None = None,
                       transfer: str = "row",
                       vocab: DataFrame | None = None) -> DataFrame:
    """The one wide shuffle: postings → compressed per-(term,shard) index
    rows with fused skip pointers and σ-part maxima.

    Plan shape (all heavy lifting JVM-side until the final encode):
      1. df per term (map-side-combined agg, tiny) → broadcast; terms with
         df > salt_target split by docid hash into ceil(df/target) salts so
         no task ever materializes an unbounded posting list.
      2. repartition(hash(term, salt)) + Tungsten sortWithinPartitions
         (term, salt, docid) — the shuffle + radix sort that replaces the
         reference's std::map insertions (IndexBuilder.hpp:41).
      3. ONE streaming mapInArrow pass encodes complete groups per Arrow
         batch (carry-over buffer for groups spanning batches).  Group
         boundaries come from pyarrow compute on the raw Arrow string
         column — only one Python string per GROUP is ever materialized;
         int columns reach numpy zero-copy.  Numpy codecs, zero Python
         sorting, zero second pass.

    transfer="dict" dictionary-encodes the term to a dense int32 term_id
    (broadcast map-side join, no extra shuffle) BEFORE step 2, so the
    shuffle wire, sort keys, and the JVM→Python Arrow leg carry 4-byte ints
    instead of strings, and the encoder materializes ZERO Python strings;
    the string is restored by broadcast-joining the tiny output rows
    against the vocab (term_ids are term-sort-ordered, so the restored
    table stays term-clustered for parquet pruning).  Pass `vocab` (term,
    term_id from term_vocab) to reuse an existing dictionary — REQUIRED to
    cover every term (inner join); without it one is derived from the
    postings.  Applicability bound: the vocab must fit a broadcast
    (build_index auto-selects dict only below dict_max_vocab terms).
    """
    if heavy is None:
        heavy = (
            postings.groupBy("term").agg(F.count("*").alias("df"))
            .filter(F.col("df") > salt_target)
            .withColumn("n_buckets",
                        F.ceil(F.col("df") / F.lit(salt_target)).cast("long"))
            .select("term", "n_buckets")
        )
    salted = (
        postings.join(F.broadcast(heavy), "term", "left")
        .withColumn(
            "salt",
            F.when(F.col("n_buckets").isNull(), F.lit(0).cast("long"))
            .otherwise(F.pmod(F.xxhash64("docid"), F.col("n_buckets"))),
        )
        .drop("n_buckets")
    )
    if transfer == "dict":
        return _build_shards_dict(salted, block_size, avgdl,
                                  num_partitions, vocab)
    if transfer != "row":
        raise ValueError(f"unknown transfer mode: {transfer}")

    n_parts = (num_partitions
               or postings.sparkSession.sparkContext.defaultParallelism)
    # int32 tf/doclen/salt: tf,doclen ≤ tokens/doc << 2^31 — shrinks both
    # the shuffle bytes and the JVM→Python Arrow transfer (the measured
    # residual cost of the encode stage); docid stays int64 (10^12 docs).
    arranged = (
        salted.select("term",
                      F.col("salt").cast("int").alias("salt"),
                      "docid",
                      F.col("tf").cast("int").alias("tf"),
                      F.col("doclen").cast("int").alias("doclen"))
        .repartition(n_parts, "term", "salt")
        .sortWithinPartitions("term", "salt", "docid")
    )
    encode_stream = _make_encode_stream("term", "term", _pa_shard_schema(),
                                        block_size, avgdl)
    return arranged.mapInArrow(encode_stream, schema=_SHARD_SCHEMA)


def _make_encode_stream(key_name: str, out_key: str, pa_shard,
                        block_size: int, avgdl: float):
    """The streaming group encoder shared by the row and dict transfer
    modes: consume (key, salt, docid, tf, doclen) Arrow batches sorted by
    (key, salt, docid), emit one compressed index row per complete group
    (carry-over buffer for groups spanning batches).  Group boundaries come
    from pyarrow compute on the raw key column — only ONE key value per
    GROUP is ever materialized into Python; int columns reach numpy
    zero-copy."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def columns(tbl: pa.Table):
        keys = tbl.column(key_name).combine_chunks()
        if isinstance(keys, pa.ChunkedArray):
            keys = (keys.chunk(0) if keys.num_chunks
                    else pa.array([], tbl.schema.field(key_name).type))
        salts = tbl.column("salt").to_numpy(zero_copy_only=False)
        docids = tbl.column("docid").to_numpy(zero_copy_only=False)
        tfs = tbl.column("tf").to_numpy(zero_copy_only=False)
        dls = tbl.column("doclen").to_numpy(zero_copy_only=False)
        return keys, salts, docids, tfs, dls

    def emit(tbl: pa.Table) -> pa.RecordBatch:
        keys, salts, docids, tfs, dls = columns(tbl)
        n = len(salts)
        key_ne = pc.not_equal(keys.slice(1), keys.slice(0, n - 1))
        change = np.flatnonzero(
            key_ne.to_numpy(zero_copy_only=False)
            | (salts[1:] != salts[:-1])) + 1
        rows = _encode_groups(keys, salts, docids, tfs, dls, change,
                              block_size, avgdl, key=out_key)
        return pa.RecordBatch.from_pylist(rows, schema=pa_shard)

    def encode_stream(batches):
        buf: pa.Table | None = None
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if buf is not None and len(buf):
                tbl = pa.concat_tables([buf, tbl])
            if not len(tbl):
                continue
            # rows are (key, salt)-sorted: the final group is a contiguous
            # tail — hold it back, it may continue in the next batch
            keys = tbl.column(key_name)
            salts = tbl.column("salt")
            eq = pc.and_(pc.equal(keys, keys[-1]), pc.equal(salts, salts[-1]))
            tail = int(pc.sum(eq).as_py())
            cut = len(tbl) - tail
            buf = tbl.slice(cut)
            if cut:
                yield emit(tbl.slice(0, cut))
        if buf is not None and len(buf):
            yield emit(buf)

    return encode_stream


def term_vocab(terms: DataFrame, num_partitions: int | None = None,
               return_handle: bool = False, stats: dict | None = None,
               stats_aggs: dict | None = None):
    """(term, term_id int32) dictionary over a UNIQUE-term DataFrame (e.g.
    the per-term df aggregation), ids dense and assigned in LEXICOGRAPHIC
    term order — so a term_id sort IS a term sort and the dict transfer
    mode preserves the term-clustered parquet layout (row-group min/max
    pruning on term).

    The input may carry extra columns (e.g. a precomputed df) — they pass
    through.  Distributed id assignment reuses the docid machinery
    (range-partition + per-partition counts + cumsum offsets); with
    return_handle=True the caller gets the persist handle backing BOTH
    downstream consumers (the postings join and the shard-row join) and
    unpersists it after its terminal action."""
    out, handle = assign_docids(terms, order_cols=("term",),
                                num_partitions=num_partitions,
                                return_handle=True, stats=stats,
                                stats_aggs=stats_aggs)
    vocab = out.withColumn(
        "term_id", (F.col("docid") - F.lit(DOCID_START)).cast("int")
    ).drop("docid")
    if return_handle:
        return vocab, handle
    return vocab


def _build_shards_dict(salted: DataFrame, block_size: int, avgdl: float,
                       num_partitions: int | None,
                       vocab: DataFrame | None) -> DataFrame:
    """transfer="dict" encode path (see build_index_shards docstring): the
    term string is dictionary-encoded to a dense int32 term_id BEFORE the
    wide shuffle — a broadcast-hash map-side join, no extra shuffle — so
    the repartition wire, the Tungsten sort keys, and the JVM→Python Arrow
    leg all carry 4-byte ints instead of term strings (the measured
    residual cost of the encode stage, CLAUDE.md).  The encoder never
    materializes a single Python string; the term string is restored by
    broadcast-joining the per-(term,shard) OUTPUT rows (|vocab|-scale, tiny
    next to postings) against the vocab.  term_ids are assigned in term
    sort order, so the restored rows stay term-clustered for parquet
    row-group pruning."""
    import pyarrow as pa

    if vocab is None:
        # no caller-provided dictionary: derive it from the postings
        # themselves.  NOTE: left unpersisted — the distinct() recomputes
        # once per downstream join; callers on the hot path (build_index)
        # pass a vocab backed by their own persisted lexicon instead.
        vocab = term_vocab(salted.select("term").distinct())
    vocab = vocab.select("term", "term_id")
    n_parts = (num_partitions
               or salted.sparkSession.sparkContext.defaultParallelism)
    arranged = (
        salted.join(F.broadcast(vocab), "term")
        .select("term_id",
                F.col("salt").cast("int").alias("salt"),
                "docid",
                F.col("tf").cast("int").alias("tf"),
                F.col("doclen").cast("int").alias("doclen"))
        .repartition(n_parts, "term_id", "salt")
        .sortWithinPartitions("term_id", "salt", "docid")
    )
    encode_stream = _make_encode_stream(
        "term_id", "term_id", _pa_shard_schema(("term_id", pa.int32())),
        block_size, avgdl)
    encoded = arranged.mapInArrow(encode_stream, schema=_SHARD_SCHEMA_ID)
    final_cols = [f.name for f in _SHARD_SCHEMA.fields]
    return (encoded.join(F.broadcast(vocab), "term_id")
            .select(*final_cols))


def index_size_report(spark: SparkSession, paths: "IndexPaths") -> dict:
    """Size breakdown of a persisted index — the analogue of the
    reference's report table 3.3 (postings split by stream, doc index,
    lexicon).  Logical bytes are uncompressed blob/metadata sizes; on-disk
    parquet is additionally ZSTD/dictionary compressed."""
    import os

    row = spark.read.parquet(paths.shards).agg(
        F.sum(F.length("docid_blob")).alias("docid_bytes"),
        F.sum(F.length("tf_blob")).alias("tf_bytes"),
        F.sum(F.length("doclen_blob")).alias("doclen_bytes"),
        F.sum("df_shard").alias("n_postings"),
        F.count("*").alias("n_shard_rows"),
    ).collect()[0]

    def du(path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    n_post = int(row["n_postings"] or 0)
    docid_b = int(row["docid_bytes"] or 0)
    tf_b = int(row["tf_bytes"] or 0)
    return {
        "n_postings": n_post,
        "n_shard_rows": int(row["n_shard_rows"] or 0),
        "docid_blob_bytes": docid_b,
        "tf_blob_bytes": tf_b,
        "doclen_blob_bytes": int(row["doclen_bytes"] or 0),
        "bytes_per_posting_docid": round(docid_b / n_post, 3) if n_post else None,
        "bits_per_posting_tf": round(8 * tf_b / n_post, 3) if n_post else None,
        "disk_shards_bytes": du(paths.shards),
        "disk_docmap_bytes": du(paths.docmap),
        "disk_lexicon_bytes": du(paths.lexicon),
    }


class IndexPaths:
    """On-disk layout of one index build (all parquet; the production sink
    is an Iceberg catalog — same tables, sorted+bucketed by term).

    Iceberg mapping (no Iceberg jars ship in this environment, so plain
    parquet directories + JSON manifests stand in; the port is mechanical —
    each hand-rolled piece below is exactly one Iceberg feature):

      layout piece                      Iceberg equivalent
      --------------------------------  ----------------------------------
      index_shards/ docmap/ lexicon/    tables in one namespace; shards
        stats/ parquet dirs               with WRITE ORDERED BY (term,
                                          shard) + bucket(term) partition
      directory-per-build root          a snapshot; "switch the root" =
                                          atomic snapshot swap / tag move
      manifest/build_manifest.json      snapshot summary properties
                                          (sampling lineage, salting,
                                          transfer mode, vocab size)
      manifest/folded_batches.json      snapshot lineage: which staged
        (streaming/incremental.py)        batches a snapshot contains —
                                          Iceberg gives this via snapshot
                                          parent ids + append metadata
      index_merge's metadata-only       MERGE/REWRITE with only metadata
        merge (docid-rebased rows,        changes — Iceberg rewrite_files
        blobs untouched)                  without data rewrite
      refresh_index delta fold          an APPEND snapshot of the delta
                                          segment's files
      auto_compact_segments             Iceberg maintenance compaction
                                          (rewrite_data_files) on a
                                          fragmentation trigger
      overwrite-then-read dirs          Iceberg's atomic commit protocol
                                          (here: per-dir overwrite +
                                          _SUCCESS markers)

    Queries only ever read through these paths, so pointing them at
    Iceberg-backed tables changes spark.read.parquet → spark.read.table
    and deletes the JSON manifest code."""

    def __init__(self, root: str):
        self.root = root
        self.shards = f"{root}/index_shards"
        self.docmap = f"{root}/docmap"
        self.lexicon = f"{root}/global_lexicon"
        self.stats = f"{root}/stats"
        self.manifest = f"{root}/manifest"


def _sample_corpus_for_df(spark: SparkSession, corpus: DataFrame,
                          n_docs: int, target_docs: int,
                          files: list[str] | None = None):
    """→ (sample_df(docid, content), meta dict) for heavy-term df estimation.

    File-level sampling when the corpus is a many-file table: pick a
    deterministic stride subset of the input files and read ONLY those —
    at petabyte scale `corpus.sample(frac)` still scans every input byte,
    while a file subset reads frac of the bytes (CLAUDE.md round-1 lead).
    Falls back to row sampling for single-file / non-parquet / synthetic
    inputs.  Mis-estimation is a perf concern only — salting never affects
    scores (index_build module docstring)."""
    frac = min(1.0, target_docs / max(n_docs, 1))
    if frac >= 1.0:
        return None, {"mode": "none", "frac": 1.0}
    # docid assignment severs file provenance (mapInArrow), so the caller
    # captures inputFiles() from the PRE-assignment corpus
    files = sorted(files if files is not None else corpus.inputFiles())
    if len(files) >= 8 and all(f.endswith(".parquet") or "/part-" in f
                               for f in files):
        n_take = max(1, round(frac * len(files)))
        subset = files[:: max(1, len(files) // n_take)][:n_take]
        try:
            raw = spark.read.parquet(*subset)
            col = ("content" if "content" in raw.columns
                   else "text" if "text" in raw.columns else None)
            if col is not None:
                sampled_docs = raw.count()   # parquet metadata, no scan
                if sampled_docs:
                    jvm = spark._jvm
                    conf = spark._jsc.hadoopConfiguration()
                    nbytes = 0
                    for f in subset:
                        p = jvm.org.apache.hadoop.fs.Path(f)
                        nbytes += p.getFileSystem(conf).getFileStatus(p).getLen()
                    sample = raw.select(
                        F.monotonically_increasing_id().alias("docid"),
                        F.col(col).alias("content"))
                    meta = {"mode": "files", "frac": sampled_docs / n_docs,
                            "files_total": len(files),
                            "files_sampled": len(subset),
                            "sampled_bytes": int(nbytes),
                            "sampled_docs": int(sampled_docs)}
                    return sample, meta
        except Exception:
            pass                              # unreadable subset → row sample
    return (corpus.sample(frac, seed=7),
            {"mode": "rows", "frac": frac})


# --- cache-pressure estimator (VERDICT round 4 #1) ----------------------
#
# The build holds TWO caches: the pinned docid partitioning of the corpus
# (assign_docids — content included) and the exploded-postings persist.  On
# fixed-memory executors they must not thrash the unified memory region
# (measured: one 4 GB executor at 2M docs spent 967 s in the docmap phase
# vs ~356 expected — eviction/recompute churn,
# measurements/round4_executor_2M.json: 2M docs ≈ 1.1 GB compressed input
# → ≈2.1 GB of caches vs ≈2.27 GB of storage, exactly the boundary).
# Before the first pass, estimate both cached sizes from the INPUT bytes
# (the only handle available pre-tokenize) and flip both persists to
# DISK_ONLY when the total would not fit comfortably.
#
# Calibrated at 100k synthetic code docs (55.4 MB parquet): corpus cache
# 74.9 MB = 1.35×, postings columnar cache 31.2 MB = 0.56× (3.1 B/posting
# at 9.95M postings); constants carry a small margin.
_CORPUS_CACHE_PER_INPUT_BYTE = 1.4
_POSTINGS_CACHE_PER_INPUT_BYTE = 0.6
# fraction of BlockManager storage memory the caches may claim before the
# build flips to DISK_ONLY — leaves the rest for execution borrowing
# (the Tungsten postings sort and parquet writers run concurrently)
_CACHE_STORAGE_FRACTION = 0.6


def _files_nbytes(spark: SparkSession, files: list[str] | None) -> int | None:
    """Total on-disk bytes of the input files (Hadoop FS metadata — no
    scan); None when the corpus has no file provenance (in-memory frames)."""
    if not files:
        return None
    try:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        total = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            total += p.getFileSystem(conf).getFileStatus(p).getLen()
        return int(total)
    except Exception:
        return None


def _executor_storage_info(spark: SparkSession) -> tuple:
    """(total, min_single) BlockManager storage capacity in bytes across
    live executors — the budget persists and broadcasts compete for.  The
    driver's BlockManager is counted ONLY when it is the sole one (local
    mode, where the driver runs the tasks): with real executors the
    cached partitions never land on the driver, so a large driver heap
    must not inflate the budget (that is exactly the 4 GB-executor /
    8 GB-driver config whose spill this estimator exists to prevent).
    Reads the same maxMem the storage UI shows; (None, None) when the JVM
    call is unavailable."""
    try:
        sts = (spark.sparkContext._jsc.sc().env().blockManager().master()
               .getStorageStatus())
        execs, driver = [], []
        for s in sts:
            m = int(s.maxMem())
            (driver if s.blockManagerId().executorId() == "driver"
             else execs).append(m)
        pool = execs or driver
        if not pool:
            return None, None
        return sum(pool), min(pool)
    except Exception:
        return None, None


def resolve_cache_postings(spark: SparkSession, requested,
                           src_files: list[str] | None) -> tuple:
    """Resolve the cache_postings request → (mode, decision meta).

    mode ∈ {"memory", "disk", False}:
      "memory"  MEMORY_AND_DISK persists (tokenize once; the fast path)
      "disk"    DISK_ONLY persists for BOTH the docid corpus pin and the
                postings cache (tokenize once; zero storage-memory
                pressure — the caches cost one local write+read instead of
                competing with execution memory)
      False     two-pass build (no postings persist at all; doclen via the
                JVM-side doclen_jvm pass, heavy-term df via file sampling)

    requested True/False/"disk" pass through (explicit user choice);
    "auto" (the default) estimates BOTH cached sizes from the input bytes
    and flips "memory" → "disk" when the estimate exceeds
    _CACHE_STORAGE_FRACTION of aggregate executor storage memory; pass
    False explicitly for hosts where local disk is the scarcer resource."""
    meta = {"requested": str(requested)}
    if requested is True:
        return "memory", meta
    if requested is False or requested == "disk":
        return (False if requested is False else "disk"), meta
    if requested != "auto":
        raise ValueError(f"cache_postings must be True/False/'auto'/'disk', "
                         f"got {requested!r}")
    input_bytes = _files_nbytes(spark, src_files)
    storage, _ = _executor_storage_info(spark)
    meta.update({"input_bytes": input_bytes, "storage_bytes": storage})
    if input_bytes is None or storage is None:
        # no basis to estimate (in-memory test frames) → fast path
        meta["decision"] = "memory (no estimate basis)"
        return "memory", meta
    est = int(input_bytes * (_CORPUS_CACHE_PER_INPUT_BYTE
                             + _POSTINGS_CACHE_PER_INPUT_BYTE))
    budget = int(storage * _CACHE_STORAGE_FRACTION)
    meta.update({"est_cache_bytes": est, "cache_budget_bytes": budget})
    if est > budget:
        meta["decision"] = "disk (estimated caches exceed storage budget)"
        return "disk", meta
    meta["decision"] = "memory"
    return "memory", meta


def build_index(spark: SparkSession, corpus: DataFrame, out: str | IndexPaths,
                stem: bool = True, scalable_docids: bool = True,
                salt_target: int = SALT_TARGET_POSTINGS,
                term_partitions: int | None = None,
                block_size: int = SKIP_BLOCK_SIZE,
                sample_docs_target: int = 100_000,
                timings: dict | None = None,
                cache_postings="auto",
                transfer: str = "auto",
                dict_max_vocab: int = 4_000_000) -> IndexPaths:
    """Full build: corpus (repo,path,commit,lang,content) → persisted index.

    Writes: index_shards (term-sorted for row-group skipping), docmap,
    global_lexicon, stats, manifest/build_manifest.json (sampling lineage
    + salting + cache-mode decisions).  Pass a dict as `timings` to collect
    per-phase wall seconds (docids/docmap/sample/encode/lexicon) — the
    scaling bench uses it to attribute fixed overhead vs parallel work.

    cache_postings="auto" (default): tokenize exactly ONCE — exploded
    postings persist, docmap doclens come from a per-docid agg over the
    cache, and heavy-term salting uses EXACT df from the cache (no sampling
    error).  The persist level is chosen by the cache-pressure estimator
    (resolve_cache_postings): MEMORY_AND_DISK when the estimated cache fits
    the executors' storage budget, DISK_ONLY when it would thrash the
    unified memory region (the measured 2M-docs-on-a-4GB-executor failure,
    VERDICT round 4 #1).  True forces MEMORY_AND_DISK; "disk" forces
    DISK_ONLY.  At cluster scale the persist maps to checkpointing the
    postings table to durable storage (plans/checkpoint.py).
    cache_postings=False: the two-pass variant with NO postings persist at
    all — doclen via the JVM-side doclen_jvm pass (no second Python
    tokenize), heavy-term df via file-level sampling; for hosts where
    neither memory nor local disk can hold the postings table.

    transfer="auto" picks the encode transfer mode (build_index_shards
    docstring): "dict" when the exact vocabulary is in hand (cached
    postings), small by count (≤ dict_max_vocab) AND small by estimated
    broadcast bytes (ADVICE round 4 — a multi-million-row string broadcast
    costs hundreds of MB of executor heap), else "row".  Explicit
    "row"/"dict" overrides.
    """
    import time

    t = timings if timings is not None else {}
    paths = out if isinstance(out, IndexPaths) else IndexPaths(out)
    src_files = corpus.inputFiles()       # before docid assignment severs it
    cache_mode, cache_meta = resolve_cache_postings(spark, cache_postings,
                                                    src_files)
    corpus = with_content_sha256(with_docno(corpus))
    cache_handle = None
    doc_stats: dict = {}
    t0 = time.perf_counter()
    if scalable_docids:
        from pyspark.storagelevel import StorageLevel

        # Corpus partitioning sized by DATA with a parallelism floor (guide
        # §2): bytes/2 MB keeps tiny corpora from fanning into
        # defaultParallelism near-empty tasks (each later pass — count,
        # docmap, tokenize — pays per-task fixed cost), bytes/64 MB raises
        # the count past the floor for large inputs, and the
        # defaultParallelism floor keeps the Python tokenize stage fed at
        # 3-4 tasks/core whenever the data allows.  Falls back to the old
        # behavior (defaultParallelism) when the input has no file
        # provenance to estimate from.
        input_bytes = cache_meta.get("input_bytes")
        if input_bytes is None:
            input_bytes = _files_nbytes(spark, src_files)
        n_corpus_parts = None
        if input_bytes:
            par = spark.sparkContext.defaultParallelism
            n_corpus_parts = max(min(par, -(-input_bytes // (2 << 20))),
                                 -(-input_bytes // (64 << 20)))
        corpus, cache_handle = assign_docids(
            corpus, return_handle=True,
            num_partitions=n_corpus_parts,
            stats=doc_stats,
            storage_level=(StorageLevel.DISK_ONLY if cache_mode == "disk"
                           else None))
    else:
        corpus = assign_docids_window(corpus)
    t["docids"] = round(time.perf_counter() - t0, 3)
    try:
        return _build_index_passes(spark, corpus, paths, stem, salt_target,
                                   term_partitions, block_size,
                                   sample_docs_target, src_files=src_files,
                                   timings=t, cache_postings=cache_mode,
                                   cache_meta=cache_meta,
                                   transfer=transfer,
                                   dict_max_vocab=dict_max_vocab,
                                   n_docs_hint=doc_stats.get("n_rows"))
    finally:
        if cache_handle is not None:
            cache_handle.unpersist()


def _build_index_passes(spark, corpus, paths, stem, salt_target,
                        term_partitions, block_size,
                        sample_docs_target: int = 100_000,
                        src_files: list[str] | None = None,
                        timings: dict | None = None,
                        cache_postings="memory",
                        cache_meta: dict | None = None,
                        transfer: str = "auto",
                        dict_max_vocab: int = 4_000_000,
                        n_docs_hint: int | None = None) -> IndexPaths:
    # Cached path ("memory"/"disk"): tokenize ONCE — exploded postings
    # persist (level per the cache-pressure decision); docmap doclens are a
    # per-docid first() agg over the cache and heavy-term df is EXACT from
    # the cache (the sample pass disappears).  Collection stats piggyback on
    # the docmap write via the Observation API — no separate aggregation job
    # over the table.
    # Fallback (cache_postings=False): two passes with NO persist — doclen
    # entirely JVM-side (doclen_jvm: explode + broadcast stopword anti-join,
    # no second Python tokenize), heavy-term df via file-level sampling.
    import time

    from pyspark.sql import Observation

    if cache_postings is True:               # legacy spelling
        cache_postings = "memory"
    t = timings if timings is not None else {}
    t0 = time.perf_counter()
    obs = Observation("collection_stats")
    postings_cache = None
    if cache_postings:
        from pyspark.storagelevel import StorageLevel

        level = (StorageLevel.DISK_ONLY if cache_postings == "disk"
                 else StorageLevel.MEMORY_AND_DISK)
        postings_cache = explode_postings(corpus, stem=stem).persist(level)
        doclens = postings_cache.groupBy("docid").agg(
            F.first("doclen").alias("doclen"))
    else:
        doclens = doclen_jvm(corpus)
    docmap = (
        corpus.select("docid", "docno", "repo", "path", "commit", "lang",
                      "content_sha256")
        .join(doclens, "docid", "left")     # zero-token docs → doclen 0
        .withColumn("doclen",
                    F.coalesce(F.col("doclen"), F.lit(0)).cast("long"))
        .select("docid", "docno", "repo", "path", "commit", "lang",
                "doclen", "content_sha256")
        .observe(obs, F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doclen").alias("sum_doclen"))
    )
    if n_docs_hint:
        # file sizing (guide §6): the docmap is ~250 B/doc; without this the
        # write inherits the corpus partition count (one near-empty file per
        # compute task) and every docno-resolve scan pays a task per file
        docmap = docmap.coalesce(_n_output_files(
            n_docs_hint * _EST_DOCMAP_BYTES_PER_DOC,
            cap=spark.sparkContext.defaultParallelism))
    # 16 MB row groups for docid-pruned point lookups (see shards write)
    (docmap.write.mode("overwrite")
     .option("parquet.block.size", 16 * 1024 * 1024)
     .parquet(paths.docmap))

    n_docs = int(obs.get["n_docs"])
    sum_doclen = int(obs.get["sum_doclen"] or 0)
    (_local_df(spark, [(n_docs, sum_doclen)], "n_docs long, sum_doclen long")
     .write.mode("overwrite").parquet(paths.stats))
    avgdl = sum_doclen / n_docs if n_docs else 0.0
    t["docmap"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()

    if term_partitions is None:
        # size the postings shuffle by DATA, not cores: ~5M postings per
        # partition keeps the per-task Tungsten sort in memory (measured:
        # under-partitioning at 2M docs spilled and cost ~1.6x).  Floor at
        # defaultParallelism (round 6: the old 2x floor only added per-task
        # fixed cost — encode 8.2 -> 7.0 s at 100k docs/local[32], A/B
        # min-of-2; output files are sized separately, so the floor no
        # longer leaks into the written layout)
        est_postings = int(sum_doclen or 0)
        term_partitions = max(spark.sparkContext.defaultParallelism,
                              est_postings // 5_000_000 + 1)

    heavy = None
    heavy_rows: list = []
    vocab = None
    vocab_handle = None
    n_vocab = None
    if postings_cache is not None:
        postings = postings_cache
        # exact df from the cache — no tokenize, no sampling error; the
        # agg's map-side combine reduces to |vocab| rows before the shuffle.
        # The SAME agg, persisted through term_vocab's id assignment, then
        # serves heavy-term detection, the global lexicon write, and (in
        # dict transfer mode) the term dictionary — one pass, three uses.
        sample_meta = {"mode": "exact_cached_postings", "frac": 1.0}
        lex = postings_cache.groupBy("term").agg(F.count("*").alias("df"))
        vstats: dict = {}
        # vocab partitions sized by data (≤1 partition per ~20M postings of
        # source volume — the vocab is far smaller than the postings), never
        # the cores-derived defaultParallelism: a toy corpus otherwise runs
        # its ~2k-term dictionary through 3-4 range partitions per core,
        # paying per-task fixed cost in the sample job, the count job, the
        # id-assignment pass AND one output file per partition.  sum_len is
        # folded into the count job (one fewer toy job) and feeds the dict
        # broadcast estimate below.
        vocab_parts = _n_output_files(int(sum_doclen or 0), target=20_000_000,
                                      cap=spark.sparkContext.defaultParallelism)
        vocab, vocab_handle = term_vocab(
            lex, num_partitions=vocab_parts, return_handle=True, stats=vstats,
            stats_aggs={"sum_term_len": F.sum(F.length("term"))})
        heavy_rows = (
            vocab.filter(F.col("df") > salt_target)
            .withColumn("n_buckets",
                        F.ceil(F.col("df") / F.lit(salt_target)).cast("long"))
            .select("term", "n_buckets")
            .collect()                    # head terms only — tiny
        )
        n_vocab = vstats["n_rows"]        # from the id-assignment count job
    else:
        postings = explode_postings(corpus, stem=stem)
        # heavy-term detection without the cache: a sample estimates df for
        # the head terms (the only ones that matter) at a fraction of the
        # cost — file-level when the input has many files (reads frac of
        # the BYTES, not just frac of the rows).  Mis-salting is a perf,
        # never a correctness, concern — the threshold halves as a margin.
        sample, sample_meta = _sample_corpus_for_df(
            spark, corpus, int(n_docs), sample_docs_target, files=src_files)
        if sample is not None:
            frac = sample_meta["frac"]
            heavy_rows = (
                explode_postings(sample, stem=stem)
                .groupBy("term").agg(F.count("*").alias("c"))
                .withColumn("df_est", (F.col("c") / F.lit(frac)).cast("long"))
                .filter(F.col("df_est") > salt_target // 2)
                .withColumn("n_buckets",
                            F.greatest(
                                F.ceil(F.col("df_est") / F.lit(salt_target)),
                                F.lit(1)).cast("long"))
                .select("term", "n_buckets")
                .collect()                # head terms only — tiny
            )
    if heavy_rows:
        heavy = _local_df(spark,
                          [(r["term"], r["n_buckets"]) for r in heavy_rows],
                          "term string, n_buckets long")
    elif postings_cache is not None:
        # exact df already computed: nothing is heavy — suppress the
        # fallback per-term df agg inside build_index_shards
        heavy = spark.createDataFrame([], "term string, n_buckets long")

    dict_meta: dict = {}
    if transfer == "auto":
        # dict pays off whenever the exact vocab is in hand and fits a
        # broadcast; row is the universal fallback (unbounded vocabularies).
        # The fit test is BYTES, not just row count (ADVICE round 4): a
        # broadcast hash relation costs ~64 B/row of UnsafeRow + map
        # overhead on top of the term bytes, and the encode keeps TWO
        # broadcasts alive (the term_id join and the restore join), so
        # est ≈ n_vocab × (avg_term_len + 64) × 2.  Budget: 128 MB, or 10%
        # of the smallest executor's storage memory if that is less —
        # memory-tight executors (the 4 GB bench config) must not spend
        # their storage region on the dictionary.
        transfer = "row"
        if n_vocab is not None and n_vocab <= dict_max_vocab:
            # sum(length(term)) was folded into the id-assignment count job
            # (assign_docids stats_aggs) — no separate agg job here
            sum_len = vstats.get("sum_term_len") or 0
            avg_len = sum_len / max(n_vocab, 1)
            est_bcast = int(n_vocab * (avg_len + 64) * 2)
            _, min_exec_storage = _executor_storage_info(spark)
            budget = 128 * 1024 * 1024
            if min_exec_storage:
                budget = min(budget, int(min_exec_storage * 0.10))
            dict_meta = {"dict_bcast_est_bytes": est_bcast,
                         "dict_bcast_budget_bytes": budget}
            if est_bcast <= budget:
                transfer = "dict"

    import json
    import os

    os.makedirs(paths.manifest, exist_ok=True)
    with open(os.path.join(paths.manifest, "build_manifest.json"), "w") as f:
        json.dump({"n_docs": n_docs, "sum_doclen": sum_doclen,
                   "term_partitions": term_partitions,
                   "salt_target": salt_target, "block_size": block_size,
                   "sampling": sample_meta,
                   "cache_postings": str(cache_postings),
                   "cache_decision": cache_meta or {},
                   "transfer": transfer, "n_vocab": n_vocab, **dict_meta,
                   "n_heavy_terms": len(heavy_rows),
                   "heavy_terms": sorted(r["term"] for r in heavy_rows)},
                  f, indent=1, sort_keys=True)
    t["sample"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()

    shards = build_index_shards(postings, float(avgdl),
                                salt_target=salt_target,
                                num_partitions=term_partitions,
                                block_size=block_size, heavy=heavy,
                                transfer=transfer,
                                vocab=(vocab if transfer == "dict" else None))
    # Output-file sizing (guide §6): the encoded rows are ~250x smaller than
    # the postings that produced them, so the encode partition count (sized
    # for the shuffle+sort+encode CPU work) over-fragments the written
    # table — one ~hundreds-of-KB file per task at toy scale, and every
    # downstream scan pays a task + footer per file.  Repartition the
    # encoded rows by term into a data-sized file count before the write:
    # hash(term) keeps all sub-shards of a term in one file, and the
    # sortWithinPartitions keeps rows term-clustered so parquet row-group
    # min/max pruning on term is preserved (the encode partitioning was
    # hash(term,salt), so file-LEVEL term clustering never existed — this
    # loses nothing).  The extra exchange moves only the encoded blobs
    # (~4 B/posting), a rounding error next to the postings shuffle.
    n_shard_files = _n_output_files(
        int(sum_doclen or 0) * _EST_BLOB_BYTES_PER_POSTING,
        cap=term_partitions)
    if n_shard_files < term_partitions:
        shards = (shards.repartition(n_shard_files, "term")
                  .sortWithinPartitions("term", "shard"))
    # rows reach the writer (term, shard)-sorted per partition → parquet
    # row-group min/max stats prune on term; write once, derive the
    # global lexicon from the written table's tiny (term, df_shard) columns
    # (or, when the exact per-term df is already persisted, from that).
    # Row groups are capped at 16 MB (parquet default: 128 MB): with the
    # data-sized files above, a point query on a 128 MB-row-group table
    # would decode a whole row group per term — 16 MB keeps the min/max
    # pruning granularity that serves single-term reads while staying far
    # above the many-tiny-row-groups regime.  No effect at bench scale
    # (the whole 100k-doc table is one 14 MB group either way).
    (shards.write.mode("overwrite")
     .option("parquet.block.size", 16 * 1024 * 1024)
     .parquet(paths.shards))
    if postings_cache is not None:
        postings_cache.unpersist()
    t["encode"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    if vocab is not None:
        vocab.select("term", "df").write.mode("overwrite").parquet(
            paths.lexicon)
        vocab_handle.unpersist()
    else:
        (spark.read.parquet(paths.shards)
         .groupBy("term").agg(F.sum("df_shard").alias("df"))
         .write.mode("overwrite").parquet(paths.lexicon))
    t["lexicon"] = round(time.perf_counter() - t0, 3)
    return paths
