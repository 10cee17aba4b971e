"""Driver-side reads of a persisted index — the only code in the query layer
that opens index tables on the driver.

The reference engine reads its metadata and global lexicon once at start-up
and answers every query through that one `Index` (engine.cpp:30-59,
Index.template.hpp:35-37).  `IndexReader` is that object here: the exact
path (`query.Searcher`), the BMM path (`bmm.search_bmm`) and the in-process
serving reader (`local_engine.LocalSearcher`) all read through it.

Backend: decided ONCE, at open.  When pyarrow can reach the root's
filesystem, every driver read is a pyarrow dataset scan with the key
predicate pushed down (row-group pruning on the term-sorted shard and
lexicon tables and the docid-ordered docmap).  When it cannot
(`s3a://`, or `hdfs://` without libhdfs) and a Spark session was given,
every driver read goes through Spark instead (`select` + pushed `filter` +
`toArrow`); `io` records which.  After open nothing falls back: a missing
or corrupt table raises.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from functools import cached_property
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchenginepp_spark.operators.bmm import _ListCursor
from searchenginepp_spark.operators.index_build import IndexPaths

_SHARD_COLS = ["term", "df_shard", "docid_blob", "tf_blob", "doclen_blob",
               "sigma_bm25_part", "sigma_tfidf_part", "avgdl_encode", "skips"]

# Entries of the serving cache, shared by cursor lists (one per term and
# scorer) and docnos (one per docid); the least recently used goes first.
_CACHE_ENTRIES = 100_000


def _column_dict(tbl: pa.Table, key: str, value: str) -> dict:
    return dict(zip(tbl.column(key).to_pylist(), tbl.column(value).to_pylist()))


class IndexReader:
    """Stats, lexicon, shard cursors, docnos and Spark frames of one index
    directory.  `spark` is needed for the Spark frames (`shards`,
    `docmap`) and for roots pyarrow cannot reach."""

    def __init__(self, root: str, spark: SparkSession | None = None):
        self.paths = IndexPaths(root)
        self.spark = spark
        try:
            # from_uri rejects relative local paths, which pyarrow reads fine
            pafs.FileSystem.from_uri(root if "://" in root
                                     else os.path.abspath(root))
            self.io = "pyarrow"
        except (pa.ArrowInvalid, OSError):
            if spark is None:
                raise
            self.io = "spark"
        self._datasets: dict[str, pads.Dataset] = {}
        self._frames: dict[str, DataFrame] = {}
        self._cache: OrderedDict = OrderedDict()
        stats = self._read("stats", ["n_docs", "sum_doclen"]).to_pylist()[0]
        self.n_docs = int(stats["n_docs"])
        self.avgdl = (stats["sum_doclen"] / self.n_docs) if self.n_docs else 0.0

    # ------------------------------------------------------------ raw reads

    def _frame(self, table: str) -> DataFrame:
        df = self._frames.get(table)
        if df is None:
            df = self._frames[table] = self.spark.read.parquet(
                getattr(self.paths, table))
        return df

    def _dataset(self, table: str) -> pads.Dataset:
        ds = self._datasets.get(table)
        if ds is None:
            ds = self._datasets[table] = pads.dataset(
                getattr(self.paths, table), format="parquet")
        return ds

    def _read(self, table: str, columns: list[str], key: str | None = None,
              values: list | None = None) -> pa.Table:
        """`columns` of one table, restricted to the rows whose `key` is in
        `values` (the predicate is pushed into the scan)."""
        if self.io == "spark":
            df = self._frame(table).select(*columns)
            if key is not None:
                df = df.filter(F.col(key).isin(values))
            return df.toArrow()
        return self._dataset(table).to_table(
            columns=columns,
            filter=None if key is None else pads.field(key).isin(values))

    @property
    def shards(self) -> DataFrame:
        """Spark frame over the shard table, created once per reader."""
        return self._frame("shards")

    @property
    def docmap(self) -> DataFrame:
        """Spark frame over the docmap, created once per reader."""
        return self._frame("docmap")

    # -------------------------------------------------------------- lexicon

    def df(self, terms: list[str]) -> dict[str, int]:
        """term → global df for those of `terms` in the index.  Reads only
        their lexicon rows, so the full lexicon never lands on a Spark
        driver."""
        return _column_dict(self._read("lexicon", ["term", "df"], "term", terms),
                            "term", "df")

    def lexicon(self) -> dict[str, int]:
        """The whole term → df dict (the serving reader holds it: a per-query
        slice read would cost more than a first-touch query)."""
        return _column_dict(self._read("lexicon", ["term", "df"]), "term", "df")

    # ------------------------------------------------- cursors and docnos

    def _cached(self, kind: str, keys: list, load) -> dict:
        """key → value for `keys` through the shared LRU; `load(missing)`
        returns the values not cached.  The result holds every value even
        when one call loads more than the cache keeps."""
        out, missing = {}, []
        for key in keys:
            hit = self._cache.get((kind, key))
            if hit is None:
                missing.append(key)
            else:
                self._cache.move_to_end((kind, key))
                out[key] = hit
        if missing:
            fresh = load(missing)
            for key, val in fresh.items():
                self._cache[(kind, key)] = val
                if len(self._cache) > _CACHE_ENTRIES:
                    self._cache.popitem(last=False)
            out.update(fresh)
        return out

    @cached_property
    def _shard_cols(self) -> list[str]:
        names = (self._frame("shards").columns if self.io == "spark"
                 else self._dataset("shards").schema.names)
        return [c for c in _SHARD_COLS if c in names]   # pre-avgdl indexes

    def cursors(self, terms: list[str], scorer: str,
                df_by_term: dict[str, int]) -> dict[str, list[_ListCursor]]:
        """term → its (term, shard) posting-list cursors for `scorer`; a
        lexicon term with no shard rows maps to [].  Only the cursors are
        cached, not the arrow rows they were built from."""
        def load(missing):
            fresh: dict[str, list] = {t: [] for t in missing}
            tbl = self._read("shards", self._shard_cols, "term", missing)
            for row in tbl.to_pylist():
                row["df_global"] = df_by_term[row["term"]]
                row["n_docs_f"] = float(self.n_docs)
                row["avgdl_f"] = float(self.avgdl)
                fresh[row["term"]].append(
                    _ListCursor(SimpleNamespace(**row), scorer))
            return fresh

        return self._cached(scorer, terms, load)

    def docnos(self, docids: list[int]) -> dict[int, str]:
        """docid → docno (the docmap is docid-ordered, so row-group stats
        prune the read)."""
        return self._cached("docno", docids, lambda missing: _column_dict(
            self._read("docmap", ["docid", "docno"], "docid", missing),
            "docid", "docno"))
