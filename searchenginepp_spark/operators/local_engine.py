"""Low-latency serving reader over the Spark-built index.

The reference engine answers queries in single-digit milliseconds from one
process (mmap + BMM, engine.cpp:15-140).  A Spark JOB has a ~100 ms-1 s
scheduling floor, which is the wrong tool for point queries — the Spark-
first split is: Spark builds/maintains the index tables; a serving process
reads them directly through pyarrow with predicate pushdown (parquet
row-group pruning on the term-sorted shard table — the same data skipping
the Spark scan gets; `index_reader.IndexReader` does the reads) and runs
the SAME MaxScore kernel and codecs in-process.

No Spark session is involved at query time; rank-identity with the
cluster paths is pinned by tests/test_local_engine.py.

Scale note: a serving node holds the global lexicon (term → df; tens of
MB per 10^8 terms) and streams posting blobs per query.  The docmap is
consulted only for the final k docnos via a filtered read (docmap parquet
is docid-ordered ⇒ row-group stats prune).  Posting-list cursors and
docnos stay in the reader's one bounded LRU, so repeat terms skip the
parquet read (the analogue of the reference's warm mmap pages).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np

from searchenginepp_spark.config import (
    BM25_B, BM25_K1, DEFAULT_TOP_K,
)
from searchenginepp_spark.operators.bmm import _make_scorer, maxscore_query
from searchenginepp_spark.operators.index_reader import IndexReader


class LocalSearcher:
    """In-process top-k search over a persisted index directory."""

    def __init__(self, index_root: str, stem: bool = True):
        self.reader = IndexReader(index_root)
        self.stem = stem
        self.df_by_term = self.reader.lexicon()

    def search(self, queries: Iterable[tuple[int, str]],
               k: int = DEFAULT_TOP_K, scorer: str = "bm25",
               conjunctive: bool = False,
               round_to: int | None = 6) -> list[tuple[int, int, str, int, float]]:
        """→ [(qid, docid, docno, rank, score)] top-k — same results as
        query.Searcher.search (and bmm.search_bmm for the disjunctive
        case).  Disjunctive uses MaxScore; conjunctive intersects the
        (selective) lists exactly (reference AND-merge,
        Index.template.hpp:117-121; missing term ⇒ empty, :65-73)."""
        from searchenginepp_spark.operators.query import query_terms_local

        scorer_fn = _make_scorer(scorer, float(self.reader.avgdl), BM25_K1,
                                 BM25_B)
        eps = 10.0 ** -round_to if round_to is not None else 0.0
        qt = query_terms_local(queries, stem=self.stem)
        by_qid: dict[int, list[str]] = {}
        for qid, term in qt:
            by_qid.setdefault(qid, []).append(term)
        all_terms = sorted({t for _, t in qt if t in self.df_by_term})
        cursors_by_term = self.reader.cursors(all_terms, scorer,
                                              self.df_by_term)

        out: list[tuple[int, int, str, int, float]] = []
        need_docids: set[int] = set()
        per_q: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for qid, terms in by_qid.items():
            if conjunctive and any(t not in self.df_by_term for t in terms):
                continue
            lists = [c for t in terms for c in cursors_by_term.get(t, [])]
            if not lists:
                continue
            if conjunctive:
                ids, sc = self._conjunctive(terms, cursors_by_term, scorer_fn)
                if ids.size == 0:
                    continue
            else:
                # group salted sub-shards by term: disjoint docid sets, so
                # MaxScore bounds each group by max(sub σ), not Σ sub σ
                grp = [t for t in terms for _ in cursors_by_term.get(t, [])]
                ids, sc = maxscore_query(lists, k, scorer_fn, eps=eps,
                                         groups=grp)
            if round_to is not None:
                sc = np.round(sc, round_to)
            order = np.lexsort((ids, -sc))[:k]
            per_q[qid] = (ids[order], sc[order])
            need_docids.update(ids[order].tolist())

        docno = self.reader.docnos(sorted(need_docids))
        return self._format(per_q, docno, out)

    def _conjunctive(self, terms, cursors_by_term, scorer_fn):
        """Exact AND-merge: per term, union its (salted) sub-lists, then
        intersect across terms and sum scores.  Fully vectorized (round 5 —
        the old per-doc Python dict walk cost seconds on two head-term
        lists): the running intersection is docid-sorted, each next term
        located with one searchsorted; terms are visited smallest-df first
        so the running set shrinks as fast as the data allows (intersection
        + sum is order-independent, so ranking is unchanged)."""
        uniq = list(dict.fromkeys(terms))       # dedupe, keep order
        uniq.sort(key=lambda t: self.df_by_term.get(t, 0))
        ids = None
        acc = None
        for t in uniq:
            if ids is None:
                # the smallest-df list seeds the running intersection; a
                # lexicon term with zero shard cursors (inconsistent index)
                # intersects to empty rather than raising (ADVICE round 5)
                t_ids, t_sc = [], []
                for cur in cursors_by_term.get(t, []):
                    i, s = cur.decode_all(scorer_fn)
                    t_ids.append(i)
                    t_sc.append(s)
                if not t_ids:
                    return (np.empty(0, dtype=np.int64),
                            np.empty(0, dtype=np.float64))
                if len(t_ids) == 1:             # unsalted: already sorted
                    ids, acc = t_ids[0], t_sc[0]
                else:
                    ids = np.concatenate(t_ids)  # salted sub-lists are
                    acc = np.concatenate(t_sc)   # docid-disjoint → unique
                    order = np.argsort(ids)
                    ids, acc = ids[order], acc[order]
            else:
                # later (larger) lists: decode only the blocks a surviving
                # candidate lands in — the skip-array analogue of the
                # reference's nextGEQ AND-merge (Index.template.hpp:117-121,
                # nextGEQ never decodes skipped blocks, Index.cpp:181-214)
                add = np.zeros(ids.size, dtype=np.float64)
                hit_any = np.zeros(ids.size, dtype=bool)
                for cur in cursors_by_term.get(t, []):  # cand hits ≤ 1 sub-list
                    blk = np.searchsorted(cur.last_docids, ids, side="left")
                    in_r = blk < cur.n_blocks
                    if not in_r.any():
                        continue
                    mask = np.zeros(cur.n_blocks, dtype=bool)
                    mask[blk[in_r]] = True
                    span_ids, span_sc = cur.decode_selected(
                        np.flatnonzero(mask), scorer_fn)
                    if span_ids.size == 0:
                        continue
                    pos = np.searchsorted(span_ids, ids)
                    ok = pos < span_ids.size
                    hit = np.zeros(ids.size, dtype=bool)
                    hit[ok] = span_ids[pos[ok]] == ids[ok]
                    add[hit] += span_sc[pos[hit]]
                    hit_any |= hit
                ids = ids[hit_any]
                acc = acc[hit_any] + add[hit_any]
            if ids.size == 0:
                break
        if ids is None or ids.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        return ids, acc

    def _format(self, per_q, docno, out):
        for qid in sorted(per_q):
            ids, sc = per_q[qid]
            for rank, (d, s) in enumerate(zip(ids.tolist(), sc.tolist()), 1):
                out.append((qid, d, docno[d], rank, s))
        return out
