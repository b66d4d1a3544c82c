"""Distributed top-k BM25 search over the segment index.

Execution restates the reference's per-segment search lifecycle in Spark
(search/IndexSearcher.java:507-522 + the fork's ParallelSearchStrategy,
search/ParallelSearchStrategy.java:38-137):

  1. plan once (SparkSearcher._plan -> QueryPlan): parse, multiterm rewrite
     of q and fq, the prune decision, *global* term statistics
     (IndexSearcher.collectionStatistics/termStatistics, :597-625), idf and
     clause weights, and the zero-df short-circuit. Statistics come from a
     Spark aggregation over the postings (distributed) or pyarrow reads
     (resident), cached per searcher either way
  2. schedule the per-segment step: one leaf, one task — a Spark task per
     segment directory (distributed) or a driver thread (resident). The
     step is always the same: read the segment's postings for the plan's
     terms with one pyarrow reader (term-in filter pruning row groups of
     the term-sorted file, which plays BlockTree's role), then run the
     kernel. No postings scan, no shuffle: only the kernel's mergeable
     per-leaf top-k state leaves the task, exactly like the fork's
     CollectionState (TopScoreDocCollector.java:331-379)
  3. the kernel (_score_segment) is numpy over decoded posting blocks:
       - conjunctions: rarest-first leapfrog via skip-list selective block
         decode (ConjunctionScorer.java:57-100 + Lucene41SkipReader)
       - disjunctions: exact MaxScore/block-max pruning — clauses whose
         summed upper bound cannot reach the running kth score are demoted
         to lookup-only mode (candidate-driven selective decode). Upper
         bounds come from per-block (max tf, max norm byte) metadata; the
         result is bit-identical to exhaustive evaluation.
       - float32 score accumulation in clause order (rank-identity with the
         oracle; BM25Similarity.java:222-237)
  4. global merge: per-segment top-k rows -> orderBy(score desc, docid asc)
     LIMIT k (Spark TakeOrderedAndProject — Solr's mergeIds,
     solr/core/.../handler/component/QueryComponent.java:887-923; the
     resident path sorts the same keys in pandas)
  5. two-phase field fetch: only the winning docids join back to the docmap
     (GET_FIELDS stage, QueryComponent.java:626-655) via a broadcast join,
     so document bodies never shuffle.
"""

from __future__ import annotations

import functools
import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index import codec
from ..index import manifest as manifest_mod
from . import bm25
from .query import Query, parse_query

RESULT_SCHEMA = "docid long, score float"


def _publish_dir(write_fn, path: str) -> None:
    """Atomically publish a Spark-written directory: write to a unique
    temp sibling, then os.rename into place (the same single-rename
    commit manifest.commit uses). Concurrent lazy builders race safely —
    the rename loser removes its temp and reads the winner's output; a
    concurrent reader can never observe a partially written ``path``."""
    import shutil
    import uuid

    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    write_fn(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            raise


@functools.lru_cache(maxsize=512)
def _read_norms_keyed(path: str, _mtime_ns: int, _size: int) -> np.ndarray:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["norms"])
    return np.frombuffer(t["norms"][0].as_py(), dtype=np.uint8)


def _read_norms(seg_dir: str) -> np.ndarray:
    # row 0 is always the default "text" field (multi-field files append
    # extra fields after it). The cache key carries the file's identity
    # (mtime + size), so a segment REBUILT at the same path — build_index
    # re-run with a changed corpus — invalidates naturally; published
    # segments are immutable so cache hits are the common case (serves the
    # resident searcher and reused executor workers alike).
    path = os.path.join(seg_dir, "norms.parquet")
    st = os.stat(path)
    return _read_norms_keyed(path, st.st_mtime_ns, st.st_size)


def _read_field_norms(
    seg_dir: str, field: str, missing_ok: bool = False
) -> tuple[np.ndarray, int]:
    """(norm bytes, sum_len) for one analyzed field; single-field segments
    (no 'field' column) only carry 'text'. With ``missing_ok`` a segment
    lacking the field yields all-zero norms (its docs have no tokens in
    that field — heterogeneous indexes arise when a single-field index is
    later appended with multi-field batches)."""
    import pyarrow.parquet as pq

    path = os.path.join(seg_dir, "norms.parquet")
    f = pq.ParquetFile(path)
    names = f.schema_arrow.names
    t = pq.read_table(path)
    fields = t["field"].to_pylist() if "field" in names else ["text"]
    if field in fields:
        idx = fields.index(field)
        return (
            np.frombuffer(t["norms"][idx].as_py(), dtype=np.uint8),
            int(t["sum_len"][idx].as_py()),
        )
    if missing_ok:
        return np.zeros(int(t["max_doc"][0].as_py()), np.uint8), 0
    raise KeyError(f"segment {seg_dir} has no field {field!r}")


def _read_postings(seg_dir: str, terms: list[str], need_pos: bool) -> pd.DataFrame:
    """One segment's postings rows for ``terms``: a direct pyarrow read
    whose term-in filter prunes row groups of the term-sorted file. The
    only postings reader of the per-segment step, on the driver and on
    executors alike."""
    import pyarrow.parquet as pq

    cols = [
        "segment_id", "term", "df", "ttf", "blocks", "skip_last",
        "skip_off", "skip_max_tf", "skip_max_norm",
    ]
    # positions ride only when a phrase or span needs them (the .doc/.pos
    # file split of the reference codec)
    if need_pos:
        cols += ["positions", "skip_pos_off"]
    t = pq.read_table(
        os.path.join(seg_dir, "postings.parquet"),
        columns=cols,
        filters=[("term", "in", terms)],
    )
    return t.to_pandas()


@dataclass
class QueryPlan:
    """A query prepared once by SparkSearcher._plan: everything the
    per-segment kernel needs, picklable so either scheduler can ship it."""

    q: Query
    fqq: Query | None  # filter query (Solr fq), rewritten
    terms: list[str]  # postings to read: q's and fqq's terms
    need_pos: bool  # a phrase clause needs the positions columns
    seg_meta: dict
    wv: list  # per-clause weight values (_weights_for)
    cache: np.ndarray  # BM25 norm cache for the index avgdl
    k: int
    prune: bool
    after: tuple | None = None  # searchAfter (score, docid)
    count_only: bool = False  # one row per segment: (-1, hit count)
    all_hits: bool = False  # every match, not the top k
    fq_docids: object = None  # filterCache set: sorted global docids


class _Row:
    """Decoded-on-demand postings row for one (segment, term)."""

    __slots__ = ("df", "blocks", "positions", "skip_last", "skip_off",
                 "skip_pos_off", "skip_max_tf", "skip_max_norm", "_full")

    def __init__(self, r: pd.Series):
        self.df = int(r["df"])
        self.blocks = r["blocks"]
        # positions are column-pruned out of the read for position-free
        # queries (the .doc/.pos file split of the reference codec)
        self.positions = r["positions"] if "positions" in r else b""
        self.skip_last = np.asarray(r["skip_last"], dtype=np.int64)
        self.skip_off = np.asarray(r["skip_off"], dtype=np.int64)
        self.skip_pos_off = (
            np.asarray(r["skip_pos_off"], dtype=np.int64)
            if "skip_pos_off" in r
            else np.zeros(0, np.int64)
        )
        self.skip_max_tf = np.asarray(r["skip_max_tf"], dtype=np.int64)
        self.skip_max_norm = np.asarray(r["skip_max_norm"], dtype=np.int64)
        self._full = None

    def decode_all(self) -> tuple[np.ndarray, np.ndarray]:
        if self._full is None:
            self._full = codec.decode_blocks(
                self.blocks, self.df, self.skip_off, self.skip_last
            )
        return self._full

    def lookup(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """tfs for sorted candidate ids; absent ids get tf=0.

        Skip-list path: only blocks that can contain a candidate are decoded
        (the DocIdSetIterator.advance analog, Lucene41PostingsReader.java:474-510).
        """
        if len(ids) == 0:
            return ids, np.zeros(0, np.int64)
        if self._full is not None:
            d, t = self._full
        else:
            nblocks = len(self.skip_last)
            bids = np.searchsorted(self.skip_last, ids, side="left")
            bids = np.unique(bids[bids < nblocks])
            d, t = codec.decode_blocks(
                self.blocks, self.df, self.skip_off, self.skip_last, bids
            )
        pos = np.searchsorted(d, ids)
        pos_c = np.minimum(pos, max(len(d) - 1, 0))
        present = np.zeros(len(ids), dtype=bool)
        if len(d):
            present = d[pos_c] == ids
        tfs = np.zeros(len(ids), dtype=np.int64)
        tfs[present] = t[pos_c[present]]
        return ids, tfs

    def ub(self, cache: np.ndarray, wv: np.float32) -> np.float32:
        """Term-level score upper bound from per-block (max tf, max norm)."""
        if self.df == 0:
            return np.float32(0.0)
        s = bm25.score_freqs(self.skip_max_tf, self.skip_max_norm, cache, wv)
        return np.float32(s.max())

    def positions_flat(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Flat positions for sorted candidate ids (all present in this row).

        Returns (counts, flat): counts[j] = tf of ids[j], flat = their
        positions concatenated doc-major. Vectorized per BLOCK (decode the
        block's whole position stream once, gather the selected docs'
        slices with a segmented arange) — no per-doc Python loop
        (ExactPhraseScorer.java:137-177 restated batch-wise)."""
        bids = np.searchsorted(self.skip_last, ids, side="left")
        counts = np.empty(len(ids), dtype=np.int64)
        parts: list[np.ndarray] = []
        for b in np.unique(bids):
            d, t = codec.decode_blocks(
                self.blocks, self.df, self.skip_off, self.skip_last, np.array([b])
            )
            total = int(t.sum())
            deltas = codec.varint_decode(
                self.positions, count=total, offset=int(self.skip_pos_off[b])
            )
            ends = np.cumsum(t)
            starts = ends - t
            reset = np.zeros(total, dtype=np.int64)
            reset[starts] = 1
            grp = np.cumsum(reset) - 1
            c = np.cumsum(deltas)
            abs_pos = c - (c[starts] - deltas[starts])[grp]
            m = bids == b
            sel = ids[m]
            idx = np.searchsorted(d, sel)
            sel_counts = t[idx]
            counts[m] = sel_counts
            tot_sel = int(sel_counts.sum())
            if tot_sel:
                base = np.repeat(starts[idx], sel_counts)
                within = np.arange(tot_sel) - np.repeat(
                    np.cumsum(sel_counts) - sel_counts, sel_counts
                )
                parts.append(abs_pos[base + within])
        flat = np.concatenate(parts) if parts else np.zeros(0, np.int64)
        return counts, flat

    def positions_for(self, ids: np.ndarray) -> list[np.ndarray]:
        """Per-candidate position arrays (ids sorted, all present)."""
        counts, flat = self.positions_flat(ids)
        return np.split(flat, np.cumsum(counts)[:-1])


def _score_segment(plan: QueryPlan, pdf: pd.DataFrame) -> pd.DataFrame:
    q, wv_by_clause, cache, k = plan.q, plan.wv, plan.cache, plan.k
    meta = plan.seg_meta[pdf["segment_id"].iloc[0]]
    norms = _read_norms(meta["dir"])
    doc_base = meta["doc_base"]

    rows = {t: _Row(r) for t, r in ((r["term"], r) for _, r in pdf.iterrows())}

    clauses = q.clauses
    required_idx = [i for i, c in enumerate(clauses) if c.required]
    cand_ids: np.ndarray | None = None  # candidates when required clauses exist

    # ---- filter query (Solr fq / FilteredQuery.java:41-70): resolve the
    # filter's doc-set FIRST so every scored clause is restricted before the
    # pruning threshold sees it (a post-hoc intersection would make MaxScore
    # demote against unfiltered scores and drop true top-k docs) ----
    fset: np.ndarray | None = None
    if plan.fqq is not None:
        fset = _filter_docset(plan.fqq, rows, meta["max_doc"])
        if len(fset) == 0:
            return _empty_pdf()
    if plan.fq_docids is not None:
        # filterCache path: slice this segment's range out of the cached
        # GLOBAL docid set (sorted), rebase to local ids
        g = plan.fq_docids
        g = g.value if hasattr(g, "value") else g
        lo = int(np.searchsorted(g, doc_base))
        hi = int(np.searchsorted(g, doc_base + meta["max_doc"]))
        local = g[lo:hi] - doc_base
        fset = (
            local if fset is None
            else fset[np.isin(fset, local, assume_unique=True)]
        )
        if len(fset) == 0:
            return _empty_pdf()

    # ---- required-clause intersection (rarest-first leapfrog) ----
    if required_idx:
        for i in required_idx:
            c = clauses[i]
            if c.kind == "term" and c.terms[0] not in rows:
                return _empty_pdf()
            if c.kind == "phrase" and not _phrase_present(c, rows):
                return _empty_pdf()
            if c.kind == "term_set" and not any(t in rows for t in c.terms):
                return _empty_pdf()
        term_req = [i for i in required_idx if clauses[i].kind == "term"]
        set_req = [i for i in required_idx if clauses[i].kind == "term_set"]
        bool_req = [i for i in required_idx if clauses[i].kind == "bool"]
        phrase_req = [i for i in required_idx if clauses[i].kind == "phrase"]
        order = sorted(term_req, key=lambda i: rows[clauses[i].terms[0]].df)
        if order:
            lead = rows[clauses[order[0]].terms[0]]
            ids, _ = lead.decode_all()
            cand_ids = ids
            if fset is not None:
                cand_ids = cand_ids[np.isin(cand_ids, fset, assume_unique=True)]
                if len(cand_ids) == 0:
                    return _empty_pdf()
            for i in order[1:]:
                r = rows[clauses[i].terms[0]]
                _, tfs = r.lookup(cand_ids)
                cand_ids = cand_ids[tfs > 0]
                if len(cand_ids) == 0:
                    return _empty_pdf()
        for i in set_req:
            # required multi-term expansion: doc must contain ANY set term
            # (ConstantScore doc-set intersected into the conjunction)
            union = _set_union_ids(clauses[i], rows)
            if cand_ids is None:
                cand_ids = union
            else:
                cand_ids = cand_ids[np.isin(cand_ids, union, assume_unique=True)]
            if len(cand_ids) == 0:
                return _empty_pdf()
        for i in bool_req:
            # required nested group: intersect its boolean doc-set
            sub_set = _filter_docset(clauses[i].sub, rows, meta["max_doc"])
            if cand_ids is None:
                cand_ids = sub_set
            else:
                cand_ids = cand_ids[np.isin(cand_ids, sub_set, assume_unique=True)]
            if len(cand_ids) == 0:
                return _empty_pdf()
        for i in phrase_req:
            ids_p, _f = _phrase_freqs(clauses[i], rows, cand_ids)
            cand_ids = ids_p
            if len(cand_ids) == 0:
                return _empty_pdf()
        if cand_ids is not None and fset is not None:
            cand_ids = cand_ids[np.isin(cand_ids, fset, assume_unique=True)]
            if len(cand_ids) == 0:
                return _empty_pdf()

    # ---- pure-OR candidate generation with exact MaxScore pruning ----
    lookup_only: set[int] = set()
    if cand_ids is None:
        present = [
            i
            for i, c in enumerate(clauses)
            if (c.kind == "term" and c.terms[0] in rows)
            or (c.kind == "phrase" and _phrase_present(c, rows))
            or (c.kind == "term_set" and any(t in rows for t in c.terms))
            or c.kind == "bool"  # nested: evaluated via its doc-set
        ]
        if not present:
            return _empty_pdf()
        ubs = {}
        for i in present:
            c = clauses[i]
            if c.kind == "term":
                ubs[i] = float(rows[c.terms[0]].ub(cache, wv_by_clause[i]))
            elif c.kind == "bool":
                # nested groups disable pruning (_plan forces
                # prune=False); 0 only orders the accumulation
                ubs[i] = 0.0
            elif c.kind == "term_set":
                # constant-score clause: the score IS the bound
                ubs[i] = float(wv_by_clause[i])
            else:
                r0 = min((rows[t] for t in c.terms if t in rows),
                         key=lambda r: r.df)
                if getattr(c, "slop", 0) > 0:
                    # sloppy freq sums 1/(dist+1) over minimal windows — one
                    # window per advanced position — so it can EXCEED any
                    # single term's tf (SloppyPhraseScorer.java:48). Valid
                    # bound: freq <= sum of the clause terms' tfs; score the
                    # summed global block-max tfs at the min-df term's most
                    # favorable (largest) norm byte.
                    freq_ub = sum(int(rows[t].skip_max_tf.max())
                                  for t in c.terms if t in rows)
                    ubs[i] = float(
                        bm25.score_freqs(
                            np.full(len(r0.skip_max_norm), freq_ub, np.int64),
                            r0.skip_max_norm, cache, wv_by_clause[i],
                        ).max()
                    )
                else:
                    # exact phrase: freq = alignment count <= the cheapest
                    # slot's union tf; BM25 tf-saturation is concave with
                    # score(0)=0, hence subadditive, so summing the slot's
                    # per-alternative bounds stays valid for MultiPhrase
                    slots = _phrase_slots(c)
                    cheapest = min(
                        ([rows[t] for t in sl if t in rows] for sl in slots),
                        key=lambda rs: sum(r.df for r in rs),
                    )
                    ubs[i] = float(
                        sum(r.ub(cache, wv_by_clause[i]) for r in cheapest)
                    )
        order = sorted(present, key=lambda i: -ubs[i])
        acc_ids = np.zeros(0, np.int64)
        acc_sc = np.zeros(0, np.float32)
        for pos_i, i in enumerate(order):
            rest = order[pos_i:]
            rest_ub = sum(ubs[j] for j in rest)
            if plan.prune and len(acc_ids) >= k:
                theta = float(np.partition(acc_sc, len(acc_sc) - k)[len(acc_sc) - k])
                # float-summation slack (MaxScoreSumPropagator semantics,
                # search/MaxScoreSumPropagator.java:60-74): true scores are
                # float32 clause-order sums that can exceed the double sum
                # of per-clause bounds by ULPs — scale up before demoting
                if rest_ub * (1.0 + len(clauses) * 2.0 ** -24) < theta:
                    lookup_only.update(rest)
                    break
            c = clauses[i]
            if c.kind == "term":
                ids, tfs = rows[c.terms[0]].decode_all()
                s = bm25.score_freqs(tfs, norms[ids], cache, wv_by_clause[i])
            elif c.kind == "bool":
                # candidates = the group's boolean doc-set; scores are
                # recomputed in the rescore phase (pruning is off)
                ids = _filter_docset(c.sub, rows, meta["max_doc"])
                s = np.zeros(len(ids), np.float32)
            elif c.kind == "term_set":
                ids = _set_union_ids(c, rows)
                s = np.full(len(ids), np.float32(wv_by_clause[i]), np.float32)
            else:
                ids, freqs = _phrase_freqs(c, rows, None)
                s = bm25.score_freqs(freqs, norms[ids], cache, wv_by_clause[i])
            if fset is not None:
                m = np.isin(ids, fset, assume_unique=True)
                ids, s = ids[m], s[m]
            both = np.concatenate([acc_ids, ids])
            merged, inv = np.unique(both, return_inverse=True)
            sc = np.zeros(len(merged), dtype=np.float32)
            np.add.at(sc, inv[: len(acc_ids)], acc_sc)
            np.add.at(sc, inv[len(acc_ids):], s)
            acc_ids, acc_sc = merged, sc
        cand_ids = acc_ids

    if len(cand_ids) == 0:
        return _empty_pdf()

    # ---- prohibited clauses (ReqExclScorer semantics) ----
    for t in q.must_not:
        r = rows.get(t)
        if r is not None:
            _, tfs = r.lookup(cand_ids)
            cand_ids = cand_ids[tfs == 0]
            if len(cand_ids) == 0:
                return _empty_pdf()

    # ---- exact rescore in original clause order (float32 rank identity) ----
    n = len(cand_ids)
    total = np.zeros(n, dtype=np.float32)
    matched_any = np.zeros(n, dtype=bool)
    opt_count = np.zeros(n, dtype=np.int32)
    dismax_tie = getattr(q, "dismax_tie", None)
    if dismax_tie is not None:
        dm_best = np.zeros(n, dtype=np.float32)
        dm_sum = np.zeros(n, dtype=np.float32)
    for i, c in enumerate(clauses):
        contrib = np.zeros(n, dtype=np.float32)
        if c.kind == "term":
            r = rows.get(c.terms[0])
            if r is not None:
                _, tfs = r.lookup(cand_ids)
                m = tfs > 0
                if m.any():
                    contrib[m] = bm25.score_freqs(
                        tfs[m], norms[cand_ids[m]], cache, wv_by_clause[i]
                    )
                matched_any |= m
                if not c.required:
                    opt_count += m
        elif c.kind == "bool":
            sub_s, sub_m = _score_subquery(
                c.sub, rows, cand_ids, norms, cache, wv_by_clause[i]
            )
            if sub_m.any():
                contrib[sub_m] = sub_s[sub_m]
            matched_any |= sub_m
            if not c.required:
                opt_count += sub_m
        elif c.kind == "term_set":
            union = _set_union_ids(c, rows)
            m = np.isin(cand_ids, union, assume_unique=True)
            if m.any():
                contrib[m] = np.float32(wv_by_clause[i])
            matched_any |= m
            if not c.required:
                opt_count += m
        else:
            if _phrase_present(c, rows):
                ids_p, freqs = _phrase_freqs(c, rows, cand_ids)
                if len(ids_p):
                    pos = np.searchsorted(cand_ids, ids_p)
                    contrib[pos] = bm25.score_freqs(
                        freqs, norms[ids_p], cache, wv_by_clause[i]
                    )
                    matched_any[pos] = True
                    if not c.required:
                        opt_count[pos] += 1
        if dismax_tie is None:
            total = (total + contrib).astype(np.float32)
        else:
            dm_sum = (dm_sum + contrib).astype(np.float32)
            dm_best = np.maximum(dm_best, contrib)
    if dismax_tie is not None:
        # DisjunctionMaxQuery (DisjunctionMaxQuery.java:45-54):
        # max clause score + tieBreaker * sum of the other clause scores
        total = (
            dm_best + (np.float32(dismax_tie) * (dm_sum - dm_best)).astype(np.float32)
        ).astype(np.float32)

    keep = matched_any
    if q.min_should_match:
        keep &= opt_count >= q.min_should_match
    cand_ids, total = cand_ids[keep], total[keep]
    if plan.after is not None and len(cand_ids):
        a_s, a_d = np.float32(plan.after[0]), np.int64(plan.after[1])
        m = (total < a_s) | ((total == a_s) & (cand_ids + doc_base > a_d))
        cand_ids, total = cand_ids[m], total[m]
    if plan.count_only:
        return pd.DataFrame(
            {"docid": np.array([-1], np.int64),
             "score": np.array([len(cand_ids)], np.float32)}
        )
    if len(cand_ids) == 0:
        return _empty_pdf()
    if plan.all_hits:
        # full DocSet (SolrIndexSearcher.getDocSet): every match, doc order
        return pd.DataFrame(
            {"docid": (cand_ids + doc_base).astype(np.int64),
             "score": total.astype(np.float32)}
        )
    sel = np.lexsort((cand_ids, -total))[:k]
    return pd.DataFrame(
        {"docid": (cand_ids[sel] + doc_base).astype(np.int64),
         "score": total[sel].astype(np.float32)}
    )


def _filter_docset(fqq: Query, rows: dict, max_doc: int) -> np.ndarray:
    """Resolve a filter query to its segment-local doc-set (sorted ids).

    Solr's fq / cached DocSet semantics (SolrIndexSearcher.java:151-153,
    getProcessedFilter): boolean structure only, no scores. Required clauses
    intersect, optional clauses union (with the min_should_match quota),
    prohibited terms subtract, nested bool clauses recurse; a purely
    negative fq is implicitly '*:* minus ...' (Solr's top-level-negative
    rewrite), hence the max_doc universe."""

    def clause_ids(c, within):
        if c.kind == "bool":
            sub = _filter_docset(c.sub, rows, max_doc)
            if within is None:
                return sub
            return within[np.isin(within, sub, assume_unique=True)]
        if c.kind == "term":
            r = rows.get(c.terms[0])
            if r is None:
                return np.zeros(0, np.int64)
            if within is None:
                return r.decode_all()[0]
            _, tfs = r.lookup(within)
            return within[tfs > 0]
        if c.kind == "term_set":
            u = _set_union_ids(c, rows)
            if within is None:
                return u
            return within[np.isin(within, u, assume_unique=True)]
        # phrase
        if not _phrase_present(c, rows):
            return np.zeros(0, np.int64)
        ids, _ = _phrase_freqs(c, rows, within)
        return ids

    req = [c for c in fqq.clauses if c.required]
    opt = [c for c in fqq.clauses if not c.required]
    s: np.ndarray | None = None
    if req:
        for c in req:
            s = clause_ids(c, s)
            if len(s) == 0:
                return s
        if opt and fqq.min_should_match:
            parts = [clause_ids(c, s) for c in opt]
            cat = np.concatenate([p for p in parts if len(p)] or
                                 [np.zeros(0, np.int64)])
            u, cnt = np.unique(cat, return_counts=True)
            quota = u[cnt >= fqq.min_should_match]
            s = s[np.isin(s, quota, assume_unique=True)]
    elif opt:
        parts = [clause_ids(c, None) for c in opt]
        parts = [p for p in parts if len(p)]
        if not parts:
            return np.zeros(0, np.int64)
        if fqq.min_should_match and len(parts) > 1:
            cat = np.concatenate(parts)
            u, cnt = np.unique(cat, return_counts=True)
            s = u[cnt >= fqq.min_should_match]
        else:
            s = parts[0] if len(parts) == 1 else np.unique(np.concatenate(parts))
    else:
        s = np.arange(max_doc, dtype=np.int64)  # pure-negative fq
    for t in fqq.must_not:
        r = rows.get(t)
        if r is not None and len(s):
            _, tfs = r.lookup(s)
            s = s[tfs == 0]
    return s


def _score_subquery(
    q: Query,
    rows: dict,
    cand_ids: np.ndarray,
    norms: np.ndarray,
    cache: np.ndarray,
    wv_list: list,
) -> tuple[np.ndarray, np.ndarray]:
    """Score a nested bool clause over the candidate ids: returns
    (float32 scores, matched mask). Same clause-order float32 accumulation
    as the top level, with the sub-scope's own required/mm/must_not
    semantics enforced per doc (BooleanQuery-within-BooleanQuery)."""
    n = len(cand_ids)
    total = np.zeros(n, dtype=np.float32)
    matched_any = np.zeros(n, dtype=bool)
    opt_count = np.zeros(n, dtype=np.int32)
    req_count = np.zeros(n, dtype=np.int32)
    n_req = 0
    for i, c in enumerate(q.clauses):
        contrib = np.zeros(n, dtype=np.float32)
        m = np.zeros(n, dtype=bool)
        if c.kind == "bool":
            sub_s, sub_m = _score_subquery(
                c.sub, rows, cand_ids, norms, cache, wv_list[i]
            )
            m = sub_m
            contrib[m] = sub_s[m]
        elif c.kind == "term":
            r = rows.get(c.terms[0])
            if r is not None:
                _, tfs = r.lookup(cand_ids)
                m = tfs > 0
                if m.any():
                    contrib[m] = bm25.score_freqs(
                        tfs[m], norms[cand_ids[m]], cache, wv_list[i]
                    )
        elif c.kind == "term_set":
            union = _set_union_ids(c, rows)
            m = np.isin(cand_ids, union, assume_unique=True)
            if m.any():
                contrib[m] = np.float32(wv_list[i])
        else:  # phrase
            if _phrase_present(c, rows):
                ids_p, freqs = _phrase_freqs(c, rows, cand_ids)
                if len(ids_p):
                    pos = np.searchsorted(cand_ids, ids_p)
                    contrib[pos] = bm25.score_freqs(
                        freqs, norms[ids_p], cache, wv_list[i]
                    )
                    m[pos] = True
        matched_any |= m
        if c.required:
            n_req += 1
            req_count += m
        else:
            opt_count += m
        total = (total + contrib).astype(np.float32)
    ok = matched_any
    if n_req:
        ok = ok & (req_count == n_req)
    if q.min_should_match:
        ok = ok & (opt_count >= q.min_should_match)
    for t in q.must_not:
        r = rows.get(t)
        if r is not None:
            _, tfs = r.lookup(cand_ids)
            ok = ok & (tfs == 0)
    return total, ok


def _set_union_ids(clause, rows) -> np.ndarray:
    """Sorted distinct docids containing ANY of the set's terms (the
    constant-score BitSet union of MultiTermQueryConstantScoreWrapper)."""
    parts = [rows[t].decode_all()[0] for t in clause.terms if t in rows]
    if not parts:
        return np.zeros(0, np.int64)
    if len(parts) == 1:
        return parts[0]
    return np.unique(np.concatenate(parts))


def _query_has(q: Query, kinds: tuple) -> bool:
    """True if any clause (at any nesting depth) has one of the kinds.
    Prohibited multi-term patterns count as their kind too (they need the
    same dictionary rewrite as positive wildcard/regexp clauses)."""
    if any(k in kinds for k, _pat in getattr(q, "must_not_patterns", ())):
        return True
    for c in q.clauses:
        if c.kind in kinds:
            return True
        if c.kind == "bool" and c.sub is not None and _query_has(c.sub, kinds):
            return True
    return False


def _weights_for(q: Query, idf_by_term: dict, parent_boost: float = 1.0) -> list:
    """Per-clause weight values, mirroring the clause tree: nested bool
    clauses get a nested list; boosts multiply down the tree
    (BooleanQuery boost propagation)."""
    out: list = []
    for c in q.clauses:
        if c.kind == "bool":
            out.append(_weights_for(c.sub, idf_by_term, parent_boost * c.boost))
        elif c.kind == "term":
            out.append(
                bm25.weight_value(
                    idf_by_term[c.terms[0]], boost=c.boost * parent_boost
                )
            )
        elif c.kind == "term_set":
            out.append(np.float32(c.boost * parent_boost))
        else:
            s = np.float32(0.0)
            for t in c.terms:
                s = np.float32(s + idf_by_term[t])
            out.append(bm25.weight_value(s, boost=c.boost * parent_boost))
    return out


def _phrase_slots(clause) -> list[list[str]]:
    """Per-position term alternatives: [[t]] per slot for plain phrases,
    clause.alts for MultiPhraseQuery."""
    alts = getattr(clause, "alts", None)
    return alts if alts else [[t] for t in clause.terms]


def _phrase_present(clause, rows) -> bool:
    """A phrase is evaluable iff every position slot has >= 1 alternative
    in this segment (MultiPhraseQuery.java: a position's terms OR)."""
    return all(any(t in rows for t in s) for s in _phrase_slots(clause))


def _phrase_freqs(clause, rows, cand_ids):
    """Exact (multi-)phrase match over (candidate) docs: (ids, freqs)."""
    slots = _phrase_slots(clause)
    slot_rows: list[list[_Row]] = []
    for alist in slots:
        rs = [rows[t] for t in alist if t in rows]
        if not rs:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        slot_rows.append(rs)
    if cand_ids is None:
        j = min(range(len(slot_rows)),
                key=lambda i: sum(r.df for r in slot_rows[i]))
        parts = [r.decode_all()[0] for r in slot_rows[j]]
        ids = parts[0] if len(parts) == 1 else np.unique(np.concatenate(parts))
    else:
        ids = cand_ids
    for rs in slot_rows:
        present = np.zeros(len(ids), dtype=bool)
        for r in rs:
            _, tfs = r.lookup(ids)
            present |= tfs > 0
        ids = ids[present]
        if len(ids) == 0:
            return ids, np.zeros(0, np.int64)
    offsets = clause.offsets
    if getattr(clause, "slop", 0) > 0:
        slot_keys = ["|".join(a) for a in slots]
        if len(set(slot_keys)) == len(slot_keys):
            # distinct slots: batched minimal-window sweep across ALL
            # candidate docs at once (spans.sweep_windows_batch) — replaces
            # the per-candidate-doc Python loop; float64 accumulation order
            # matches the sequential kernel bit-for-bit
            from .spans import (SHIFT, PositionOverflow, check_positions,
                                sloppy_phrase_freqs_batch)

            bias = max(offsets)
            try:
                arrs = []
                for rs, off in zip(slot_rows, offsets):
                    keys_parts = []
                    for r in rs:
                        _, tfs = r.lookup(ids)
                        m = tfs > 0
                        sub = ids[m]
                        if len(sub) == 0:
                            continue
                        counts, flat = r.positions_flat(sub)
                        check_positions(flat, bias)  # 2^21 block guard
                        doc_of_pos = np.repeat(
                            np.flatnonzero(m).astype(np.int64), counts
                        )
                        keys_parts.append(
                            doc_of_pos * SHIFT + (flat - off + bias)
                        )
                    if len(keys_parts) == 1:
                        arrs.append(keys_parts[0])
                    elif keys_parts:
                        arrs.append(np.unique(np.concatenate(keys_parts)))
                    else:
                        arrs.append(np.zeros(0, np.int64))
                docs_j, freqs = sloppy_phrase_freqs_batch(
                    arrs, clause.slop, len(ids)
                )
                return ids[docs_j], freqs
            except PositionOverflow:
                # legal index, but a very long phrase's offset bias would
                # cross the 2^21 block edge: the sequential kernel below
                # works in per-doc coordinates and has no such limit
                pass
        # repeated slots ("b b"~2) or block-edge bias overflow: per-doc
        # sequential kernel with repeat reconciliation
        # (SloppyPhraseScorer.advanceRpts analog)
        from .sloppy import sloppy_phrase_freq

        slot_pos = [_slot_positions(rs, ids) for rs in slot_rows]
        out_ids, out_freqs = [], []
        for j in range(len(ids)):
            f = sloppy_phrase_freq(
                [sp[j] for sp in slot_pos], offsets, clause.slop,
                terms=slot_keys,
            )
            if f > 0:
                out_ids.append(ids[j])
                out_freqs.append(f)
        return (np.array(out_ids, dtype=np.int64),
                np.array(out_freqs, dtype=np.float64))
    # exact phrase, fully vectorized (ExactPhraseScorer.java:137-177 as
    # batch set-intersections): encode every occurrence as a single int64
    # key  doc_index * M + (pos - offset + bias)  — keys are sorted because
    # positions are doc-major ascending — then intersect the per-slot key
    # arrays (a slot's keys = union over its alternatives);
    # per-doc freq = how many surviving keys fall in each doc
    bias = max(offsets)
    slot_parts: list[list[tuple[np.ndarray, np.ndarray]]] = []
    maxpos = 0
    for rs in slot_rows:
        parts = []
        for r in rs:
            _, tfs = r.lookup(ids)
            m = tfs > 0
            sub = ids[m]
            if len(sub) == 0:
                continue
            counts, flat = r.positions_flat(sub)
            if len(flat):
                maxpos = max(maxpos, int(flat.max()))
            doc_of_pos = np.repeat(np.flatnonzero(m).astype(np.int64), counts)
            parts.append((doc_of_pos, flat))
        slot_parts.append(parts)
    m_stride = np.int64(maxpos + bias + 2)
    inter = None
    for parts, off in zip(slot_parts, offsets):
        key_arrays = [
            doc_of_pos * m_stride + (flat - off + bias)
            for doc_of_pos, flat in parts
        ]
        if len(key_arrays) == 1:
            keys = key_arrays[0]
        else:
            keys = np.unique(np.concatenate(key_arrays))
        inter = keys if inter is None else np.intersect1d(
            inter, keys, assume_unique=True
        )
        if len(inter) == 0:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
    docs_j, freqs = np.unique(inter // m_stride, return_counts=True)
    return ids[docs_j], freqs.astype(np.int64)


def _slot_positions(rs: list, ids: np.ndarray) -> list[np.ndarray]:
    """Per-candidate position arrays for one slot: union over alternatives
    (absent docs get empty arrays)."""
    out: list[np.ndarray | None] = [None] * len(ids)
    for r in rs:
        _, tfs = r.lookup(ids)
        m = tfs > 0
        sub = ids[m]
        if len(sub) == 0:
            continue
        plists = r.positions_for(sub)
        for q, j in enumerate(np.flatnonzero(m)):
            out[j] = (
                plists[q]
                if out[j] is None
                else np.unique(np.concatenate([out[j], plists[q]]))
            )
    return [o if o is not None else np.zeros(0, np.int64) for o in out]


def _span_candidates(node, rows: dict) -> np.ndarray:
    """Candidate local docids for a span query: conjunction under near,
    union under or, include side under not — the doc-level approximation
    that gates position decoding (SpanWeight's ConjunctionDISI analog)."""
    from . import spans as SP

    empty = np.zeros(0, np.int64)
    if isinstance(node, SP.SpanTerm):
        r = rows.get(node.term)
        return r.decode_all()[0] if r is not None else empty
    if isinstance(node, SP.SpanOr):
        parts = [_span_candidates(s, rows) for s in node.subs]
        parts = [p for p in parts if len(p)]
        if not parts:
            return empty
        return np.unique(np.concatenate(parts))
    if isinstance(node, SP.SpanNear):
        out = None
        for s in node.subs:
            c = _span_candidates(s, rows)
            out = c if out is None else np.intersect1d(c, out, assume_unique=True)
            if len(out) == 0:
                return out
        return out if out is not None else empty
    if isinstance(node, SP.SpanNot):
        return _span_candidates(node.include, rows)
    if isinstance(node, SP.SpanFirst):
        return _span_candidates(node.match, rows)
    raise TypeError(f"not a span query: {node!r}")


def _span_posmap(node, rows: dict) -> dict:
    """Per-term global position arrays (docid * SHIFT + pos) restricted to
    the query's candidate docs."""
    from . import spans as SP

    cand = _span_candidates(node, rows)
    posmap: dict = {}
    for t in SP.span_terms(node):
        r = rows.get(t)
        if r is None or len(cand) == 0:
            continue
        _, tfs = r.lookup(cand)
        sub = cand[tfs > 0]
        if len(sub) == 0:
            continue
        counts, flat = r.positions_flat(sub)
        SP.check_positions(flat)  # 2^21 block guard
        posmap[t] = np.repeat(sub, counts) * SP.SHIFT + flat
    return posmap


def _prefix_slice(d: np.ndarray, prefix: str) -> np.ndarray:
    """Slice a sorted term array to the range sharing ``prefix``. The upper
    bound increments the last code point (dropping trailing U+10FFFF), so
    supplementary-plane characters after the prefix stay in range —
    ``prefix + '\uffff'`` would exclude them."""
    lo = int(np.searchsorted(d, prefix))
    p = prefix
    while p and ord(p[-1]) >= 0x10FFFF:
        p = p[:-1]
    if not p:
        return d[lo:]
    hi_key = p[:-1] + chr(ord(p[-1]) + 1)
    hi = int(np.searchsorted(d, hi_key))
    return d[lo:hi]


def _levenshtein(a: str, b: str, cap: int) -> int:
    """Classic Levenshtein with an early-exit band (returns cap+1 once the
    distance provably exceeds ``cap``) — the scan-side analog of the
    Levenshtein automaton's band restriction."""
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    prev = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        cur = [i] + [0] * len(b)
        best = cur[0]
        for j in range(1, len(b) + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
            best = min(best, cur[j])
        if best > cap:
            return cap + 1
        prev = cur
    return prev[-1]


def _resident_empty(with_url: bool) -> pd.DataFrame:
    cols = {"rank": np.zeros(0, np.int32), "docid": np.zeros(0, np.int64)}
    if with_url:
        cols["url"] = np.zeros(0, object)
    cols["score"] = np.zeros(0, np.float32)
    return pd.DataFrame(cols)


def _empty_pdf() -> pd.DataFrame:
    return pd.DataFrame({"docid": np.zeros(0, np.int64), "score": np.zeros(0, np.float32)})


class SparkSearcher:
    """Searcher over a manifest snapshot."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        generation: int | None = None,
    ):
        self.spark = spark
        self.index_dir = index_dir
        # generation= is time travel (Iceberg snapshot-id read): segments
        # are immutable and commits never delete them, so any published
        # manifest opens a fully consistent historical view
        self.man = (
            manifest_mod.read_current(index_dir)
            if generation is None
            else manifest_mod.read_generation(index_dir, generation)
        )
        if self.man is None:
            raise FileNotFoundError(
                f"no manifest in {index_dir}"
                + (f" at generation {generation}" if generation else "")
            )
        self.max_doc = self.man["fieldstats"]["max_doc"]
        # the index's analyzer (manifest-recorded): queries MUST analyze
        # with the same chain or stemmed terms would never match
        self.analyzer = self.man.get("analyzer", "standard")
        self.sum_ttf = self.man["fieldstats"]["sum_total_term_freq"]
        self.seg_meta: dict[str, dict] = {}
        postings_paths, docmap_paths = [], []
        for s in self.man["segments"]:
            d = os.path.join(index_dir, s["path"])
            self.seg_meta[os.path.basename(d.rstrip("/"))] = {
                "dir": d,
                "doc_base": s["doc_base"],
                "max_doc": s["max_doc"],
            }
            postings_paths.append(os.path.join(d, "postings.parquet"))
            docmap_paths.append(os.path.join(d, "docmap.parquet"))
        # the dictionary and term-statistics scans; search operators read
        # postings per segment instead (_map_segments). No
        # input_file_name() column: it is nondeterministic and blocks
        # predicate pushdown; segments carry an explicit segment_id column
        self._postings = spark.read.parquet(*postings_paths)
        self._docmap_paths = docmap_paths
        # term-stats cache: a searcher is bound to one immutable manifest
        # generation, so global df per term never changes — repeated terms
        # skip the stats job entirely (the SolrIndexSearcher statistics
        # cache; drops warm queries from two Spark jobs to one)
        self._stats_cache: dict[str, int] = {}
        self._field_sums: dict[str, int] = {}
        self._multi_field: bool | None = None
        self._resident_dict: np.ndarray | None = None
        # filterCache (SolrIndexSearcher.java:151-153 filterCache): fq ->
        # materialized global docid set, evaluated once per searcher
        self._filter_cache: dict[str, object] = {}
        # queryResultCache (SolrIndexSearcher.java:155): (query, k, ...) ->
        # collected result page; valid for the searcher's lifetime
        self._result_cache: dict[tuple, pd.DataFrame] = {}

    def docmap(self) -> DataFrame:
        """Docmap with globalized docids: segment-local id + manifest
        doc_base (broadcast join against the tiny segment table)."""
        bases = self.spark.createDataFrame(
            [(k, v["doc_base"]) for k, v in self.seg_meta.items()],
            "segment_id string, doc_base long",
        )
        dm = self.spark.read.parquet(*self._docmap_paths)
        return dm.join(F.broadcast(bases), "segment_id").select(
            (F.col("docid") + F.col("doc_base")).alias("docid"), "url"
        )

    def search(
        self,
        query: str | Query,
        k: int = 10,
        mode: str = "OR",
        with_url: bool = True,
        prune: bool = True,
        after: tuple | None = None,
        min_should_match: int = 0,
        fq: str | Query | None = None,
        fq_docids=None,
        dismax_tie: float | None = None,
        multiterm_scoring: bool = False,
        _count_only: bool = False,
        _all_hits: bool = False,
    ) -> DataFrame:
        """Top-k BM25 search.

        after=(score, docid) pages past a previous result
        (IndexSearcher.searchAfter / TopScoreDocCollector paging);
        min_should_match is BooleanQuery's optional-clause quota.
        Pruning is disabled for both (the MaxScore threshold would not be a
        valid bound on the post-filter kth score).

        fq is Solr's filter query (SolrIndexSearcher.getProcessedFilter /
        FilteredQuery.java:41-70): a boolean query whose doc-set restricts
        candidates BEFORE scoring, contributing nothing to the score.
        Strings parse with AND semantics; wildcard/regexp allowed.
        fq_docids is the filterCache fast path: a broadcast (or array) of
        SORTED global docids from cached_filter() — the set intersects
        candidates exactly like fq but costs no per-query evaluation.

        dismax_tie switches clause combination from BooleanQuery sum to
        DisjunctionMaxQuery max + tie * rest (DisjunctionMaxQuery.java:45-54).
        """
        plan = self._plan(
            query, k, mode, prune, after, min_should_match, fq, fq_docids,
            dismax_tie, multiterm_scoring, _count_only, _all_hits,
        )
        if plan is None:
            return self.spark.createDataFrame(
                [], "rank int, docid long" + (", url string" if with_url else "")
                + ", score float",
            )
        partial = self._map_segments(
            lambda pdf: _score_segment(plan, pdf), plan.terms, plan.need_pos,
            RESULT_SCHEMA,
        )
        if _count_only:
            return partial.agg(
                F.sum(F.col("score").cast("long")).alias("total_hits")
            )
        if _all_hits:
            return partial.select("docid", "score").orderBy("docid")
        return self._ranked(partial, k, with_url)

    def _plan(
        self,
        query: str | Query,
        k: int = 10,
        mode: str = "OR",
        prune: bool = True,
        after: tuple | None = None,
        min_should_match: int = 0,
        fq: str | Query | None = None,
        fq_docids=None,
        dismax_tie: float | None = None,
        multiterm_scoring: bool = False,
        count_only: bool = False,
        all_hits: bool = False,
        resident: bool = False,
    ) -> QueryPlan | None:
        """Prepare a query once for either scheduler; None means the result
        is empty. ``resident`` takes dictionary rewrites and term statistics
        from driver-side pyarrow reads instead of Spark jobs."""
        q = (parse_query(query, mode, analyzer=self.analyzer)
             if isinstance(query, str) else query)
        if min_should_match:
            q.min_should_match = min_should_match
        if dismax_tie is not None:
            q.dismax_tie = dismax_tie
        if (
            after is not None or q.min_should_match or count_only
            or q.dismax_tie is not None or all_hits
            or _query_has(q, ("bool", "fuzzy"))
        ):
            # nested groups score recursively in the rescore phase; the
            # MaxScore bounds are not propagated through group scopes, so
            # pruning is disabled (CommonTermsQuery-style adaptivity still
            # applies to flat queries)
            prune = False
        if not q.clauses:
            return None
        if _query_has(q, ("wildcard", "regexp", "fuzzy")):
            if multiterm_scoring:
                prune = False  # scored expansions become nested groups
            q = self._rewrite_multiterm(
                q, resident=resident, scoring=multiterm_scoring
            )
            if q is None:
                return None
        fqq = (parse_query(fq, "AND", analyzer=self.analyzer)
               if isinstance(fq, str) else fq)
        if fqq is not None and _query_has(fqq, ("wildcard", "regexp", "fuzzy")):
            fqq = self._rewrite_multiterm(fqq, resident=resident)
            if fqq is None:
                return None

        terms = sorted(
            set(q.all_terms) | (set(fqq.all_terms) if fqq is not None else set())
        )
        # global statistics (collectionStatistics/termStatistics), served
        # from the searcher-lifetime cache where possible
        stats = (
            self._term_stats_resident(terms) if resident
            else self._term_stats(terms)
        )
        # required clause with zero global df -> no results (TermQuery semantics)
        for c in q.clauses:
            if c.required:
                if c.kind == "bool":
                    continue  # nested: evaluated per segment
                if c.kind == "term_set":
                    if all(stats.get(t, 0) == 0 for t in c.terms):
                        return None
                elif c.kind == "phrase" and getattr(c, "alts", None):
                    if any(
                        all(stats.get(t, 0) == 0 for t in sl) for sl in c.alts
                    ):
                        return None
                elif any(stats.get(t, 0) == 0 for t in c.terms):
                    return None
        idf_by_term = {
            t: bm25.idf(stats.get(t, 0), self.max_doc) for t in terms
        }
        return QueryPlan(
            q=q, fqq=fqq, terms=terms,
            need_pos=_query_has(q, ("phrase",)) or (
                fqq is not None and _query_has(fqq, ("phrase",))
            ),
            seg_meta=self.seg_meta,
            wv=_weights_for(q, idf_by_term),
            cache=bm25.norm_cache(
                bm25.avg_field_length(self.sum_ttf, self.max_doc)
            ),
            k=k, prune=prune, after=after, count_only=count_only,
            all_hits=all_hits, fq_docids=fq_docids,
        )

    def _map_segments(
        self, kernel, terms: list[str], need_pos: bool, schema: str
    ) -> DataFrame:
        """Distributed scheduler: one Spark task per segment directory. The
        task reads its own segment's postings for ``terms`` and runs
        ``kernel`` on them when any exist; only the kernel's output leaves
        the task (no postings scan, no shuffle)."""
        dirs = [m["dir"] for m in self.seg_meta.values()]

        def run(batches):
            for b in batches:
                for i in b["id"]:
                    pdf = _read_postings(dirs[i], terms, need_pos)
                    if len(pdf):
                        yield kernel(pdf)

        return self.spark.range(0, len(dirs), 1, len(dirs)).mapInPandas(
            run, schema
        )

    def _ranked(
        self, partial: DataFrame, k: int, with_url: bool = False
    ) -> DataFrame:
        """Global merge of per-segment partial top-k rows
        (TakeOrderedAndProject) plus a 1-based rank; ``with_url`` fetches
        the winners' urls from the docmap (broadcast join)."""
        from pyspark.sql import Window

        topk = partial.orderBy(F.desc("score"), F.asc("docid")).limit(k)
        if with_url:
            topk = self.docmap().join(F.broadcast(topk), "docid", "inner")
        # single-partition by design: only <= k already-merged rows reach
        # this window (the constant key is folded away by Catalyst; the
        # WindowExec notice is silenced at the logger in session.py)
        w = Window.partitionBy(F.lit(1)).orderBy(F.desc("score"), F.asc("docid"))
        cols = ["rank", "docid"] + (["url"] if with_url else []) + ["score"]
        return (
            topk.withColumn("rank", F.row_number().over(w))
            .select(*cols)
            .orderBy("rank")
        )

    def search_pdf(
        self, query, k: int = 10, mode: str = "OR", use_cache: bool = False,
        **kw,
    ) -> pd.DataFrame:
        """Collected result page. ``use_cache=True`` is the
        queryResultCache: identical (query, k, mode, fq, ...) requests
        within one searcher return the cached page without any Spark job —
        valid because a searcher pins one immutable snapshot."""
        if use_cache:
            # fq_docids carries an arbitrary pre-computed doc set; two
            # requests with the same query text but different doc sets must
            # not collide, so the set's content fingerprint is part of the key.
            fqd = kw.get("fq_docids")
            if fqd is not None:
                arr = np.asarray(fqd.value if hasattr(fqd, "value") else fqd,
                                 dtype=np.int64)
                fqd_key = ("fqd", int(arr.size),
                           hashlib.md5(np.sort(arr).tobytes()).hexdigest())
            else:
                fqd_key = None
            key = (
                str(query), k, mode, str(kw.get("fq")), fqd_key,
                kw.get("dismax_tie"), kw.get("min_should_match", 0),
                kw.get("after"), bool(kw.get("prune", True)),
                bool(kw.get("multiterm_scoring", False)),
            )
            hit = self._result_cache.get(key)
            if hit is not None:
                return hit.copy()
        pdf = self.search(query, k, mode, **kw).toPandas()
        if use_cache:
            self._result_cache[key] = pdf.copy()
        return pdf

    def search_with_timeout(
        self, query, timeout_s: float, k: int = 10, mode: str = "OR", **kw
    ) -> tuple[pd.DataFrame | None, bool]:
        """TimeLimitingCollector analog (search/TimeLimitingCollector.java),
        at Spark's natural granularity: the query executes under its own
        job group (job groups are thread-local) and a watchdog cancels the
        group at the deadline. Returns (result, timed_out). On timeout the
        result is None — Spark cancels whole jobs, which matches the
        reference's greedy=false mode (no partial page)."""
        import threading
        import uuid

        sc = self.spark.sparkContext
        group = f"search-timeout-{uuid.uuid4().hex[:8]}"
        out: dict = {}
        cancelled = threading.Event()

        def run():
            # planning runs Spark jobs too (rewrite, term statistics), so
            # the whole query runs inside the group and the deadline
            sc.setJobGroup(group, "time-limited search", interruptOnCancel=True)
            try:
                df = self.search(query, k=k, mode=mode, **kw)
                if not cancelled.is_set():
                    out["pdf"] = df.toPandas()
            except Exception as e:  # cancelled jobs surface as exceptions
                out["err"] = e

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout_s)
        if t.is_alive():
            # the thread may still be planning: it starts no result job
            # once cancelled is set, and a job already running is killed
            cancelled.set()
            sc.cancelJobGroup(group)
            return None, True
        if "err" in out:
            # The deadline never fired and we issued no cancel, so this is a
            # genuine query failure (bad query, executor error), not a
            # timeout — surface it instead of misreporting timed_out=True.
            raise out["err"]
        return out["pdf"], False

    def explain(self, query: str | Query, docid: int, mode: str = "OR") -> dict:
        """Lucene explain(): per-clause scoring breakdown whose total is
        bit-identical to search()'s score for the doc (the CheckHits
        invariant, test-framework/.../search/CheckHits.java)."""
        q = (parse_query(query, mode, analyzer=self.analyzer)
             if isinstance(query, str) else query)
        if _query_has(q, ("wildcard", "regexp", "fuzzy")):
            q = self._rewrite_multiterm(q)
            if q is None:
                return {"docid": int(docid), "matched": False,
                        "total": 0.0, "details": []}
        return _explain_segment(self, q, docid)

    def count(self, query: str | Query, mode: str = "OR", **kw) -> int:
        """TotalHitCountCollector: number of matching docs
        (search/TotalHitCountCollector.java:69-74), summed over per-segment
        partial counts like the fork's mergeable collector state."""
        row = self.search(
            query, k=1, mode=mode, with_url=False, _count_only=True, **kw
        ).collect()
        v = row[0]["total_hits"] if row else None
        return int(v) if v is not None else 0

    def matching(self, query: str | Query, mode: str = "OR", **kw) -> DataFrame:
        """Full result DocSet of a query (+ optional fq): every matching
        docid with its score, in doc order — the SolrIndexSearcher.getDocSet
        analog that facet/grouping components consume
        (solr/core/.../search/SolrIndexSearcher.java:getDocSet)."""
        return self.search(query, mode=mode, with_url=False, _all_hits=True, **kw)

    def facet_field(
        self,
        query: str | Query,
        docs: DataFrame,
        field: str,
        mode: str = "OR",
        limit: int = 20,
        fq: str | Query | None = None,
    ) -> DataFrame:
        """facet.field over the ENGINE's result DocSet (SimpleFacets.java:
        256-369: facets count the query's DocSet, not a re-derived one).
        ``docs`` must carry (doc_id, field). The join is left to AQE: a
        selective DocSet broadcasts at runtime, an unbounded one (at 100 TB
        a query can match billions of docs) falls back to a shuffle join —
        an explicit broadcast() here would be a scale hazard."""
        hits = self.matching(query, mode=mode, fq=fq).select(
            F.col("docid").alias("doc_id")
        )
        return (
            docs.join(hits, "doc_id")
            .groupBy(F.col(field).alias("facet"))
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), "facet")
            .limit(limit)
        )

    def cached_filter(self, fq: str, max_docs: int = 5_000_000):
        """Solr filterCache analog: evaluate the filter query ONCE, keep the
        sorted global docid set, and let subsequent searches reuse it via a
        Spark broadcast (search(fq_docids=...)). Bounded by ``max_docs`` —
        an unbounded doc-set at 10^12 docs must stay as an in-kernel fq
        (pass fq= instead), so oversize sets raise rather than silently
        materialize."""
        entry = self._filter_cache.get(fq)
        if entry is not None:
            return entry
        ids = np.array(
            [r["docid"] for r in self.matching(fq, mode="AND").collect()],
            dtype=np.int64,
        )
        if len(ids) > max_docs:
            raise ValueError(
                f"filter set {len(ids)} docs exceeds max_docs={max_docs}; "
                "use fq= (in-kernel) for unbounded filters"
            )
        bc = self.spark.sparkContext.broadcast(ids)
        self._filter_cache[fq] = bc
        return bc

    @property
    def _dictionary(self):
        """Default-field terms dictionary: on multi-field indexes the
        postings table also holds namespaced ``field\\x1fterm`` runs, which
        dictionary components (terms/suggest/spellcheck/wildcard/fuzzy
        expansion) must not surface. Single-field indexes skip the extra
        predicate."""
        if self._multi_field is None:
            import pyarrow.parquet as pq

            d = next(iter(self.seg_meta.values()))["dir"]
            self._multi_field = "field" in pq.ParquetFile(
                os.path.join(d, "norms.parquet")
            ).schema_arrow.names
        if not self._multi_field:
            return self._postings
        from ..index.build import FIELD_SEP

        return self._postings.where(~F.col("term").contains(FIELD_SEP))

    def _term_stats(self, terms: list[str]) -> dict[str, int]:
        """Global df per term, cached for the searcher's lifetime (valid:
        one searcher == one manifest generation). Only uncached terms pay
        the aggregation job."""
        missing = [t for t in terms if t not in self._stats_cache]
        if missing:
            rows = (
                self._postings.where(F.col("term").isin(missing))
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
                .collect()
            )
            got = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._stats_cache[t] = got.get(t, 0)
        return {t: self._stats_cache[t] for t in terms}

    def terms(self, prefix: str = "", limit: int = 30) -> DataFrame:
        """TermsComponent served from the INDEX DICTIONARY (solr/core/.../
        handler/component/TermsComponent.java): the postings table already
        holds (term, df, ttf), so this is a pruned dictionary scan — no
        corpus re-tokenization. Prefix pushes into the term-sorted parquet
        row groups."""
        t = self._dictionary
        if prefix:
            t = t.where(F.col("term").startswith(prefix))
        return (
            t.groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
            .orderBy(F.desc("df"), "term")
            .limit(limit)
        )

    def stats_field(
        self,
        query: str | Query,
        docs: DataFrame,
        field: str,
        facet_col: str | None = None,
        mode: str = "OR",
        fq: str | Query | None = None,
    ) -> DataFrame:
        """StatsComponent over the ENGINE's DocSet (solr/core/.../handler/
        component/StatsComponent.java computes over the query's result
        set): min/max/sum/mean/stddev of ``field`` for matching docs,
        optionally per ``facet_col``."""
        hits = self.matching(query, mode=mode, fq=fq).select(
            F.col("docid").alias("doc_id")
        )
        j = docs.join(hits, "doc_id")
        keys = [F.col(facet_col).alias("facet")] if facet_col else []
        out = j.groupBy(*keys).agg(
            F.count("*").alias("cnt"),
            F.min(field).alias("min_v"),
            F.max(field).alias("max_v"),
            F.sum(field).cast("long").alias("sum_v"),
            F.round(F.avg(field) * 1000).cast("long").alias("mean_milli"),
        )
        return out.orderBy("facet") if facet_col else out

    def grouping_topk(
        self,
        query: str | Query,
        docs: DataFrame,
        group_col: str,
        sort_col: str,
        k: int = 2,
        mode: str = "OR",
    ) -> DataFrame:
        """Grouping (two-pass) over the ENGINE's DocSet: top-k docs per
        group by a field sort (Solr group=true over the query result,
        solr/core/.../search/Grouping.java)."""
        from pyspark.sql import Window

        hits = self.matching(query, mode=mode).select(
            F.col("docid").alias("doc_id")
        )
        w = Window.partitionBy(group_col).orderBy(
            F.desc(sort_col), F.asc("doc_id")
        )
        return (
            docs.join(hits, "doc_id")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select(
                F.col(group_col).alias("grp"), "doc_id",
                F.col(sort_col).alias("sort_v"), F.col("rn").cast("int"),
            )
            .orderBy("grp", "rn")
        )

    def suggest(self, prefix: str, n: int = 5) -> DataFrame:
        """Suggester/autocomplete from the INDEX DICTIONARY (lucene/suggest/
        AnalyzingSuggester over stored weights): prefix pushes into the
        term-sorted parquet; weight = total term frequency."""
        return (
            self._dictionary.where(F.col("term").startswith(prefix))
            .groupBy("term")
            .agg(F.sum("ttf").alias("ttf"))
            .orderBy(F.desc("ttf"), F.asc("term"))
            .limit(n)
        )

    def _suggest_grams(self, min_gram: int = 1, max_gram: int = 7) -> DataFrame:
        """Edge/infix n-gram sidecar (lucene/analysis/common/.../ngram/
        EdgeNGramTokenFilter.java + lucene/suggest/.../analyzing/
        AnalyzingInfixSuggester.java, which indexes grams of every
        dictionary term so typeahead matches mid-term; edge=true marks the
        EdgeNGram subset, i.e. plain prefixes). Derived once per manifest
        generation from the BOUNDED dictionary and persisted range-
        partitioned + sorted by gram, so a lookup is an equality-pushdown
        parquet read — at 100 TB the gram table stays vocabulary-sized,
        orders of magnitude under the corpus."""
        gen = self.man.get("generation", 0)
        path = os.path.join(
            self.index_dir, f"suggest_grams_g{gen}_{min_gram}_{max_gram}"
        )
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return self.spark.read.parquet(path)
        d = self._dictionary.groupBy("term").agg(
            F.sum("ttf").alias("ttf")
        )
        gram_expr = F.expr(
            f"""flatten(transform(sequence({min_gram}, {max_gram}), g ->
                  CASE WHEN length(term) >= g THEN
                    transform(sequence(1, length(term) - g + 1), s ->
                      struct(substring(term, s, g) AS gram, s = 1 AS edge))
                  ELSE array() END))"""
        )
        grams = (
            d.select(F.explode(gram_expr).alias("x"), "term", "ttf")
            .select(
                F.col("x.gram").alias("gram"),
                F.col("x.edge").alias("edge"), "term", "ttf",
            )
            .groupBy("gram", "term")
            .agg(F.max("edge").alias("edge"), F.max("ttf").alias("ttf"))
        )
        try:
            _publish_dir(
                lambda tmp: (
                    grams
                    .repartitionByRange(len(self.seg_meta), "gram")
                    .sortWithinPartitions("gram", "term")
                    .write.mode("overwrite")
                    .parquet(tmp)
                ),
                path,
            )
        except Exception:
            # read-only index dir (snapshot/replica mount): serve the
            # grams straight from the bounded dictionary, same as the
            # reversed-terms sidecar degrades in _expand_regex
            return grams
        return self.spark.read.parquet(path)

    def suggest_infix(
        self, q: str, n: int = 5, min_gram: int = 1, max_gram: int = 7
    ) -> DataFrame:
        """AnalyzingInfixSuggester analog: the typed text matches anywhere
        inside a dictionary term, weighted by total term frequency (edge
        matches are ordinary prefixes). Inputs up to max_gram chars hit
        the gram sidecar with an equality predicate; longer inputs fall
        back to a contains() scan of the bounded dictionary."""
        q = q.lower()
        if min_gram <= len(q) <= max_gram:
            hits = self._suggest_grams(min_gram, max_gram).where(
                F.col("gram") == q
            ).select("term", "ttf")
        else:
            hits = (
                self._dictionary.where(F.col("term").contains(q))
                .groupBy("term")
                .agg(F.sum("ttf").alias("ttf"))
            )
        return hits.orderBy(F.desc("ttf"), F.asc("term")).limit(n)

    def spellcheck(self, wrong: str, n: int = 3, max_dist: int = 2) -> DataFrame:
        """DirectSpellChecker over the index dictionary (lucene/suggest/.../
        DirectSpellChecker.java semantics: nearest dictionary terms by edit
        distance, more frequent first). A length pre-filter bounds the
        levenshtein scan (|len(term) - len(wrong)| <= max_dist — the same
        pruning the reference's FST automaton achieves structurally)."""
        L = len(wrong)
        return (
            self._dictionary
            .where(F.length("term").between(L - max_dist, L + max_dist))
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
            .withColumn("dist", F.levenshtein(F.col("term"), F.lit(wrong)))
            .where(F.col("dist") <= max_dist)
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(n)
        )

    def more_like_this(
        self, seed_text: str, k: int = 10, max_query_terms: int = 10,
        min_tf: int = 1,
    ) -> DataFrame:
        """MoreLikeThis through the engine (queries/src/java/org/apache/
        lucene/queries/mlt/MoreLikeThis.java: retrieveTerms -> interesting
        terms ranked by tf*idf -> OR query). The seed analyzes driver-side
        with the index's analyzer; idf comes from the cached term stats;
        the resulting disjunction runs the normal BM25 path (MaxScore
        pruning applies)."""
        from collections import Counter

        from ..analysis import analyze_one
        from .query import Clause

        toks = [t for t, _ in analyze_one(seed_text, analyzer=self.analyzer)]
        tf = Counter(toks)
        cand = [t for t, c in tf.items() if c >= min_tf]
        if not cand:
            return self.search("", k=k)
        stats = self._term_stats(sorted(cand))
        scored = []
        for t in cand:
            df = stats.get(t, 0)
            if df == 0:
                continue
            idf = float(bm25.idf(df, self.max_doc))
            scored.append((tf[t] * idf, t))
        scored.sort(key=lambda x: (-x[0], x[1]))
        terms = [t for _, t in scored[:max_query_terms]]
        if not terms:
            return self.search("", k=k)
        q = Query([Clause("term", [t]) for t in terms])
        return self.search(q, k=k, mode="OR")

    def docs_sorted_topk(self, k: int = 10) -> DataFrame:
        """EarlyTerminatingSortingCollector analog (lucene/misc/.../
        EarlyTerminatingSortingCollector.java): the index IS sorted by url
        (docid == global url rank), so top-k by the index sort order is a
        per-partition take-k + merge (Spark TakeOrderedAndProject) — no
        full scan, no score computation."""
        return self.docmap().orderBy("docid").limit(k)

    def search_highlighted(
        self,
        query: str,
        docs: DataFrame,
        k: int = 10,
        mode: str = "OR",
        window: int = 10,
        text_col: str = "text",
        id_col: str = "doc_id",
        **kw,
    ) -> pd.DataFrame:
        """Top-k search + analyzed snippets for the winners (the Solr
        hl=true flow): only the k result docs join back to the document
        table (broadcast) and pay snippet string work — the same two-phase
        shape as field fetch."""
        from ..functions.components import analyzed_snippets

        q = parse_query(query, mode, analyzer=self.analyzer)
        qterms = {t for c in q.clauses if c.kind in ("term", "phrase")
                  for t in c.terms}
        top = self.search(query, k=k, mode=mode, with_url=False, **kw)
        rows = (
            docs.join(
                F.broadcast(top.select(F.col("docid").alias(id_col), "score")),
                id_col,
            )
            .select(id_col, "score", text_col)
            .toPandas()
            .sort_values("score", ascending=False)
            .reset_index(drop=True)
        )
        rows["snippet"] = analyzed_snippets(
            rows[text_col], qterms, analyzer=self.analyzer, window=window
        )
        return rows[[id_col, "score", "snippet"]]

    def expand_prefix(self, prefix: str, max_expansions: int = 1024) -> list[str]:
        """PrefixQuery term expansion over the sorted terms dictionary
        (search/MultiTermQuery.java:64-116; the postings files' row-group
        min/max stats prune the scan like BlockTree's FST index)."""
        rows = (
            self._dictionary.where(F.col("term").startswith(prefix))
            .select("term")
            .distinct()
            .orderBy("term")
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]

    @staticmethod
    def wildcard_to_regex(pattern: str) -> str:
        """Translate Lucene wildcard syntax (* = any run, ? = one char) to an
        anchored Java regex (search/WildcardQuery.java:58-90 toAutomaton)."""
        import re as _re

        parts = []
        for ch in pattern:
            if ch == "*":
                parts.append(".*")
            elif ch == "?":
                parts.append(".")
            else:
                parts.append(_re.escape(ch))
        return "^" + "".join(parts) + "$"

    def expand_wildcard(self, pattern: str, max_expansions: int = 1024) -> list[str]:
        """WildcardQuery expansion: automaton ∩ dictionary
        (codecs/blocktree/IntersectTermsEnum.java semantics). The literal
        prefix before the first wildcard pre-filters the term-sorted
        parquet scan, so `wi*ow` prunes row groups like BlockTree's FST
        seek; leading-wildcard patterns with a literal TAIL (`*dow`) seek
        the reversed-terms sidecar instead (ReversedWildcardFilter
        analog), so they also prune rather than scanning the whole
        dictionary."""
        import re as _re

        prefix = _re.match(r"^[^*?]*", pattern).group(0)
        suffix = _re.search(r"[^*?]*$", pattern).group(0)
        return self._expand_regex(
            self.wildcard_to_regex(pattern), prefix, max_expansions,
            suffix=suffix,
        )

    def expand_fuzzy(
        self, target: str, max_edits: int = 2, max_expansions: int = 50
    ) -> list[tuple[str, float]]:
        """FuzzyQuery expansion (search/FuzzyQuery.java:54-56): dictionary
        terms within ``max_edits`` classic Levenshtein edits of ``target``
        (transpositions=false profile — matches Spark/DuckDB levenshtein),
        each with similarity boost 1 - ed / min(|term|, |target|)
        (FuzzyTermsEnum's BoostAttribute). TopTermsRewrite cutoff: the
        ``max_expansions`` highest-boost terms, ties by term order
        (TopTermsRewrite.java:40-70's priority queue). The length pre-filter
        (|len - target_len| <= max_edits) prunes the dictionary scan before
        the JVM levenshtein runs, mirroring the Levenshtein automaton's
        band restriction."""
        tl = len(target)
        rows = (
            self._dictionary.select("term")
            .where(F.length("term").between(tl - max_edits, tl + max_edits))
            .distinct()
            .withColumn("ed", F.levenshtein(F.col("term"), F.lit(target)))
            .where(F.col("ed") <= max_edits)
            .withColumn(
                "boost",
                F.lit(1.0)
                - F.col("ed").cast("double")
                / F.least(F.length("term"), F.lit(tl)).cast("double"),
            )
            .orderBy(F.desc("boost"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        return [(r["term"], float(r["boost"])) for r in rows]

    def expand_wildcard_topterms(
        self, pattern: str, n: int = 50, resident: bool = False
    ) -> list[str]:
        """TopTermsRewrite cutoff for SCORING wildcard rewrites
        (search/TopTermsRewrite.java:40-70 applied to WildcardQuery):
        candidates ranked by global df descending (the highest-impact
        terms), ties by term — the deliberate df-ranked profile of the
        constant-boost case."""
        terms = (
            self.expand_wildcard_resident(pattern)
            if resident
            else self.expand_wildcard(pattern, max_expansions=1 << 20)
        )
        return self._topterms_cutoff(terms, n, resident)

    def _topterms_cutoff(
        self, terms: list[str], n: int, resident: bool
    ) -> list[str]:
        """df-ranked TopTermsRewrite cutoff, shared by the scoring rewrite
        and expand_wildcard_topterms (one implementation, no drift)."""
        if len(terms) <= n:
            return sorted(terms)
        stats = (
            self._term_stats_resident(terms)
            if resident
            else self._term_stats(terms)
        )
        return sorted(sorted(terms, key=lambda t: (-stats.get(t, 0), t))[:n])

    def expand_regexp(self, regex: str, max_expansions: int = 1024) -> list[str]:
        """RegexpQuery expansion: the pattern must match the ENTIRE term
        (search/RegexpQuery.java:43-47), hence the ^(?:...)$ anchoring."""
        meta = set(".*+?[](){}|\\^$")
        prefix = ""
        for ch in regex:
            if ch in meta:
                break
            prefix += ch
        return self._expand_regex(f"^(?:{regex})$", prefix, max_expansions)

    def _reversed_dictionary(self) -> DataFrame:
        """Reversed-terms sidecar (solr/core/.../analysis/
        ReversedWildcardFilterFactory.java keeps a reversed copy of every
        term so leading wildcards become prefix seeks): (term_rev, term)
        derived once per manifest generation from the BOUNDED dictionary,
        persisted range-partitioned + sorted by term_rev — a `*dow`
        lookup shows PushedFilters: StringStartsWith(term_rev, 'wod')
        instead of a full dictionary scan."""
        gen = self.man.get("generation", 0)
        path = os.path.join(self.index_dir, f"terms_rev_g{gen}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            _publish_dir(
                lambda tmp: (
                    self._dictionary.select("term").distinct()
                    .withColumn("term_rev", F.reverse(F.col("term")))
                    .repartitionByRange(len(self.seg_meta), "term_rev")
                    .sortWithinPartitions("term_rev")
                    .write.mode("overwrite")
                    .parquet(tmp)
                ),
                path,
            )
        return self.spark.read.parquet(path)

    def _expand_regex(
        self, anchored: str, prefix: str, max_expansions: int,
        suffix: str = "",
    ) -> list[str]:
        if not prefix and suffix:
            # leading wildcard, literal tail: prefix-seek the reversed
            # sidecar, then confirm against the full pattern
            try:
                t = self._reversed_dictionary().where(
                    F.col("term_rev").startswith(suffix[::-1])
                ).select("term")
            except Exception:  # read-only index dir: plain dictionary scan
                t = self._dictionary.select("term")
        else:
            t = self._dictionary.select("term")
            if prefix:
                t = t.where(F.col("term").startswith(prefix))
        rows = (
            t.where(F.col("term").rlike(anchored))
            .distinct()
            .orderBy("term")
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]

    def _rewrite_multiterm(
        self, q: Query, resident: bool = False, scoring: bool = False
    ) -> Query | None:
        """MultiTermQuery rewrite (search/MultiTermQuery.java:64-116,
        CONSTANT_SCORE_REWRITE): expand wildcard/regexp patterns against the
        terms dictionary into constant-score term_set clauses. Returns None
        when a required pattern matches no terms (empty result)."""
        from .query import Clause

        out = []
        for c in q.clauses:
            if c.kind == "bool":
                sub = (
                    self._rewrite_multiterm(c.sub, resident=resident,
                                            scoring=scoring)
                    if _query_has(c.sub, ("wildcard", "regexp", "fuzzy"))
                    else c.sub
                )
                if sub is None:
                    if c.required:
                        return None
                    continue
                from .query import Clause as _Cl

                out.append(_Cl("bool", [], required=c.required,
                               boost=c.boost, sub=sub))
                continue
            # constant-score rewrite is a doc-set union, not scoring clauses,
            # so no BooleanQuery.maxClauseCount-style cap applies (Lucene's
            # CONSTANT_SCORE_REWRITE builds a BitSet over all matching terms)
            if c.kind == "fuzzy":
                # FuzzyQuery: SCORED rewrite (TopTermsBlendedFreqScoring-
                # Rewrite, search/TopTermsRewrite.java:40-70): top-N
                # candidates by similarity boost become a nested boolean of
                # boosted scored term clauses — per-expansion BM25, weight =
                # idf * (1 - ed / min(|term|, |target|)), FuzzyTermsEnum's
                # BoostAttribute. Deterministic clause order (-boost, term)
                # fixes the float32 accumulation order.
                cands = (
                    self.expand_fuzzy_resident(c.terms[0], c.fuzzy_edits)
                    if resident
                    else self.expand_fuzzy(c.terms[0], c.fuzzy_edits)
                )
                if not cands:
                    if c.required:
                        return None
                    continue
                sub = Query([
                    Clause("term", [t], required=False, boost=b)
                    for t, b in cands
                ])
                out.append(Clause("bool", [], required=c.required,
                                  boost=c.boost, sub=sub))
                continue
            if c.kind == "wildcard":
                terms = (
                    self.expand_wildcard_resident(c.terms[0])
                    if resident
                    else self.expand_wildcard(c.terms[0], max_expansions=1 << 20)
                )
            elif c.kind == "regexp":
                terms = (
                    self.expand_regexp_resident(c.terms[0])
                    if resident
                    else self.expand_regexp(c.terms[0], max_expansions=1 << 20)
                )
            else:
                out.append(c)
                continue
            if not terms:
                if c.required:
                    return None
                continue
            if scoring and c.kind in ("wildcard", "regexp"):
                # SCORING_BOOLEAN rewrite via TopTermsRewrite: the top-50
                # df-ranked expansions become real BM25 term clauses
                # (constant boost 1 each; the pattern's own boost rides on
                # the group), instead of the constant-score doc-set union
                terms = self._topterms_cutoff(terms, 50, resident)
                sub = Query([
                    Clause("term", [t], required=False) for t in terms
                ])
                out.append(Clause("bool", [], required=c.required,
                                  boost=c.boost, sub=sub))
                continue
            out.append(Clause("term_set", terms, required=c.required, boost=c.boost))
        # prohibited patterns ('-foo*') expand into plain must_not terms:
        # an empty expansion just prohibits nothing
        mn = list(q.must_not)
        for kind, pat in getattr(q, "must_not_patterns", ()):
            if resident:
                mn.extend(
                    self.expand_wildcard_resident(pat)
                    if kind == "wildcard"
                    else self.expand_regexp_resident(pat)
                )
            else:
                mn.extend(
                    self.expand_wildcard(pat, max_expansions=1 << 20)
                    if kind == "wildcard"
                    else self.expand_regexp(pat, max_expansions=1 << 20)
                )
        if not out:
            return None
        return Query(out, mn, q.min_should_match, dismax_tie=q.dismax_tie)

    def span_near(
        self, text: str, slop: int = 0, ordered: bool = True
    ) -> DataFrame:
        """SpanNearQuery over unit (single-term) sub-spans
        (search/spans/SpanNearQuery.java; kernels in spans.py follow
        NearSpansOrdered/Unordered semantics with documented
        simplifications). Returns (docid, freq) for docs with >= 1 span
        match, doc order."""
        from ..analysis import analyze_one
        from . import spans as SP

        terms = [t for t, _ in analyze_one(text, analyzer=self.analyzer)]
        empty = self.spark.createDataFrame([], "docid long, freq long")
        if not terms:
            return empty
        if len(set(terms)) == len(terms) or ordered:
            # distinct terms (or ordered, whose chain handles repeats):
            # batched kernels via the span algebra — no per-doc Python loop
            node = SP.SpanNear(
                tuple(SP.SpanTerm(t) for t in terms), slop, ordered
            )
            return self.span_query(node)
        seg_meta = self.seg_meta

        def run(pdf):
            # repeated terms, unordered: sequential sweep with repeat
            # reconciliation (NearSpansUnordered "with repeats" semantics)
            doc_base = seg_meta[pdf["segment_id"].iloc[0]]["doc_base"]
            rows = {t: _Row(r) for t, r in ((r["term"], r) for _, r in pdf.iterrows())}
            if any(t not in rows for t in terms):
                return pd.DataFrame({"docid": np.zeros(0, np.int64),
                                     "freq": np.zeros(0, np.int64)})
            ids, _ = min((rows[t] for t in terms), key=lambda r: r.df).decode_all()
            for t in set(terms):
                _, tfs = rows[t].lookup(ids)
                ids = ids[tfs > 0]
                if len(ids) == 0:
                    return pd.DataFrame({"docid": np.zeros(0, np.int64),
                                         "freq": np.zeros(0, np.int64)})
            pos_arrays = [rows[t].positions_for(ids) for t in terms]
            out_ids, out_freqs = [], []
            for j in range(len(ids)):
                f = SP.span_near_count(
                    [arrs[j] for arrs in pos_arrays], slop, ordered, terms
                )
                if f > 0:
                    out_ids.append(ids[j] + doc_base)
                    out_freqs.append(f)
            return pd.DataFrame(
                {"docid": np.array(out_ids, np.int64),
                 "freq": np.array(out_freqs, np.int64)}
            )

        return self._map_segments(
            run, sorted(set(terms)), True, "docid long, freq long"
        ).orderBy("docid")

    def span_query(self, node) -> DataFrame:
        """Evaluate a span-algebra query (spans.SpanTerm/Near/Or/Not/First)
        to per-doc span match counts: DataFrame(docid, freq), doc order.
        Candidate docs are pre-filtered per the algebra (conjunction under
        near, union under or, include side under not) before any position
        decode, then the whole segment evaluates in one batched pass."""
        from . import spans as SP

        seg_meta = self.seg_meta

        def run(pdf):
            doc_base = seg_meta[pdf["segment_id"].iloc[0]]["doc_base"]
            rows = {r["term"]: _Row(r) for _, r in pdf.iterrows()}
            posmap = _span_posmap(node, rows)
            gs, _ge, _w = SP.eval_spans(node, posmap)
            d, c = SP.span_doc_counts(gs)
            return pd.DataFrame(
                {"docid": (d + doc_base).astype(np.int64), "freq": c}
            )

        return self._map_segments(
            run, sorted(SP.span_terms(node)), True, "docid long, freq long"
        ).orderBy("docid")

    def span_search(self, node, k: int = 10) -> DataFrame:
        """SpanScorer top-k (spans/SpanScorer.java:48-60): per matching doc
        freq = sum of sloppyFreq(width) = 1/(1+width) over spans (float32
        accumulation in span order), scored with the BM25 kernel under the
        span tree's summed-idf weight (SpanWeight.buildSimWeight collects
        every term's statistics). Returns (rank, docid, score)."""
        from . import spans as SP

        all_terms = sorted(SP.span_terms(node))
        stats = self._term_stats(all_terms)
        idf_sum = np.float32(0.0)
        for t in all_terms:
            idf_sum = np.float32(idf_sum + bm25.idf(stats.get(t, 0), self.max_doc))
        wv = bm25.weight_value(idf_sum)
        avgdl = bm25.avg_field_length(self.sum_ttf, self.max_doc)
        cache = bm25.norm_cache(avgdl)
        seg_meta = self.seg_meta

        def run(pdf):
            seg = seg_meta[pdf["segment_id"].iloc[0]]
            doc_base = seg["doc_base"]
            rows = {r["term"]: _Row(r) for _, r in pdf.iterrows()}
            posmap = _span_posmap(node, rows)
            gs, _ge, w = SP.eval_spans(node, posmap)
            d, freqs = SP.span_doc_sloppy_freqs(gs, w, seg["max_doc"])
            if len(d) == 0:
                return _empty_pdf()
            norms = _read_norms(seg["dir"])
            sc = bm25.score_freqs(freqs, norms[d], cache, wv)
            sel = np.lexsort((d, -sc))[:k]
            return pd.DataFrame(
                {"docid": (d[sel] + doc_base).astype(np.int64),
                 "score": sc[sel].astype(np.float32)}
            )

        return self._ranked(
            self._map_segments(run, all_terms, True, RESULT_SCHEMA), k
        )

    # ------------------------------------------------------------------
    # resident (embedded) search path — the warm-serving mode
    # ------------------------------------------------------------------

    def _read_seg_postings(
        self, seg_dir: str, terms: list[str], need_pos: bool
    ) -> pd.DataFrame:
        """The resident scheduler's postings read (the shared reader)."""
        return _read_postings(seg_dir, terms, need_pos)

    def _dictionary_resident(self) -> np.ndarray:
        """Sorted default-field terms dictionary, cached for the searcher's
        lifetime (driver-side single-column parquet reads — the FST term
        index held hot, the embedded-mode analog of BlockTree in RAM)."""
        if self._resident_dict is None:
            import pyarrow.parquet as pq

            from ..index.build import FIELD_SEP

            parts = []
            for m in self.seg_meta.values():
                t = pq.read_table(
                    os.path.join(m["dir"], "postings.parquet"),
                    columns=["term"],
                )
                parts.append(t["term"].to_numpy(zero_copy_only=False))
            allt = np.unique(np.concatenate(parts)) if parts else np.zeros(0, object)
            mask = np.char.find(allt.astype(str), FIELD_SEP) < 0
            self._resident_dict = allt[mask]
        return self._resident_dict

    def expand_wildcard_resident(
        self, pattern: str, max_expansions: int = 1 << 20
    ) -> list[str]:
        """Wildcard expansion over the resident dictionary — same automaton
        ∩ dictionary semantics as expand_wildcard, zero Spark jobs."""
        import re as _re

        rx = _re.compile(self.wildcard_to_regex(pattern))
        d = self._dictionary_resident()
        prefix = _re.match(r"^[^*?]*", pattern).group(0)
        if prefix:
            d = _prefix_slice(d, prefix)
        return [t for t in d if rx.match(t)][:max_expansions]

    def expand_regexp_resident(
        self, regex: str, max_expansions: int = 1 << 20
    ) -> list[str]:
        import re as _re

        rx = _re.compile(f"^(?:{regex})$")
        meta = set(".*+?[](){}|\\^$")
        prefix = ""
        for ch in regex:
            if ch in meta:
                break
            prefix += ch
        d = self._dictionary_resident()
        if prefix:
            d = _prefix_slice(d, prefix)
        return [t for t in d if rx.match(t)][:max_expansions]

    def expand_fuzzy_resident(
        self, target: str, max_edits: int = 2, max_expansions: int = 50
    ) -> list[tuple[str, float]]:
        """Fuzzy expansion over the resident dictionary: same candidates,
        boosts and (-boost, term) cutoff order as expand_fuzzy."""
        tl = len(target)
        d = self._dictionary_resident()
        lens = np.char.str_len(d.astype(str))
        band = d[(lens >= tl - max_edits) & (lens <= tl + max_edits)]
        out = []
        for t in band:
            ed = _levenshtein(t, target, max_edits)
            if ed <= max_edits:
                out.append((t, 1.0 - ed / min(len(t), tl)))
        out.sort(key=lambda kv: (-kv[1], kv[0]))
        return out[:max_expansions]

    def _term_stats_resident(self, terms: list[str]) -> dict[str, int]:
        """Global df per term without a Spark job (driver-side pruned
        parquet reads), sharing the searcher-lifetime stats cache."""
        import pyarrow.parquet as pq

        missing = [t for t in terms if t not in self._stats_cache]
        if missing:
            got: dict[str, int] = {}
            for m in self.seg_meta.values():
                t = pq.read_table(
                    os.path.join(m["dir"], "postings.parquet"),
                    columns=["term", "df"],
                    filters=[("term", "in", missing)],
                )
                for term, df_ in zip(t["term"].to_pylist(), t["df"].to_pylist()):
                    got[term] = got.get(term, 0) + int(df_)
            for t_ in missing:
                self._stats_cache[t_] = got.get(t_, 0)
        return {t_: self._stats_cache[t_] for t_ in terms}

    def search_resident(
        self,
        query,
        k: int = 10,
        mode: str = "OR",
        fq=None,
        min_should_match: int = 0,
        dismax_tie: float | None = None,
        after: tuple | None = None,
        prune: bool = True,
        with_url: bool = False,
    ) -> pd.DataFrame:
        """Embedded single-node execution of the SAME query semantics: the
        per-segment kernels (_score_segment) run driver-side over pyarrow
        reads in a thread pool — zero Spark jobs on the hot path, results
        bit-identical to search(). This is the Lucene-embedded serving mode
        beside the Solr-distributed one: Spark carries the build and
        cold/large-scale queries, the resident searcher serves repeated
        interactive queries at in-process latency (the ROADMAP
        'resident searcher' item)."""
        from concurrent.futures import ThreadPoolExecutor

        plan = self._plan(
            query, k, mode, prune, after, min_should_match, fq,
            dismax_tie=dismax_tie, resident=True,
        )
        if plan is None:
            return _resident_empty(with_url)

        def run_seg(seg_dir):
            # the distributed scheduler's per-segment step (_map_segments)
            # on a driver thread
            pdf = self._read_seg_postings(seg_dir, plan.terms, plan.need_pos)
            return _score_segment(plan, pdf) if len(pdf) else _empty_pdf()

        dirs = [m["dir"] for m in self.seg_meta.values()]
        if len(dirs) > 1:
            with ThreadPoolExecutor(min(8, len(dirs))) as ex:
                parts = list(ex.map(run_seg, dirs))
        else:
            parts = [run_seg(dirs[0])]
        allr = pd.concat(parts, ignore_index=True)
        if len(allr) == 0:
            return _resident_empty(with_url)
        allr = allr.sort_values(
            ["score", "docid"], ascending=[False, True], kind="mergesort"
        ).head(k).reset_index(drop=True)
        allr["rank"] = np.arange(1, len(allr) + 1, dtype=np.int32)
        if with_url:
            allr["url"] = [self._resident_url(int(d)) for d in allr["docid"]]
            return allr[["rank", "docid", "url", "score"]]
        return allr[["rank", "docid", "score"]]

    def _resident_url(self, docid: int) -> str:
        import pyarrow.parquet as pq

        for m in self.seg_meta.values():
            if m["doc_base"] <= docid < m["doc_base"] + m["max_doc"]:
                t = pq.read_table(
                    os.path.join(m["dir"], "docmap.parquet"),
                    columns=["docid", "url"],
                    filters=[("docid", "=", docid - m["doc_base"])],
                )
                return t["url"][0].as_py()
        raise KeyError(docid)

    def field_sum_len(self, field: str) -> int:
        """Total analyzed length of one field across segments (per-field
        avgdl numerator) — tiny driver-side parquet reads, cached for the
        searcher's lifetime."""
        if field not in self._field_sums:
            total = 0
            for m in self.seg_meta.values():
                _n, s = _read_field_norms(m["dir"], field, missing_ok=True)
                total += s
            self._field_sums[field] = total
        return self._field_sums[field]

    def edismax(
        self,
        query: str,
        qf: dict[str, float],
        tie: float = 0.0,
        k: int = 10,
        pf: dict[str, float] | None = None,
        ps: int = 0,
    ) -> DataFrame:
        """ExtendedDismax per-field-boost search (solr/core/.../search/
        ExtendedDismaxQParser.java:60-120): each query term becomes a
        DisjunctionMaxQuery over the qf fields — per-field BM25 with the
        FIELD's OWN norms, avgdl, df and idf (multi-field postings are
        namespaced runs of the dictionary, index/Term.java:33-41) and
        weight idf_f(t) * qf[f]; per term the contribution is
        max over fields + tie * rest (DisjunctionMaxQuery.java:45-54), and
        the document score is the float32 clause-order sum over terms.

        ``pf`` adds the phrase-field boost (ExtendedDismaxQParser pf):
        for each pf field the WHOLE query, as an exact phrase over that
        field's namespaced terms, joins the boolean as an optional clause
        — weight = (sum of the field's term idfs) * pf[field], scored
        with the field's own norms/avgdl.

        ``ps`` is the phrase slop applied to every pf clause
        (ExtendedDismaxQParser ps): the pf phrase is scored as a sloppy
        phrase (SloppyPhraseScorer minimal-window sweep, sloppyFreq =
        1/(distance+1) per window) instead of requiring exact adjacency.
        """
        from ..analysis import analyze_one
        from ..index.build import FIELD_SEP

        terms = [t for t, _ in analyze_one(query, analyzer=self.analyzer)]
        empty = self.spark.createDataFrame([], "rank int, docid long, score float")
        if not terms:
            return empty
        fields = list(qf)
        pf = dict(pf or {})
        if len(terms) < 2:
            pf = {}  # a one-term phrase degenerates; reference drops pf too

        def ns(f: str, t: str) -> str:
            return t if f == "text" else f + FIELD_SEP + t

        all_ns = sorted(
            {ns(f, t) for f in fields for t in terms}
            | {ns(f, t) for f in pf for t in terms}
        )
        stats = self._term_stats(all_ns)
        wv = {
            (f, t): bm25.weight_value(
                bm25.idf(stats.get(ns(f, t), 0), self.max_doc), boost=qf[f]
            )
            for f in fields
            for t in terms
        }
        # pf weight: a PhraseQuery's weight is the sum of its terms' idfs
        # (PhraseWeight), here per pf field and scaled by its boost
        wv_pf = {}
        for f, boost in pf.items():
            s_idf = np.float32(0.0)
            for t in terms:
                s_idf = np.float32(
                    s_idf + bm25.idf(stats.get(ns(f, t), 0), self.max_doc)
                )
            wv_pf[f] = bm25.weight_value(s_idf, boost=boost)
        caches = {
            f: bm25.norm_cache(
                bm25.avg_field_length(self.field_sum_len(f), self.max_doc)
            )
            for f in set(fields) | set(pf)
        }
        seg_meta = self.seg_meta
        tie_f, ps_slop = np.float32(tie), int(ps)

        def run(pdf):
            seg = seg_meta[pdf["segment_id"].iloc[0]]
            rows = {r["term"]: _Row(r) for _, r in pdf.iterrows()}
            cand = np.unique(
                np.concatenate([r.decode_all()[0] for r in rows.values()])
            )
            norms_by_f = {
                f: _read_field_norms(seg["dir"], f, missing_ok=True)[0]
                for f in set(fields) | set(wv_pf)
            }
            n = len(cand)
            total = np.zeros(n, dtype=np.float32)
            matched = np.zeros(n, dtype=bool)
            for t in terms:
                best = np.zeros(n, dtype=np.float32)
                ssum = np.zeros(n, dtype=np.float32)
                hit = np.zeros(n, dtype=bool)
                for f in fields:
                    r = rows.get(ns(f, t))
                    if r is None:
                        continue
                    _, tfs = r.lookup(cand)
                    m = tfs > 0
                    if not m.any():
                        continue
                    s = np.zeros(n, dtype=np.float32)
                    s[m] = bm25.score_freqs(
                        tfs[m], norms_by_f[f][cand[m]], caches[f], wv[(f, t)]
                    )
                    ssum = (ssum + s).astype(np.float32)
                    np.maximum(best, s, out=best)
                    hit |= m
                contrib = (
                    best + (tie_f * (ssum - best)).astype(np.float32)
                ).astype(np.float32)
                total = (total + contrib).astype(np.float32)
                matched |= hit
            for f, wvp in wv_pf.items():
                from .query import Clause as _Cl

                pc = _Cl("phrase", [ns(f, t) for t in terms],
                         offsets=list(range(len(terms))), slop=ps_slop)
                if not _phrase_present(pc, rows):
                    continue
                ids_p, freqs = _phrase_freqs(pc, rows, cand)
                if len(ids_p) == 0:
                    continue
                pos_i = np.searchsorted(cand, ids_p)
                contrib = np.zeros(n, dtype=np.float32)
                contrib[pos_i] = bm25.score_freqs(
                    freqs, norms_by_f[f][ids_p], caches[f], wvp
                )
                total = (total + contrib).astype(np.float32)
            cand, total = cand[matched], total[matched]
            if len(cand) == 0:
                return _empty_pdf()
            sel = np.lexsort((cand, -total))[:k]
            return pd.DataFrame(
                {"docid": (cand[sel] + seg["doc_base"]).astype(np.int64),
                 "score": total[sel].astype(np.float32)}
            )

        return self._ranked(
            self._map_segments(run, all_ns, bool(pf), RESULT_SCHEMA), k
        )

    def matching_docids(self, terms: list[str]) -> DataFrame:
        """Constant-score doc-set union of the given terms
        (CONSTANT_SCORE_FILTER_REWRITE): returns distinct docids, sorted."""
        seg_meta = self.seg_meta

        def run(pdf):
            doc_base = seg_meta[pdf["segment_id"].iloc[0]]["doc_base"]
            ids = [_Row(r).decode_all()[0] for _, r in pdf.iterrows()]
            return pd.DataFrame(
                {"docid": (np.unique(np.concatenate(ids)) + doc_base).astype(np.int64)}
            )

        return self._map_segments(
            run, sorted(set(terms)), False, "docid long"
        ).orderBy("docid")


def _explain_segment(searcher: "SparkSearcher", q: Query, docid: int) -> dict:
    """Driver-side explain: read the one segment holding ``docid`` with
    pyarrow, decode the query terms' postings, reproduce the scoring."""
    seg = None
    for name, m in searcher.seg_meta.items():
        if m["doc_base"] <= docid < m["doc_base"] + m["max_doc"]:
            seg = m
            break
    if seg is None:
        raise ValueError(f"docid {docid} out of range")
    local = docid - seg["doc_base"]
    norms = _read_norms(seg["dir"])
    norm_byte = int(norms[local])

    terms = sorted(set(q.all_terms))
    # global stats (same two-phase shape as search, shared stats cache)
    stats = searcher._term_stats(terms)
    idf_by_term = {t: bm25.idf(stats.get(t, 0), searcher.max_doc) for t in terms}
    cache = bm25.norm_cache(
        bm25.avg_field_length(searcher.sum_ttf, searcher.max_doc)
    )

    tbl = _read_postings(seg["dir"], terms, _query_has(q, ("phrase",)))
    rows = {r["term"]: _Row(r) for _, r in tbl.iterrows()}
    lid = np.array([local], dtype=np.int64)

    wv_all = _weights_for(q, idf_by_term)
    details = []
    total = np.float32(0.0)
    matched = False
    for ci, clause in enumerate(q.clauses):
        if clause.kind == "bool":
            sub_s, sub_m = _score_subquery(
                clause.sub, rows, lid, norms, cache, wv_all[ci]
            )
            member = bool(sub_m[0])
            contrib = sub_s[0] if member else np.float32(0.0)
            matched = matched or member
            total = np.float32(total + contrib)
            details.append(
                {
                    "clause": f"({len(clause.sub.clauses)} sub-clauses)",
                    "kind": "bool",
                    "freq": int(member),
                    "idf": 0.0,
                    "boost": clause.boost,
                    "weight_value": 0.0,
                    "norm_byte": norm_byte,
                    "score": float(contrib),
                }
            )
            continue
        if clause.kind == "term_set":
            member = False
            for t in clause.terms:
                r = rows.get(t)
                if r is not None and r.lookup(lid)[1][0] > 0:
                    member = True
                    break
            contrib = np.float32(clause.boost) if member else np.float32(0.0)
            matched = matched or member
            total = np.float32(total + contrib)
            details.append(
                {
                    "clause": f"set({len(clause.terms)} terms)",
                    "kind": "term_set",
                    "freq": int(member),
                    "idf": 0.0,
                    "boost": clause.boost,
                    "weight_value": float(clause.boost),
                    "norm_byte": norm_byte,
                    "score": float(contrib),
                }
            )
            continue
        freq = 0
        if clause.kind == "term":
            r = rows.get(clause.terms[0])
            if r is not None:
                _, tfs = r.lookup(lid)
                freq = int(tfs[0])
            idf_v = idf_by_term[clause.terms[0]]
        else:
            if _phrase_present(clause, rows):
                ids_p, freqs = _phrase_freqs(clause, rows, lid)
                if len(ids_p):
                    # keep sloppy freq fractional: flooring it would break
                    # the CheckHits invariant (explain total == search score)
                    fv = freqs[0]
                    freq = float(fv) if getattr(clause, "slop", 0) > 0 else int(fv)
            idf_v = np.float32(0.0)
            for t in clause.terms:
                idf_v = np.float32(idf_v + idf_by_term[t])
        wv = bm25.weight_value(idf_v, boost=clause.boost)
        contrib = np.float32(0.0)
        if freq > 0:
            contrib = bm25.score_freqs(
                np.array([freq]), np.array([norm_byte]), cache, wv
            )[0]
            matched = True
        total = np.float32(total + contrib)
        details.append(
            {
                "clause": " ".join(clause.terms),
                "kind": clause.kind,
                "freq": freq,
                "idf": float(idf_v),
                "boost": clause.boost,
                "weight_value": float(wv),
                "norm_byte": norm_byte,
                "score": float(contrib),
            }
        )
    for t in q.must_not:
        r = rows.get(t)
        if r is not None:
            _, tfs = r.lookup(lid)
            if tfs[0] > 0:
                matched = False
    return {"docid": int(docid), "matched": matched,
            "total": float(total), "details": details}
