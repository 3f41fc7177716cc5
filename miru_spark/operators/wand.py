"""Per-partition top-k kernels over packed postings (SURVEY.md §2.4, §3.2).

This is the physical query path the north_rule names: the query terms'
delta+varint posting rows are scanned term-pruned (and part-pruned under a
timeRange), every part's rows land in one task, and ONE Arrow kernel per task
decodes them, scores each part and keeps that part's top-k; a JVM round and
ordered LIMIT merge the parts — the reference's per-partition
``FullTextCustomQuestion.askLocal`` + ``FullTextAnswerMerger`` shape
(miru-stream-plugins/.../fulltext/FullTextCustomQuestion.java:53-118,
FullTextAnswerMerger.java:31-68). ``packed_topk`` builds that plan; it serves
``wand_topk`` and ``fulltext.top_k``'s flat queries on a loaded index, so
both answer through one scoring implementation.

Plan: scan (``term IN`` pushed to parquet) ∪ the removal index's
(part, doc_id) marker rows → ``coalesce(1)`` when the query's Σdf fits one
task's decode budget, else ``repartition(width, "part")`` → ``mapInArrow``
→ ``F.round(score, 6)`` → TakeOrdered(score desc, doc desc). No pandas, no
join, no aggregate.

Per part the kernel drops negated, removed and out-of-range docs BEFORE any
scoring (filtering after a top-k cut would let masked docs take heap
slots), scores every (term, qtf, clause) entry of the expanded query — one
term can serve two clauses — and sums per doc in ascending (term, qtf)
order, the DataFrame fold's ``array_sort(struct(term, contrib))`` order
(a contribution is monotone in qtf), so scores are bit-identical to it.
Three per-part scorers, chosen by ``kernel=``, all exact:
  * ``and``  — rarest-first sorted-array intersection of the clause id
               sets, then the ordered rescore (every AND query).
  * ``taat`` — dense-accumulator term-at-a-time: acc[ids] += contrib,
               fully vectorized; exact, no pruning.
  * ``wand`` — document-at-a-time block-max WAND: pivot selection on term
               upper bounds, block skipping via searchsorted over
               block_last / block_max_tf; a Python pivot loop.
The part's cut keeps the RAW score of every doc ≥ its k-th raw score −
``_CUT_SLACK``; rounding then happens once, JVM-side (HALF_UP, as the
oracle), so no numpy rounding can disagree with the final order.

Scale note: per-partition state is O(capacity) (the dense accumulator) —
bounded by the partition rollover capacity exactly like the reference's
per-partition bitmaps, independent of corpus size.
"""

from __future__ import annotations

import heapq
import os
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miru_spark import codec
from miru_spark.filters import QuerySpec, parse_query
from miru_spark.operators.build import IndexHandle
from miru_spark.operators.fulltext import (
    K1,
    B,
    _DECODE_POSTINGS_PER_TASK,
    _part_pruned,
    expand_clauses,
    expand_negatives,
    parts_for_time_range,
    term_stats,
)
from miru_spark.session import local_frame

# kernel='auto' switches TAAT → WAND above this many decoded postings per
# partition (see the measured rationale at the auto branch in _score_part)
_TAAT_CUTOFF = int(os.environ.get("SPARK_GRAFT_TAAT_CUTOFF", "8000000"))
# a part keeps every doc whose raw score is ≥ its k-th raw score − this.
# round(x, 6) moves a score by ≤ 5e-7, so a doc below the cut rounds
# strictly below k docs of its own part and cannot reach the global top-k,
# whatever the rounding mode; ties in the rounded score (ordered by doc)
# always survive to the JVM merge.
_CUT_SLACK = 2e-6


def _bm25_contrib(tf: np.ndarray, dl: np.ndarray, df: float, n_docs: int, avgdl: float,
                  qtf: float) -> np.ndarray:
    idf = np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    tfn = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
    return qtf * idf * tfn


def _tfidf_contrib(tf: np.ndarray, cum_tf: float, qtf: float) -> np.ndarray:
    return (qtf * tf) / cum_tf


class _TermCtx:
    """One (term, qtf, clause) entry over one part's decoded posting row."""

    __slots__ = ("term", "qtf", "clause", "df", "cum_tf", "ids", "tfs",
                 "dls", "keys", "block_last", "block_max_tf", "ub",
                 "idf", "ptr", "cur", "blk_ubs")

    def __init__(self, term, qtf, clause, df, cum_tf, ids, tfs, dls, keys,
                 block_last, block_max_tf):
        self.term, self.qtf, self.clause = term, qtf, clause
        self.df, self.cum_tf = df, cum_tf
        self.ids, self.tfs = ids, tfs
        self.dls, self.keys = dls, keys
        self.block_last, self.block_max_tf = block_last, block_max_tf
        self.ub = 0.0
        # WAND-loop working state (set up by _kernel_wand)
        self.idf = 0.0
        self.ptr = 0
        self.cur = -1
        self.blk_ubs: dict | None = None


def _exact_scores(terms: list[_TermCtx], doc_ids: np.ndarray,
                  scorer: str, n_docs: int, avgdl: float) -> np.ndarray:
    """Ascending-(term, qtf) rescore of a candidate id set — float ops
    identical to the DataFrame path's ordered fold. dl comes from the hit
    term's own posting row (the same doc carries the same dl in every list)."""
    scores = np.zeros(len(doc_ids), dtype=np.float64)
    for t in terms:  # already in (term, qtf, clause) order
        pos = np.searchsorted(t.ids, doc_ids)
        pos_c = np.minimum(pos, len(t.ids) - 1)
        hit = (len(t.ids) > 0) & (t.ids[pos_c] == doc_ids)
        if not np.any(hit):
            continue
        tf = t.tfs[pos_c[hit]].astype(np.float64)
        if scorer == "bm25":
            dl = t.dls[pos_c[hit]].astype(np.float64)
            c = _bm25_contrib(tf, dl, t.df, n_docs, avgdl, t.qtf)
        else:
            c = _tfidf_contrib(tf, t.cum_tf, t.qtf)
        scores[hit] = scores[hit] + c
    return scores


def _kernel_and(terms, n_clauses, scorer, n_docs, avgdl):
    """Intersect clause id-sets (rarest first), vectorized rescore."""
    by_clause: dict[int, np.ndarray] = {}
    for t in terms:
        cur = by_clause.get(t.clause)
        by_clause[t.clause] = t.ids if cur is None else np.union1d(cur, t.ids)
    if len(by_clause) != n_clauses:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    cand = None
    for ids in sorted(by_clause.values(), key=len):
        cand = ids if cand is None else np.intersect1d(cand, ids, assume_unique=True)
        if len(cand) == 0:
            return np.empty(0, np.int64), np.empty(0, np.float64)
    scores = _exact_scores(terms, cand, scorer, n_docs, avgdl)
    return cand, scores


def _kernel_taat(terms, scorer, n_docs, avgdl):
    """Dense-accumulator TAAT: exact OR scoring, fully vectorized."""
    size = max(int(t.ids[-1]) for t in terms) + 1
    acc = np.zeros(size, dtype=np.float64)
    seen = np.zeros(size, dtype=bool)
    for t in terms:
        tf = t.tfs.astype(np.float64)
        if scorer == "bm25":
            c = _bm25_contrib(tf, t.dls.astype(np.float64), t.df, n_docs, avgdl, t.qtf)
        else:
            c = _tfidf_contrib(tf, t.cum_tf, t.qtf)
        acc[t.ids] += c
        seen[t.ids] = True
    cand = np.flatnonzero(seen)
    return cand, acc[cand]


def _term_upper_bound(t: _TermCtx, scorer: str, n_docs: int, avgdl: float) -> float:
    mx = float(t.block_max_tf.max()) if len(t.block_max_tf) else 0.0
    if scorer == "bm25":
        # dl→0 maximizes the saturation term
        return float(_bm25_contrib(np.array([mx]), np.array([0.0]), t.df, n_docs, avgdl, t.qtf)[0])
    return float(_tfidf_contrib(np.array([mx]), t.cum_tf, t.qtf)[0])


def _block_ub(t: _TermCtx, blk: int, scorer: str, n_docs: int, avgdl: float) -> float:
    mx = float(t.block_max_tf[blk])
    if scorer == "bm25":
        return float(_bm25_contrib(np.array([mx]), np.array([0.0]), t.df, n_docs, avgdl, t.qtf)[0])
    return float(_tfidf_contrib(np.array([mx]), t.cum_tf, t.qtf)[0])


def _cur_doc(t: _TermCtx) -> int:
    return t.cur


_I64_MAX = np.iinfo(np.int64).max


def _kernel_wand(terms, scorer, n_docs, avgdl, k):
    """Document-at-a-time block-max WAND (Broder et al. 2003; Ding & Suel
    2011 block-max variant) for OR semantics.

    Pointers advance by binary search; a pivot is only evaluated when the sum
    of term upper bounds reaches θ − _CUT_SLACK AND the sum of the current
    *block* maxima does too (the block-max check) — otherwise we jump past
    the smallest block boundary. θ is the k-th best raw score seen so far,
    and the slack keeps every doc the part's cut (``_part_cut``) would keep:
    a skipped doc scores below θ − slack ≤ final θ − slack. Every evaluated
    doc is rescored in ascending-(term, qtf) order for bit-stable floats
    and returned; the cut then picks the survivors.

    Hot-loop notes (measured on BENCH/profile_wand.py): per-term idf is
    hoisted (one np.log per term — the same ufunc the array path applies, so
    pivot scores stay bit-identical to _bm25_contrib), block upper bounds
    are memoized per (term, block), pointers and current docs live in slots
    (no per-resort dict lookups), and ndarray.searchsorted is called as a
    method (the np.searchsorted dispatcher was ~30% of kernel time).
    """
    bm25 = scorer == "bm25"
    for t in terms:
        t.ub = _term_upper_bound(t, scorer, n_docs, avgdl)
        t.idf = (
            float(np.log(1.0 + (n_docs - t.df + 0.5) / (t.df + 0.5))) if bm25 else 0.0
        )
        t.ptr = 0
        t.cur = int(t.ids[0]) if len(t.ids) else -1
        t.blk_ubs = {}
    heap: list[tuple[float, int]] = []  # (score, doc) min-heap of size k
    bound = -np.inf  # θ − slack; −∞ until the heap holds k docs
    alive = [t for t in terms if len(t.ids)]
    evaluated: list[int] = []
    k1p1 = K1 + 1.0
    one_minus_b = 1.0 - B
    while alive:
        alive.sort(key=_cur_doc)
        # find pivot: smallest doc where cumulative UB reaches the bound
        acc_ub = 0.0
        pivot_i = -1
        for i, t in enumerate(alive):
            acc_ub += t.ub
            if acc_ub >= bound:
                pivot_i = i
                break
        if pivot_i < 0:
            break
        pivot_doc = alive[pivot_i].cur
        # every list positioned ON the pivot can score it: include them all
        # in the block-max check, or a pivot could be skipped on a partial
        # bound
        while pivot_i + 1 < len(alive) and alive[pivot_i + 1].cur == pivot_doc:
            pivot_i += 1
        if alive[0].cur == pivot_doc:
            # block-max check: tighter bound from the current blocks
            blk_ub = 0.0
            min_block_end = _I64_MAX
            for t in alive[: pivot_i + 1]:
                blk = int(t.block_last.searchsorted(pivot_doc))
                last = len(t.block_last) - 1
                if blk > last:
                    blk = last
                ub = t.blk_ubs.get(blk)
                if ub is None:
                    ub = _block_ub(t, blk, scorer, n_docs, avgdl)
                    t.blk_ubs[blk] = ub
                blk_ub += ub
                be = int(t.block_last[blk])
                if be < min_block_end:
                    min_block_end = be
            if blk_ub >= bound:
                evaluated.append(pivot_doc)
                score = 0.0
                for t in terms:  # (term, qtf) order — deterministic sum
                    ids = t.ids
                    p = ids.searchsorted(pivot_doc)
                    if p < len(ids) and ids[p] == pivot_doc:
                        tf = float(t.tfs[p])
                        if bm25:
                            # literal _bm25_contrib op order on scalars
                            # (IEEE +,*,/ are bit-equal scalar vs array)
                            dl = float(t.dls[p])
                            score += t.qtf * t.idf * (
                                tf * k1p1 / (tf + K1 * (one_minus_b + B * dl / avgdl))
                            )
                        else:
                            score += (t.qtf * tf) / t.cum_tf
                if len(heap) < k:
                    heapq.heappush(heap, (score, pivot_doc))
                    if len(heap) == k:
                        bound = heap[0][0] - _CUT_SLACK
                elif score > heap[0][0]:
                    heapq.heapreplace(heap, (score, pivot_doc))
                    bound = heap[0][0] - _CUT_SLACK
                # advance all pointers at pivot_doc
                for t in alive:
                    if t.cur == pivot_doc:
                        p = t.ptr + 1
                        t.ptr = p
                        if p < len(t.ids):
                            t.cur = int(t.ids[p])
            else:
                # skip whole blocks: jump past the smallest current block end
                target = min(min_block_end, pivot_doc) + 1
                for t in alive[: pivot_i + 1]:
                    if t.cur < target:
                        p = int(t.ids.searchsorted(target))
                        t.ptr = p
                        if p < len(t.ids):
                            t.cur = int(t.ids[p])
        else:
            # advance the leading lists to the pivot
            for t in alive[:pivot_i]:
                if t.cur < pivot_doc:
                    p = int(t.ids.searchsorted(pivot_doc))
                    t.ptr = p
                    if p < len(t.ids):
                        t.cur = int(t.ids[p])
        alive = [t for t in alive if t.ptr < len(t.ids)]
    docs = np.unique(np.asarray(evaluated, dtype=np.int64))
    return docs, _exact_scores(terms, docs, scorer, n_docs, avgdl)


def _part_cut(scores: np.ndarray, k: int) -> np.ndarray:
    """Indices of the part's docs that can still reach the global top-k:
    every doc whose RAW score is ≥ the part's k-th raw score − _CUT_SLACK
    (all of them when the part has ≤ k docs). The final HALF_UP round and
    (score, doc) order are the JVM's, so ties at the k-th place survive."""
    n = len(scores)
    if k <= 0:
        return np.empty(0, np.int64)
    if n <= k:
        return np.arange(n)
    kth = np.partition(scores, n - k)[n - k]
    return np.flatnonzero(scores >= kth - _CUT_SLACK)


def _score_part(terms, op, n_clauses, kernel, scorer, n_docs, avgdl, k):
    """One part's (doc_id, raw score) candidates from the chosen scorer."""
    if op == "and":
        return _kernel_and(terms, n_clauses, scorer, n_docs, avgdl)
    if kernel == "wand":
        return _kernel_wand(terms, scorer, n_docs, avgdl, k)
    if kernel == "taat" or scorer != "bm25":
        return _kernel_taat(terms, scorer, n_docs, avgdl)
    # auto: on this numpy substrate the dense-accumulator TAAT scan beats
    # the Python pivot loop (26× at 450k postings, narrowing to ~3× at 1.8M
    # after the r5 pivot micro-opts) until volume is enormous (measured,
    # BENCH/wand_profile_{1M,4M}.json: 1M docs / 450k postings → TAAT
    # 0.023 s vs WAND 0.61 s; 4M/1.8M → 0.77 s vs 2.1 s; identical top-k).
    # WAND's skipping only pays once a partition's decoded postings exceed
    # the cutoff — per-partition state stays O(capacity) either way.
    if sum(len(t.ids) for t in terms) <= _TAAT_CUTOFF:
        return _kernel_taat(terms, scorer, n_docs, avgdl)
    return _kernel_wand(terms, scorer, n_docs, avgdl, k)


def _keys_of(terms: list[_TermCtx], winners: np.ndarray) -> np.ndarray:
    """winner doc_id → doc_key by binary search over each term's (sorted)
    decoded list — O(terms · k · log P). Every winner came out of a kernel,
    so it appears in ≥1 query-term list, each posting carrying its key."""
    keys_out = np.zeros(len(winners), dtype=np.int64)
    found = np.zeros(len(winners), dtype=bool)
    for t in terms:
        if found.all():
            break
        pos_c = np.minimum(t.ids.searchsorted(winners), len(t.ids) - 1)
        hit = (~found) & (t.ids[pos_c] == winners)
        if hit.any():
            keys_out[hit] = t.keys[pos_c[hit]]
            found[hit] = True
    return keys_out


def _part_terms(rows, entries_by_term, neg_terms, stats, time_range):
    """Decode one part's packed rows into its (term, qtf, clause) contexts,
    sorted by (term, qtf, clause). Negated and removed doc ids and (under a
    timeRange) out-of-range keys leave every positive list BEFORE any
    scoring. Block metadata stays as packed — block maxima remain valid
    upper bounds for the surviving ids (pruning only gets less tight)."""
    drop = [np.array([r["removed_id"]], np.int64) for r in rows if r["removed_id"] is not None]
    drop += [codec.delta_unpack(r["ids"]) for r in rows if r["term"] in neg_terms]
    excluded = np.unique(np.concatenate(drop)) if drop else None
    out = []
    for r in rows:
        ents = entries_by_term.get(r["term"])
        if not ents:
            continue
        ids = codec.delta_unpack(r["ids"])
        tfs = codec.tf_unpack(r["tfs"])
        dls = codec.tf_unpack(r["dls"])
        keys = codec.delta_unpack(r["keys"])
        keep = None
        if time_range is not None:
            keep = (keys >= time_range[0]) & (keys <= time_range[1])
        if excluded is not None:
            ex = ~np.isin(ids, excluded)
            keep = ex if keep is None else keep & ex
        if keep is not None:
            ids, tfs, dls, keys = ids[keep], tfs[keep], dls[keep], keys[keep]
        if not len(ids):
            continue
        df, cum_tf = stats[r["term"]]
        block_last = np.asarray(r["block_last"], dtype=np.int64)
        block_max_tf = np.asarray(r["block_max_tf"], dtype=np.int64)
        out.extend(
            _TermCtx(r["term"], qtf, clause, df, cum_tf, ids, tfs, dls, keys,
                     block_last, block_max_tf)
            for qtf, clause in ents
        )
    out.sort(key=lambda t: (t.term, t.qtf, t.clause))
    return out


def _empty_result(index: IndexHandle) -> DataFrame:
    return local_frame(index.packed.sparkSession, [], "doc long, score double")


def packed_topk(index: IndexHandle, spec: QuerySpec, kernel: str = "auto") -> DataFrame:
    """(doc, score) top-k of a flat BM25 / tf-idf spec with no constraint or
    authz mask: term-pruned packed scan → one Arrow kernel per part (decode,
    mask, ordered fold, per-part cut) → JVM round + TakeOrdered. ``kernel``
    picks the per-part OR scorer (``auto``/``taat``/``wand``); AND queries
    always intersect."""
    if spec.scorer not in ("bm25", "miru_tfidf"):
        raise ValueError(f"unknown scorer {spec.scorer}")
    expanded = expand_clauses(index, spec)
    n_clauses = len(spec.positive)
    if spec.op == "and" and len({c for _, _, c in expanded}) < n_clauses:
        # a positive clause (e.g. a prefix matching no indexed term)
        # expanded to zero terms: the conjunction is unsatisfiable
        return _empty_result(index)
    neg_terms = expand_negatives(index, spec)
    stats = {
        t: (float(df), float(cum_tf))
        for t, (df, cum_tf) in term_stats(
            index, sorted({t for t, _, _ in expanded} | set(neg_terms))
        ).items()
    }
    # a term with packed rows but no stats row (version repair drops df==0
    # terms from stats while their tombstoned rows stay in postings/ until
    # the next merge) scores nothing, as at the DataFrame path's stats join
    entries_by_term: dict[str, list[tuple[int, int]]] = {}
    for t, qtf, clause in expanded:
        if t in stats:
            entries_by_term.setdefault(t, []).append((qtf, clause))
    pparts = parts_for_time_range(index, spec.time_range)
    if not entries_by_term or (pparts is not None and not pparts):
        return _empty_result(index)
    scan_terms = sorted(set(entries_by_term) | set(neg_terms))
    rel = index.packed.filter(F.col("term").isin(scan_terms)).select(
        "part", "term", "ids", "tfs", "dls", "keys", "block_last", "block_max_tf",
        F.lit(None).cast("int").alias("removed_id"),
    )
    if index.removed is not None:
        # removal-index marker rows ride the same scan into the kernel
        rel = rel.unionByName(
            index.removed.select("part", F.col("doc_id").alias("removed_id")),
            allowMissingColumns=True,
        )
    rel = _part_pruned(rel, pparts)
    # every row of a part must reach one task: a single task while Σdf fits
    # one task's decode budget (no exchange), else hash by part
    total = sum(stats[t][0] for t in scan_terms if t in stats)
    width = max(1, -(-int(total) // _DECODE_POSTINGS_PER_TASK))
    rel = rel.coalesce(1) if width == 1 else rel.repartition(width, "part")

    op, sc, kk, time_range = spec.op, spec.scorer, spec.k, spec.time_range
    n_docs, avgdl = index.corpus.n_docs, index.corpus.avgdl
    negs = frozenset(neg_terms)

    def score_parts(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        by_part: dict[int, list[dict]] = {}
        for batch in batches:
            for r in batch.to_pylist():
                by_part.setdefault(r["part"], []).append(r)
        docs_out: list[np.ndarray] = []
        scores_out: list[np.ndarray] = []
        for rows in by_part.values():
            terms = _part_terms(rows, entries_by_term, negs, stats, time_range)
            if not terms:
                continue
            docs, scores = _score_part(terms, op, n_clauses, kernel, sc, n_docs, avgdl, kk)
            keep = _part_cut(scores, kk)
            if len(keep):
                docs_out.append(_keys_of(terms, docs[keep]))
                scores_out.append(scores[keep])
        if docs_out:
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(docs_out)), pa.array(np.concatenate(scores_out))],
                names=["doc", "score"],
            )

    return (
        rel.mapInArrow(score_parts, "doc long, score double")
        .withColumn("score", F.round("score", 6))
        .orderBy(F.desc("score"), F.desc("doc"))
        .limit(kk)
    )


def wand_topk(index: IndexHandle, query: str | QuerySpec, k: int = 100,
              scorer: str = "bm25", kernel: str = "auto") -> DataFrame:
    """Top-k via the per-partition packed-postings kernel + global ordered
    LIMIT (``packed_topk``). Result is rank- and score-identical to
    fulltext.top_k."""
    spec = (
        query
        if isinstance(query, QuerySpec)
        else parse_query(
            query, k=k, scorer=scorer, stopwords=index.stopwords,
            stemmer=index.stemmer,
        )
    )
    if (
        spec.scorer == "time"
        or spec.tree is not None
        or spec.constraints
        or spec.authz is not None
    ):
        # TIME is an ordered LIMIT, not a scored kernel; nested trees,
        # constraint masks, and the authz mask need the relational
        # set-algebra path (the reference ANDs constraint + authz bitmaps
        # before scoring — doing it after the heap would readmit pruned
        # docs, and skipping authz here would be an authorization bypass:
        # only fulltext._apply_masks applies spec.authz). Delegate; results
        # are identical by construction.
        from miru_spark.operators import fulltext as _ft

        return _ft.top_k(index, spec)
    return packed_topk(index, spec, kernel)
