"""Per-partition top-k kernels over packed postings (SURVEY.md §2.4, §3.2).

This is the physical query path the north_rule names: block-max WAND over the
delta+varint posting blocks, executed per doc-partition inside a cogrouped
``applyInPandas`` (postings for the query terms ⨝ that partition's doc-length
array), then a global ordered LIMIT — exactly the reference's per-partition
``FullTextCustomQuestion.askLocal`` + ``FullTextAnswerMerger`` shape
(miru-stream-plugins/.../fulltext/FullTextCustomQuestion.java:53-118,
FullTextAnswerMerger.java:31-68). The WAND threshold θ plays the role of the
cross-partition report's ``lowestScore`` admission bound (FullText.java:129-158),
maintained per partition here because Spark partitions execute concurrently.

Three kernels, all returning EXACTLY the same (doc, score) set:
  * ``and``  — rarest-first sorted-array intersection, then vectorized BM25
               over survivors only (the bitmap-AND fast path).
  * ``taat`` — dense-accumulator term-at-a-time: acc[ids] += contrib, fully
               vectorized; exact, no pruning. The robust fallback.
  * ``wand`` — document-at-a-time block-max WAND: pivot selection on term
               upper bounds, block skipping via searchsorted over block_last /
               block_max_tf. Python pivot loop + numpy block decode; heap
               survivors are rescored with the ascending-term-order float sum
               so scores are bit-identical to the DataFrame path.

Scale note: per-partition state is O(capacity) (the dense dl/accumulator
arrays) — bounded by the partition rollover capacity exactly like the
reference's per-partition bitmaps, independent of corpus size.
"""

from __future__ import annotations

import heapq
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miru_spark import codec
from miru_spark.filters import QuerySpec, parse_query
from miru_spark.operators.build import IndexHandle
from miru_spark.operators.fulltext import (
    K1,
    B,
    expand_clauses,
    expand_negatives,
    parts_for_time_range,
    term_stats as _ft_stats,
)
from miru_spark.session import local_frame

# kernel='auto' switches TAAT → WAND above this many decoded postings per
# partition (see the measured rationale at the auto branch in wand_topk)
_TAAT_CUTOFF = int(os.environ.get("SPARK_GRAFT_TAAT_CUTOFF", "8000000"))
# the cross-partition θ-seed pre-pass (an extra small job) only pays once a
# query's total posting volume is large — below this it's pure overhead.
# Measured (BENCH/theta_seed_sf1.0.json, interleaved A/B, identity-checked):
# at 50k-doc volumes the pre-pass job costs ~0.5 s for zero pruning; at
# 1.5M postings it is still neutral (0.94× best-of — the kth score of a
# hot-term OR is too low to prune blocks, and concurrently-running
# partitions self-warm their heap within ~k docs anyway, unlike the
# reference's SEQUENTIAL partition walk where the carry is free). Default
# therefore aligns with the TAAT→WAND switch: only queries big enough to
# run the python block-max kernel may pay the seed job.
_SEED_MIN_POSTINGS = int(
    os.environ.get("SPARK_GRAFT_WAND_SEED_MIN", str(8_000_000))
)
# θ₀ the last wand_topk call seeded with (−inf = pre-pass skipped);
# driver-side, for tests and the BENCH profiling script only
_LAST_THETA0 = -np.inf


def _bm25_contrib(tf: np.ndarray, dl: np.ndarray, df: float, n_docs: int, avgdl: float,
                  qtf: float) -> np.ndarray:
    idf = np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    tfn = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
    return qtf * idf * tfn


def _tfidf_contrib(tf: np.ndarray, cum_tf: float, qtf: float) -> np.ndarray:
    return (qtf * tf) / cum_tf


class _TermCtx:
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


def _decode_terms(
    pdf: pd.DataFrame,
    qinfo: dict,
    stats: dict,
    neg_ids: np.ndarray | None = None,
    time_range: tuple[int, int] | None = None,
) -> list[_TermCtx]:
    """Decode the query terms' postings (ids, tfs + the per-posting dl/key
    attributes — the postings are self-contained, no doclens lookup); docs in
    ``neg_ids`` are removed from every positive list BEFORE any kernel runs
    (pButNotQ), and ``time_range`` masks by the decoded doc_key the same way
    (time IS insertion order — Miru's timeRange). This is the only correct
    place for either mask with a top-k heap: filtering after truncation lets
    masked docs fill the heap and raise θ, pruning legitimate docs. Block
    metadata stays as packed — block_max bounds remain valid upper bounds for
    the surviving ids (pruning only gets less tight)."""
    out = []
    for row in pdf.itertuples(index=False):
        if row.term not in qinfo:
            continue
        qtf, clause = qinfo[row.term]
        st = stats.get(row.term)
        if st is None:
            # a term can have packed rows but no stats row — version repair's
            # stats correction keeps df>0 terms only, while its tombstoned
            # posting rows survive in postings/ until the next merge. The
            # DataFrame path drops such terms at the stats join; do the same
            # here instead of KeyError-ing the whole query. (AND semantics
            # stay correct: the term's clause goes missing and _kernel_and
            # returns empty, matching matched==len(positive).)
            continue
        df_g, cum_g = st
        ids = codec.delta_unpack(bytes(row.ids))
        tfs = codec.tf_unpack(bytes(row.tfs))
        dls = codec.tf_unpack(bytes(row.dls))
        keys = codec.delta_unpack(bytes(row.keys))
        if time_range is not None:
            lo, hi = time_range
            keep = (keys >= lo) & (keys <= hi)
            ids, tfs, dls, keys = ids[keep], tfs[keep], dls[keep], keys[keep]
        if neg_ids is not None and len(neg_ids):
            keep = ~np.isin(ids, neg_ids, assume_unique=True)
            ids, tfs, dls, keys = ids[keep], tfs[keep], dls[keep], keys[keep]
        if not len(ids):
            continue
        out.append(
            _TermCtx(row.term, qtf, clause, df_g, cum_g, ids, tfs, dls, keys,
                     np.asarray(row.block_last, dtype=np.int64),
                     np.asarray(row.block_max_tf, dtype=np.int64))
        )
    out.sort(key=lambda t: t.term)  # ascending-term order = deterministic sums
    return out


def _exact_scores(terms: list[_TermCtx], doc_ids: np.ndarray,
                  scorer: str, n_docs: int, avgdl: float) -> np.ndarray:
    """Ascending-term-order exact rescore of a candidate id set — float ops
    identical to the DataFrame path's ordered fold. dl comes from the hit
    term's own posting row (the same doc carries the same dl in every list)."""
    scores = np.zeros(len(doc_ids), dtype=np.float64)
    for t in terms:  # already term-ascending
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


def _kernel_and(terms, required_clauses, scorer, n_docs, avgdl, k):
    """Intersect clause id-sets (rarest first), vectorized rescore."""
    by_clause: dict[int, np.ndarray] = {}
    for t in terms:
        cur = by_clause.get(t.clause)
        by_clause[t.clause] = t.ids if cur is None else np.union1d(cur, t.ids)
    if set(by_clause) != set(required_clauses):
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


def _kernel_wand(terms, scorer, n_docs, avgdl, k, theta0=-np.inf):
    """Document-at-a-time block-max WAND (Broder et al. 2003; Ding & Suel
    2011 block-max variant). Exact top-k for OR semantics.

    Pointers advance by binary search; a pivot is only evaluated when the sum
    of term upper bounds reaches θ AND the sum of the current *block* maxima
    does too (the block-max check) — otherwise we jump past the smallest
    block boundary. Survivor docs are rescored in ascending-term order for
    bit-stable floats.

    ``theta0`` is the cross-partition admission seed — the reference's
    ``FullTextReport.lowestScore`` carried between sequentially-solved
    partitions (FullTextCustomQuestion.createReport:128-144,
    FullText.java:129-158). Spark partitions run concurrently, so the
    caller derives θ₀ from ONE partition's top-k in a cheap pre-pass and
    every other partition starts with a live threshold instead of −∞
    (pruning during heap fill, the phase block-max WAND can't prune at
    all otherwise). Exactness: θ₀ must be a strict lower bound on the
    global kth-best score — every doc pruned by UB < θ₀ then scores
    strictly below k other docs and can't appear in the global top-k.

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
    # θ = θ₀ until the heap fills, then max(θ₀, heap kth): the seed floor
    # never relaxes. With θ₀ = −∞ this degenerates to the unseeded kernel
    # exactly (acc_ub ≥ −∞ is always true while the heap is open).
    theta = theta0
    alive = [t for t in terms if len(t.ids)]
    evaluated: list[int] = []
    k1p1 = K1 + 1.0
    one_minus_b = 1.0 - B
    while alive:
        alive.sort(key=_cur_doc)
        # find pivot: smallest doc where cumulative UB ≥ θ
        acc_ub = 0.0
        pivot_i = -1
        heap_open = len(heap) < k
        for i, t in enumerate(alive):
            acc_ub += t.ub
            if acc_ub >= theta:
                pivot_i = i
                break
        if pivot_i < 0:
            break
        pivot_doc = alive[pivot_i].cur
        if alive[0].cur == pivot_doc:
            # block-max check: tighter bound from the current blocks
            blk_ub = 0.0
            min_block_end = _I64_MAX
            for t in alive[: pivot_i + 1]:
                if t.cur > pivot_doc:
                    continue
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
            if blk_ub >= theta:
                evaluated.append(pivot_doc)
                score = 0.0
                for t in terms:  # ascending term order — deterministic sum
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
                if heap_open:
                    heapq.heappush(heap, (score, pivot_doc))
                    if len(heap) == k:
                        theta = max(theta0, heap[0][0])
                else:
                    if score > heap[0][0]:
                        heapq.heapreplace(heap, (score, pivot_doc))
                        theta = max(theta0, heap[0][0])
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
    if not evaluated:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    docs = np.array(sorted({d for _, d in heap}), dtype=np.int64)
    scores = _exact_scores(terms, docs, scorer, n_docs, avgdl)
    return docs, scores


def wand_topk(index: IndexHandle, query: str | QuerySpec, k: int = 100,
              scorer: str = "bm25", kernel: str = "auto") -> DataFrame:
    """Top-k via the per-partition packed-postings kernel + global ordered
    LIMIT. Result is rank- and score-identical to fulltext.top_k."""
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
    spark = index.packed.sparkSession
    expanded = expand_clauses(index, spec)
    if not expanded:
        return local_frame(spark, [], "doc long, score double")
    qinfo = {t: (q, c) for t, q, c in expanded}
    terms = sorted(qinfo)
    neg_terms = expand_negatives(index, spec)
    stats = {
        t: (float(df), float(cum_tf))
        for t, (df, cum_tf) in _ft_stats(index, terms + neg_terms).items()
    }
    n_docs, avgdl = index.corpus.n_docs, index.corpus.avgdl
    required = sorted({c for _, _, c in expanded})
    if spec.op == "and" and len(required) < len(spec.positive):
        # a positive clause (e.g. a prefix matching no indexed term) expanded
        # to zero terms: the conjunction is unsatisfiable. score_candidates
        # gets this via its matched == len(positive) filter; return the same
        # empty result instead of silently dropping the clause from
        # `required` and scoring the remaining terms.
        return local_frame(spark, [], "doc long, score double")
    op, sc = spec.op, spec.scorer
    kern = kernel
    kk = spec.k
    time_range = spec.time_range
    # timeRange partition pruning (loaded indexes): skip whole parts whose
    # doc_key range can't intersect — they are neither scanned nor decoded
    pparts = parts_for_time_range(index, time_range)
    if pparts is not None and not pparts:
        return local_frame(spark, [], "doc long, score double")

    def run_part(
        post_pdf: pd.DataFrame, removed_pdf: pd.DataFrame, theta0: float = -np.inf
    ) -> pd.DataFrame:
        if post_pdf.empty:
            return pd.DataFrame({"doc": pd.Series([], dtype="int64"),
                                 "score": pd.Series([], dtype="float64")})
        # decode negated docs FIRST so they never enter any kernel's heap
        neg_ids = None
        if neg_terms:
            neg_rows = post_pdf[post_pdf["term"].isin(neg_terms)]
            if not neg_rows.empty:
                neg_ids = np.unique(
                    np.concatenate([codec.delta_unpack(bytes(b)) for b in neg_rows["ids"]])
                )
        if not removed_pdf.empty:
            # removal index → pre-admission mask (the reference ANDs the
            # complement before any scoring, MiruBitmaps.buildIndexMask) —
            # filtering after the heap would let tombstoned docs raise θ
            rm = removed_pdf["doc_id"].to_numpy()
            neg_ids = np.unique(rm) if neg_ids is None else np.union1d(neg_ids, rm)
        # the timeRange doc_key mask applies inside _decode_terms (the
        # postings carry their own keys) — same pre-admission semantics
        pos_terms = _decode_terms(
            post_pdf[~post_pdf["term"].isin(neg_terms)], qinfo, stats, neg_ids,
            time_range,
        )
        if not pos_terms:
            return pd.DataFrame({"doc": pd.Series([], dtype="int64"),
                                 "score": pd.Series([], dtype="float64")})
        if op == "and":
            docs, scores = _kernel_and(pos_terms, required, sc, n_docs, avgdl, kk)
        elif kern == "wand":
            docs, scores = _kernel_wand(pos_terms, sc, n_docs, avgdl, kk, theta0)
        elif kern == "taat" or sc != "bm25":
            docs, scores = _kernel_taat(pos_terms, sc, n_docs, avgdl)
        else:
            # auto: on this numpy substrate the dense-accumulator TAAT scan
            # beats the Python pivot loop (26× at 450k postings, narrowing
            # to ~3× at 1.8M after the r5 pivot micro-opts) until volume is
            # enormous (measured, BENCH/wand_profile_{1M,4M}.json: 1M docs /
            # 450k postings → TAAT 0.023 s vs WAND 0.61 s; 4M/1.8M → 0.77 s
            # vs 2.1 s; identical top-k). WAND's skipping only pays once a
            # partition's decoded postings exceed the cutoff — per-partition
            # state stays O(capacity) either way.
            total_postings = sum(len(t.ids) for t in pos_terms)
            if total_postings <= _TAAT_CUTOFF:
                docs, scores = _kernel_taat(pos_terms, sc, n_docs, avgdl)
            else:
                docs, scores = _kernel_wand(pos_terms, sc, n_docs, avgdl, kk, theta0)
        if not len(docs):
            return pd.DataFrame({"doc": pd.Series([], dtype="int64"),
                                 "score": pd.Series([], dtype="float64")})
        # per-partition partial top-k (the reference's per-partition heap)
        order = np.lexsort((-docs, -np.round(scores, 6)))[:kk]
        winners = docs[order]
        # winner doc_id → doc_key by binary search over each term's (already
        # sorted) decoded list — O(terms · k · log P). Every winner came out
        # of a kernel, so it appears in ≥1 query-term list, each posting row
        # carrying its key. (A concat+unique of ALL partition postings here
        # cost O(P log P) and a 2× copy of the decoded lists per query.)
        keys_out = np.zeros(len(winners), dtype=np.int64)
        found = np.zeros(len(winners), dtype=bool)
        for t in pos_terms:
            if found.all():
                break
            if not len(t.ids):
                continue
            pos = t.ids.searchsorted(winners)
            pos_c = np.minimum(pos, len(t.ids) - 1)
            hit = (~found) & (t.ids[pos_c] == winners)
            if hit.any():
                keys_out[hit] = t.keys[pos_c[hit]]
                found[hit] = True
        return pd.DataFrame({"doc": keys_out,
                             "score": np.round(scores[order], 6)})

    posts = index.packed.filter(F.col("term").isin(terms + neg_terms)).select(
        "part", "term", "df_part", "ids", "tfs", "dls", "keys",
        "block_last", "block_max_tf"
    )
    removed = None if index.removed is None else index.removed.select("part", "doc_id")
    if pparts is not None:
        posts = posts.filter(F.col("part").isin(pparts))
        if removed is not None:
            removed = removed.filter(F.col("part").isin(pparts))
    empty_removed = pd.DataFrame({"part": pd.Series([], dtype="int32"),
                                  "doc_id": pd.Series([], dtype="int32")})

    # single-task-sized queries (Σdf under one task's postings budget — the
    # same df-derived rule as fulltext.score_candidates) pre-partition BY
    # PART into one partition: the grouped map reuses that exchange, so the
    # kernel job is scan → ONE exchange → python kernel instead of a
    # session-width shuffle fanning ~50 part-groups over 32 reducers. Σdf
    # is a data property, so N- and 4N-core sessions plan identically.
    from miru_spark.operators.fulltext import _DECODE_POSTINGS_PER_TASK

    small_q = sum(df for df, _ in stats.values()) <= _DECODE_POSTINGS_PER_TASK

    def _job(rel, theta0: float) -> DataFrame:
        # the removal mask is the ONLY non-posting relation the kernel needs
        # (postings are self-contained: tf/dl/doc_key per row) — the old
        # full-doclens cogroup shuffled the whole corpus per query. With no
        # removal index at all, skip the cogroup machinery outright: one
        # grouped map over the term-pruned postings, nothing else in the plan.
        if removed is None:
            if small_q:
                rel = rel.repartition(1, "part")
            return rel.groupBy("part").applyInPandas(
                lambda pdf: run_part(pdf, empty_removed, theta0),
                "doc long, score double",
            )
        rem = removed
        if small_q:
            rel = rel.repartition(1, "part")
            rem = rem.repartition(1, "part")
        return (
            rel.groupBy("part")
            .cogroup(rem.groupBy("part"))
            .applyInPandas(
                lambda left, right: run_part(left, right, theta0),
                "doc long, score double",
            )
        )

    # cross-partition θ seed (FullTextReport.lowestScore carry): solve the
    # densest partition first, use its kth ROUNDED score − 1e-6 as every
    # other partition's admission floor. Exact: the seed partition holds k
    # docs whose rounded scores all exceed any doc pruned under the floor
    # (round moves a score by ≤ 5e-7), so pruned docs can't reach the
    # global top-k. Only worth the extra small job when the query's total
    # posting volume is large (the pre-pass is metadata-cheap: a sum over
    # the term-pruned df_part column picks the part, then one kernel run).
    theta0 = -np.inf
    total_df = sum(stats[t][0] for t in terms if t in stats)
    if kern in ("wand", "auto") and op == "or" and total_df >= _SEED_MIN_POSTINGS:
        best = (
            posts.groupBy("part")
            .agg(F.sum("df_part").alias("n"))
            .orderBy(F.desc("n"), F.asc("part"))
            .limit(1)
            .collect()
        )
        if best:
            seed_rows = (
                _job(posts.filter(F.col("part") == int(best[0]["part"])), -np.inf)
                .orderBy(F.desc("score"))
                .limit(kk)
                .collect()
            )
            if len(seed_rows) == kk:
                theta0 = float(seed_rows[-1]["score"]) - 1e-6
    global _LAST_THETA0  # driver-side introspection (tests + profiling only)
    _LAST_THETA0 = theta0

    result = _job(posts, theta0)
    return result.orderBy(F.desc("score"), F.desc("doc")).limit(spec.k)
