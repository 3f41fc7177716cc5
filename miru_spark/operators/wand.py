"""Per-partition top-k kernels over packed postings (SURVEY.md §2.4, §3.2).

This is the physical query path the north_rule names: the query terms'
delta+varint posting rows are read term-pruned (and part-pruned under a
timeRange), every part's rows meet in one kernel call, and ONE per-part
kernel (``_candidates``) decodes them, scores each part, keeps that part's
top-k and rounds the survivors; an ordered merge of the parts gives the
answer — the reference's per-partition ``FullTextCustomQuestion.askLocal``
+ ``FullTextAnswerMerger`` shape (miru-stream-plugins/.../fulltext/
FullTextCustomQuestion.java:53-118, FullTextAnswerMerger.java:31-68).
``packed_topk`` serves ``wand_topk`` and ``fulltext.top_k``'s flat queries
on a loaded index, so both answer through one scoring implementation.

Two hosts run the one kernel; the query's Σdf (positive and negative scan
terms, known from the term memo) picks between them:
  * the driver — a loaded handle whose Σdf fits
    ``_DECODE_POSTINGS_PER_TASK``: the handle's packed files and removal
    batches are read with pyarrow on the calling thread
    (``index_files.IndexFiles``, row groups pruned by their footer term
    ranges), the kernel runs, and the first k of its output by (score desc,
    doc desc) return as a local relation: no Spark job, as the reference
    answers from the partition's resident index in the serving process;
  * Spark — larger queries and in-memory handles: the packed scan
    (``term IN`` pushed to parquet) ∪ the removal index's (part, doc_id)
    marker rows → ``coalesce(1)`` while Σdf fits one task's decode budget,
    else ``repartition(width, "part")`` → ``mapInArrow`` (the kernel) →
    TakeOrdered(score desc, doc desc). No pandas, no join, no aggregate.

Per part the kernel drops negated, removed and out-of-range docs BEFORE any
scoring (filtering after a top-k cut would let masked docs take heap
slots), scores every (term, qtf, clause) entry of the expanded query — one
term can serve two clauses — and sums per doc in ascending (term, qtf)
order, the DataFrame fold's ``array_sort(struct(term, contrib))`` order
(a contribution is monotone in qtf), so scores are bit-identical to it.
Two per-part scorers, one per query op, both exact:
  * ``_kernel_and``  — rarest-first sorted-array intersection of the clause
                       id sets, then the ordered rescore.
  * ``_kernel_taat`` — dense-accumulator term-at-a-time, acc[ids] +=
                       contrib, fully vectorized: every OR query, bm25 and
                       tf-idf alike (the accumulate-then-cut top-k shape).
The part's cut keeps the RAW score of every doc ≥ its k-th raw score −
``_CUT_SLACK``, and the same cut runs once more across the kernel's parts.
Rounding happens once, on both hosts inside the kernel, on the survivors:
HALF_UP at 6 decimals of each double's shortest decimal form
(``_round6``), which is Spark's ``F.round`` and the oracle's round. The
final order is on the rounded scores; the Spark host's JVM only orders
and limits.

No block-max skipping: a packed row stores each term's whole per-part list
as ONE delta+varint stream (ids are prefix sums of the gaps, and no block's
byte offset is kept), so the kernel decodes every posting whatever it
skips. Skipping could then only save the scoring arithmetic, which numpy
does in bulk for less than a Python pivot loop spends per posting: a
document-at-a-time block-max WAND loop over these rows lost to the dense
accumulator at every measured size (BENCH/wand_profile_{1M,4M}.json).
A block-max scorer waits on postings that decode one block at a time.
The packed ``block_last`` / ``block_max_tf`` columns are still written
(``block_last`` serves ``fulltext.index_first_latest``); this scan does
not read them.

Scale note: per-partition state is O(capacity) (the dense accumulator) —
bounded by the partition rollover capacity exactly like the reference's
per-partition bitmaps, independent of corpus size. The driver host holds
one bounded query's rows, at most ``_DECODE_POSTINGS_PER_TASK`` postings.
"""

from __future__ import annotations

from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
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

# a part keeps every doc whose raw score is ≥ its k-th raw score − this.
# round(x, 6) moves a score by ≤ 5e-7, so a doc below the cut rounds
# strictly below k docs of its own part and cannot reach the global top-k,
# whatever the rounding mode; ties in the rounded score (ordered by doc)
# always survive to the final merge. The same holds for the cut across
# the parts of one kernel call.
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

    __slots__ = ("term", "qtf", "clause", "df", "cum_tf", "ids", "tfs", "dls", "keys")

    def __init__(self, term, qtf, clause, df, cum_tf, ids, tfs, dls, keys):
        self.term, self.qtf, self.clause = term, qtf, clause
        self.df, self.cum_tf = df, cum_tf
        self.ids, self.tfs = ids, tfs
        self.dls, self.keys = dls, keys


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


def _part_cut(scores: np.ndarray, k: int) -> np.ndarray:
    """Indices of the part's docs that can still reach the global top-k:
    every doc whose RAW score is ≥ the part's k-th raw score − _CUT_SLACK
    (all of them when the part has ≤ k docs). The HALF_UP round and the
    (score, doc) order come after, so ties at the k-th place survive."""
    n = len(scores)
    if k <= 0:
        return np.empty(0, np.int64)
    if n <= k:
        return np.arange(n)
    kth = np.partition(scores, n - k)[n - k]
    return np.flatnonzero(scores >= kth - _CUT_SLACK)


def _score_part(terms, op, n_clauses, scorer, n_docs, avgdl):
    """One part's (doc_id, raw score) candidates: intersect for AND, the
    dense accumulator for OR."""
    if op == "and":
        return _kernel_and(terms, n_clauses, scorer, n_docs, avgdl)
    return _kernel_taat(terms, scorer, n_docs, avgdl)


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
    scoring."""
    drop = [np.array([r["removed_id"]], np.int64) for r in rows if r.get("removed_id") is not None]
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
        out.extend(
            _TermCtx(r["term"], qtf, clause, df, cum_tf, ids, tfs, dls, keys)
            for qtf, clause in ents
        )
    out.sort(key=lambda t: (t.term, t.qtf, t.clause))
    return out


@dataclass(frozen=True)
class _Query:
    """What the per-part kernel needs of one expanded flat query."""

    entries_by_term: dict  # term -> [(qtf, clause)]
    neg_terms: frozenset
    stats: dict  # term -> (df, cum_tf)
    op: str
    n_clauses: int
    scorer: str
    k: int
    n_docs: int
    avgdl: float
    time_range: tuple | None


_MICRO = Decimal("0.000001")


def _round6(scores: np.ndarray) -> np.ndarray:
    """Each score rounded HALF_UP at 6 decimals from its shortest decimal
    form — what Spark's ``F.round`` computes
    (``BigDecimal.valueOf(d).setScale(6, HALF_UP)``) and the oracle's
    round(score, 6)."""
    return np.array(
        [float(Decimal(repr(s)).quantize(_MICRO, ROUND_HALF_UP)) for s in scores.tolist()],
        np.float64,
    )


def _candidates(tables, q: _Query) -> tuple[np.ndarray, np.ndarray]:
    """The per-part kernel both hosts run, over Arrow tables or batches of
    packed rows and removal markers: group the rows by part; per part
    ``_part_terms`` → ``_score_part`` → ``_part_cut`` → ``_keys_of``; the
    same cut once more across the parts; then round. Returns the
    (doc_key, rounded score) of every doc that can still reach the top-k,
    unordered."""
    by_part: dict[int, list[dict]] = {}
    for t in tables:
        for r in t.to_pylist():
            by_part.setdefault(r["part"], []).append(r)
    docs_out: list[np.ndarray] = []
    scores_out: list[np.ndarray] = []
    for rows in by_part.values():
        terms = _part_terms(rows, q.entries_by_term, q.neg_terms, q.stats, q.time_range)
        if not terms:
            continue
        docs, scores = _score_part(terms, q.op, q.n_clauses, q.scorer, q.n_docs, q.avgdl)
        keep = _part_cut(scores, q.k)
        if len(keep):
            docs_out.append(_keys_of(terms, docs[keep]))
            scores_out.append(scores[keep])
    if not docs_out:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    docs, scores = np.concatenate(docs_out), np.concatenate(scores_out)
    keep = _part_cut(scores, q.k)
    return docs[keep], _round6(scores[keep])


_SCAN_COLUMNS = ["part", "term", "ids", "tfs", "dls", "keys"]


def _driver_topk(index: IndexHandle, q: _Query, scan_terms: list[str],
                 pparts: list[int] | None) -> DataFrame:
    """The kernel on the calling thread, over the loaded handle's packed
    files (term-pruned) and removal batches; the top-k as a local relation,
    whose collect runs no Spark job."""
    tables = [index.packed_files.read(_SCAN_COLUMNS, terms=scan_terms)]
    if index.removed_files is not None:
        tables.append(
            index.removed_files.read(["part", "doc_id"]).rename_columns(["part", "removed_id"])
        )
    rows = pa.concat_tables(tables, promote_options="default")
    if pparts is not None:
        rows = rows.filter(pc.is_in(rows["part"], value_set=pa.array(pparts, pa.int32())))
    docs, scores = _candidates([rows], q)
    return local_frame(
        index.packed.sparkSession, _ordered(docs, scores, q.k), "doc long, score double"
    )


def _ordered(docs: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
    """The first k (doc, score) pairs by score desc, doc desc: the order of
    the Spark host's TakeOrdered."""
    top = sorted(zip(scores.tolist(), docs.tolist()), reverse=True)[:k]
    return [(d, s) for s, d in top]


def _empty_result(index: IndexHandle) -> DataFrame:
    return local_frame(index.packed.sparkSession, [], "doc long, score double")


def packed_topk(index: IndexHandle, spec: QuerySpec) -> DataFrame:
    """(doc, score) top-k of a flat BM25 / tf-idf spec with no constraint or
    authz mask, through the per-part kernel (decode, mask, ordered fold,
    per-part cut, round): on the calling thread for a loaded handle whose
    Σdf fits ``_DECODE_POSTINGS_PER_TASK``, else in one ``mapInArrow`` over
    the term-pruned packed scan, then a JVM TakeOrdered."""
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
    q = _Query(
        entries_by_term, frozenset(neg_terms), stats, spec.op, n_clauses, spec.scorer,
        spec.k, index.corpus.n_docs, index.corpus.avgdl, spec.time_range,
    )
    scan_terms = sorted(set(entries_by_term) | set(neg_terms))
    total = sum(stats[t][0] for t in scan_terms if t in stats)
    if index.packed_files is not None and total <= _DECODE_POSTINGS_PER_TASK:
        return _driver_topk(index, q, scan_terms, pparts)

    rel = index.packed.filter(F.col("term").isin(scan_terms)).select(
        *_SCAN_COLUMNS, F.lit(None).cast("int").alias("removed_id"),
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
    width = max(1, -(-int(total) // _DECODE_POSTINGS_PER_TASK))
    rel = rel.coalesce(1) if width == 1 else rel.repartition(width, "part")

    def score_parts(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        docs, scores = _candidates(batches, q)
        if len(docs):
            yield pa.RecordBatch.from_arrays(
                [pa.array(docs, pa.int64()), pa.array(scores, pa.float64())],
                names=["doc", "score"],
            )

    return (
        rel.mapInArrow(score_parts, "doc long, score double")
        .orderBy(F.desc("score"), F.desc("doc"))
        .limit(spec.k)
    )


def wand_topk(index: IndexHandle, query: str | QuerySpec, k: int = 100,
              scorer: str = "bm25") -> DataFrame:
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
    return packed_topk(index, spec)
