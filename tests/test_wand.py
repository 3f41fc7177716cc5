"""WAND / TAAT / AND kernels over packed postings must be rank- AND
score-identical to the DataFrame query path (itself oracle-verified)."""

from __future__ import annotations

import pytest

from miru_spark.filters import parse_query
from miru_spark.operators import fulltext, wand

CASES = [
    ("spark", "bm25", "auto"),
    ("dup", "bm25", "auto"),
    ("spark AND join", "bm25", "auto"),
    ("spark join merge", "bm25", "auto"),
    ("spark OR vector OR dup", "bm25", "wand"),
    ("spark OR vector OR dup", "bm25", "taat"),
    ("merge NOT window", "bm25", "auto"),
    ("s*", "bm25", "wand"),
    ("s*", "bm25", "taat"),
    ("dup AND s*", "bm25", "auto"),
    ("spark OR join", "miru_tfidf", "auto"),
]


@pytest.mark.parametrize("q,scorer,kernel", CASES)
def test_wand_matches_dataframe_path(doc_index, q, scorer, kernel):
    spec = parse_query(q, k=50, scorer=scorer)
    want = fulltext.top_k(doc_index, spec).toPandas()
    got = wand.wand_topk(doc_index, spec, kernel=kernel).toPandas()
    assert list(got["doc"]) == list(want["doc"]), f"{q} ({kernel}) ids diverge"
    assert list(got["score"]) == list(want["score"]), f"{q} ({kernel}) scores diverge"


def test_wand_unknown_term_empty(doc_index):
    assert wand.wand_topk(doc_index, "zzzznotaterm", k=10).count() == 0


def test_wand_prunes(doc_index):
    # sanity: the WAND kernel returns exactly k when more docs match
    spec = parse_query("spark OR merge", k=7)
    got = wand.wand_topk(doc_index, spec, kernel="wand").toPandas()
    assert len(got) == 7


def test_and_with_unmatchable_prefix_clause_is_empty(doc_index):
    # 'spark AND qqqzz*' where no term starts with qqqzz: the conjunction is
    # unsatisfiable. The kernel path must agree with score_candidates'
    # matched == len(positive) semantics instead of silently dropping the
    # empty clause and returning all 'spark' docs.
    from miru_spark.operators import fulltext as ft
    from miru_spark.operators import wand as wand_ops

    assert wand_ops.wand_topk(doc_index, "spark AND qqqzz*", k=10).count() == 0
    assert ft.top_k(doc_index, "spark AND qqqzz*", k=10).count() == 0


# one term reached by two positive clauses: 'spa*' expands to spark alone,
# 'th*' to the alone, 'sc*' to scan, which 's*' also reaches
SHARED_TERM_QUERIES = ["spark AND spa*", "the OR th*", "s* OR sc*"]


@pytest.mark.parametrize("q", SHARED_TERM_QUERIES)
def test_term_in_two_clauses_matches_oracle(doc_index, loaded_index, duck, q):
    """Each clause that reaches a term contributes that term's score once,
    and an AND counts the term for both clauses — on the DataFrame fold
    (in-memory top_k) and on the packed kernel (loaded top_k, wand_topk)."""
    from miru_spark.oracles import fulltext_topk_sql

    spec = parse_query(q, k=100)
    want = duck.execute(fulltext_topk_sql(spec)).df()
    want = list(zip(want["doc"].astype("int64").tolist(), want["score"].astype("float64").tolist()))
    assert len(want) == 100, q
    for index in (doc_index, loaded_index):
        for got in (
            fulltext.top_k(index, spec),
            wand.wand_topk(index, spec),
            wand.wand_topk(index, spec, kernel="wand"),
        ):
            assert [(int(r["doc"]), r["score"]) for r in got.collect()] == want, q


def test_part_cut_keeps_both_sides_of_a_rounding_tie(spark):
    """0.6015625 (= 77/128) is a 7th-decimal tie: HALF_UP — F.round and the
    oracle — gives 0.601563, numpy's half-even np.round gives 0.601562, the
    value 0.6015624 rounds to as well. At k=1 the two rounding modes pick
    different winners, so the per-part cut must keep both and leave the
    decision to the JVM round."""
    import numpy as np

    scores = np.array([0.6015624, 0.5, 0.6015625])
    docs = np.array([2, 7, 1])
    assert np.round(0.6015625, 6) == np.round(0.6015624, 6) == 0.601562
    keep = wand._part_cut(scores, 1)
    assert sorted(keep.tolist()) == [0, 2]
    survivors = spark.createDataFrame(
        [(int(d), float(s)) for d, s in zip(docs[keep], scores[keep])],
        "doc long, score double",
    )
    from pyspark.sql import functions as F

    top = (
        survivors.withColumn("score", F.round("score", 6))
        .orderBy(F.desc("score"), F.desc("doc"))
        .limit(1)
        .collect()
    )
    assert [(r["doc"], r["score"]) for r in top] == [(1, 0.601563)]
    # fewer docs than k: all survive; k=0: none
    assert wand._part_cut(scores, 5).tolist() == [0, 1, 2]
    assert wand._part_cut(scores, 0).tolist() == []


def test_wand_kernel_keeps_what_taat_keeps_on_skewed_blocks():
    """Block-max WAND against the exhaustive TAAT accumulator on seeded
    random parts whose tf is mostly 1 with rare spikes, so block maxima sit
    well below the list maxima and several lists often stand on the same
    pivot: the per-part cut of both kernels must keep the same (doc, score)
    set. The block-max check must bound a pivot with EVERY list positioned
    on it; summing only the lists up to the pivot index skipped docs here."""
    import numpy as np

    rng = np.random.default_rng(0)
    for _ in range(60):
        n = int(rng.integers(50, 1500))
        terms = []
        for i in range(int(rng.integers(2, 6))):
            df = int(rng.integers(1, n))
            ids = np.sort(rng.choice(n, df, replace=False)).astype(np.int64)
            tfs = (1 + (rng.random(df) < 0.03) * rng.integers(1, 20, df)).astype(np.int64)
            dls = rng.integers(1, 50, df).astype(np.int64)
            starts = np.arange(0, df, 16)
            block_last = ids[np.minimum(starts + 15, df - 1)]
            block_max = np.maximum.reduceat(tfs, starts)
            entries = [(1, i)] + ([(2, i + 10)] if rng.random() < 0.3 else [])
            terms.extend(
                wand._TermCtx(f"t{i}", qtf, clause, float(3 * df), float(tfs.sum()),
                              ids, tfs, dls, ids, block_last, block_max)
                for qtf, clause in entries
            )
        k = int(rng.integers(1, 50))

        def kept(docs, scores):
            keep = wand._part_cut(scores, k)
            return sorted(zip(docs[keep].tolist(), scores[keep].tolist()))

        assert kept(*wand._kernel_wand(terms, "bm25", 3 * n, 20.0, k)) == kept(
            *wand._kernel_taat(terms, "bm25", 3 * n, 20.0)
        )
