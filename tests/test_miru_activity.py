"""Miru-shaped activity fixture (FIXTURES.md §3): mirrors the reference's
canonical e2e test corpus (MiruFullTextNGTest.contentActivity:191-213 — 10
hex words, 100 tokens/doc, 20 docs across 10 users) and replicates its
invariants (:176-183): TF_IDF strategy scores ∈ (0, 1); TIME scores all 0.
"""

from __future__ import annotations

import numpy as np
import pytest

from miru_spark.filters import parse_query
from miru_spark.operators import fulltext
from miru_spark.operators.build import build_index

HEX_WORDS = [f"{i:x}{i:x}{i:x}" for i in range(10)]  # 000,111,...999 hex-ish


@pytest.fixture(scope="module")
def activity_index(spark):
    rng = np.random.Generator(np.random.PCG64(7))
    rows = []
    for i in range(20):
        toks = [HEX_WORDS[int(x)] for x in rng.integers(0, 10, size=100)]
        rows.append(
            (i, f"user{i % 10}", f"doc{i}", " ".join(toks), 1000 + i)
        )
    df = spark.createDataFrame(rows, "row_id long, user string, doc string, text string, ts long")
    return build_index(df, text_col="text", dense_id_col="row_id", capacity=8), df


def test_tfidf_scores_in_unit_interval(activity_index):
    idx, _ = activity_index
    for term in HEX_WORDS[:4]:
        res = fulltext.top_k(idx, parse_query(term, k=20, scorer="miru_tfidf")).toPandas()
        if len(res) == 0:
            continue
        assert ((res["score"] > 0) & (res["score"] < 1)).all(), term


def test_tfidf_scores_sum_to_one_per_term(activity_index):
    # Miru's multiplier is qtf/Σtf, so Σ_d score_d == qtf — exact bookkeeping
    idx, _ = activity_index
    res = fulltext.top_k(idx, parse_query(HEX_WORDS[0], k=100, scorer="miru_tfidf")).toPandas()
    assert abs(res["score"].sum() - 1.0) < 1e-4


def test_time_strategy_all_zero_newest_first(activity_index):
    # TIME iterates the ANSWER set newest-first (FullText.collectTime,
    # FullText.java:222-251) — with 100 tokens over a 10-word alphabet every
    # doc matches HEX_WORDS[0] (miss prob 0.9^100), so newest-5 = 19..15
    idx, df = activity_index
    res = fulltext.top_k(idx, HEX_WORDS[0], k=5, scorer="time").toPandas()
    assert (res["score"] == 0.0).all()
    assert list(res["doc"]) == [19, 18, 17, 16, 15]
    # a term absent from the corpus matches nothing
    assert fulltext.top_k(idx, "zzzqqq", k=5, scorer="time").count() == 0


def test_and_semantics_match_bruteforce(activity_index):
    idx, df = activity_index
    pdf = df.toPandas()
    q = f"{HEX_WORDS[1]} AND {HEX_WORDS[2]}"
    res = fulltext.top_k(idx, parse_query(q, k=100)).toPandas()
    expected = {
        int(r.row_id)
        for r in pdf.itertuples()
        if HEX_WORDS[1] in r.text.split() and HEX_WORDS[2] in r.text.split()
    }
    assert set(res["doc"]) == expected
