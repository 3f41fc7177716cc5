"""The packed top-k kernel (AND intersection, OR dense accumulator) must be
rank- AND score-identical to the DataFrame query path (itself
oracle-verified)."""

from __future__ import annotations

import pytest

from miru_spark.filters import parse_query
from miru_spark.operators import fulltext, wand

# (query, scorer, index fixture); explicit ids keep the names earlier
# results recorded. The -wand ids run the packed kernel on the persisted and
# loaded copy of the corpus, the others on the in-memory build.
CASES = [
    pytest.param("spark", "bm25", "doc_index", id="spark-bm25-auto"),
    pytest.param("dup", "bm25", "doc_index", id="dup-bm25-auto"),
    pytest.param("spark AND join", "bm25", "doc_index", id="spark AND join-bm25-auto"),
    pytest.param("spark join merge", "bm25", "doc_index", id="spark join merge-bm25-auto"),
    pytest.param("spark OR vector OR dup", "bm25", "loaded_index",
                 id="spark OR vector OR dup-bm25-wand"),
    pytest.param("spark OR vector OR dup", "bm25", "doc_index",
                 id="spark OR vector OR dup-bm25-taat"),
    pytest.param("merge NOT window", "bm25", "doc_index", id="merge NOT window-bm25-auto"),
    pytest.param("s*", "bm25", "loaded_index", id="s*-bm25-wand"),
    pytest.param("s*", "bm25", "doc_index", id="s*-bm25-taat"),
    pytest.param("dup AND s*", "bm25", "doc_index", id="dup AND s*-bm25-auto"),
    pytest.param("spark OR join", "miru_tfidf", "doc_index", id="spark OR join-miru_tfidf-auto"),
]


@pytest.mark.parametrize("q,scorer,index_fixture", CASES)
def test_wand_matches_dataframe_path(request, doc_index, q, scorer, index_fixture):
    spec = parse_query(q, k=50, scorer=scorer)
    want = fulltext.top_k(doc_index, spec).toPandas()
    index = request.getfixturevalue(index_fixture)
    got = wand.wand_topk(index, spec).toPandas()
    assert list(got["doc"]) == list(want["doc"]), f"{q} ({index_fixture}) ids diverge"
    assert list(got["score"]) == list(want["score"]), f"{q} ({index_fixture}) scores diverge"


def test_wand_unknown_term_empty(doc_index):
    assert wand.wand_topk(doc_index, "zzzznotaterm", k=10).count() == 0


def test_wand_prunes(doc_index):
    # sanity: the packed kernel returns exactly k when more docs match
    spec = parse_query("spark OR merge", k=7)
    got = wand.wand_topk(doc_index, spec).toPandas()
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
        for got in (fulltext.top_k(index, spec), wand.wand_topk(index, spec)):
            assert [(int(r["doc"]), r["score"]) for r in got.collect()] == want, q


def test_part_cut_keeps_both_sides_of_a_rounding_tie(spark):
    """0.6015625 (= 77/128) is a 7th-decimal tie: HALF_UP — F.round, the
    oracle and the kernel's _round6 — gives 0.601563, numpy's half-even
    np.round gives 0.601562, the value 0.6015624 rounds to as well. At k=1
    the two rounding modes pick different winners, so the per-part cut
    must keep both, and both hosts' finishes — the driver's ordering and the
    JVM's TakeOrdered over the kernel's output — pick the HALF_UP winner."""
    import numpy as np
    from pyspark.sql import functions as F

    scores = np.array([0.6015624, 0.5, 0.6015625])
    docs = np.array([2, 7, 1])
    assert np.round(0.6015625, 6) == np.round(0.6015624, 6) == 0.601562
    keep = wand._part_cut(scores, 1)
    assert sorted(keep.tolist()) == [0, 2]
    rounded = wand._round6(scores[keep])
    assert sorted(rounded.tolist()) == [0.601562, 0.601563]
    assert wand._ordered(docs[keep], rounded, 1) == [(1, 0.601563)]
    survivors = spark.createDataFrame(
        [(int(d), float(s)) for d, s in zip(docs[keep], rounded)],
        "doc long, score double",
    )
    top = survivors.orderBy(F.desc("score"), F.desc("doc")).limit(1).collect()
    assert [(r["doc"], r["score"]) for r in top] == [(1, 0.601563)]
    # the JVM's own round agrees
    jvm = spark.createDataFrame([(0.6015625,)], "x double").select(F.round("x", 6)).first()[0]
    assert jvm == 0.601563
    # fewer docs than k: all survive; k=0: none
    assert wand._part_cut(scores, 5).tolist() == [0, 1, 2]
    assert wand._part_cut(scores, 0).tolist() == []


def test_half_up_tie_on_both_hosts(spark, tmp_path, monkeypatch):
    """A tf-idf score of exactly 77/128 = 0.6015625 comes out HALF_UP as
    0.601563 from a loaded handle on the driver host and on the Spark host,
    as from the in-memory fold (F.round) and the oracle."""
    import duckdb
    import pandas as pd

    from miru_spark.index_store import build_persistent, load_index
    from miru_spark.operators.build import build_index
    from miru_spark.oracles import fulltext_topk_sql

    pdf = pd.DataFrame({"doc_id": [0, 1, 2], "text": ["x " * 77, "x " * 51, "y"]})
    docs = spark.createDataFrame(pdf)
    kw = dict(text_col="text", dense_id_col="doc_id", capacity=128)
    build_persistent(docs, str(tmp_path / "idx"), **kw)
    loaded = load_index(spark, str(tmp_path / "idx"))
    memory = build_index(docs, **kw)
    spec = parse_query("x", k=10, scorer="miru_tfidf")
    want = [(0, 0.601563), (1, 0.398438)]
    duck = duckdb.connect()
    try:
        duck.register("documents", pdf)
        assert [(int(d), s) for d, s in duck.execute(fulltext_topk_sql(spec)).fetchall()] == want
        assert [tuple(r) for r in fulltext.top_k(memory, spec).collect()] == want
        assert [tuple(r) for r in fulltext.top_k(loaded, spec).collect()] == want
        monkeypatch.setattr(wand, "_DECODE_POSTINGS_PER_TASK", -1)
        df = fulltext.top_k(loaded, spec)
        assert [tuple(r) for r in df.collect()] == want
        assert "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()
    finally:
        memory.unpersist()
        duck.close()


def test_round6_agrees_with_spark_round(spark):
    """The kernel's rounding equals Spark's F.round(x, 6) on 120k seeded
    doubles: 7th-decimal ties across the score range, their nextafter
    neighbours on both sides, and random scores."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import functions as F

    rng = np.random.default_rng(20261020)
    ties = (rng.integers(0, 40_000_000, 30_000) + 0.5) / 1e6
    xs = np.concatenate([
        ties, np.nextafter(ties, np.inf), np.nextafter(ties, -np.inf),
        rng.random(30_000) * 40.0,
    ])
    src = spark.createDataFrame(pa.table({"i": np.arange(len(xs)), "x": xs}))
    got = (
        src.repartition(4).select("i", F.round("x", 6).alias("r")).orderBy("i").toPandas()
    )
    mine = wand._round6(xs)
    bad = np.flatnonzero(got["r"].to_numpy() != mine)
    assert len(xs) == 120_000 and not len(bad), [(xs[i], got["r"][i], mine[i]) for i in bad[:5]]


def test_part_scorers_match_plain_sum_on_skewed_parts():
    """_part_cut(_score_part(...)) for both ops and both scorers against a
    plain-Python per-doc sum in (term, qtf, clause) order, bit for bit, on
    seeded random parts: tf mostly 1 with rare spikes, and some terms serve
    two clauses (scored once per clause; an AND counts them for both)."""
    import numpy as np

    from miru_spark.operators.fulltext import K1, B

    rng = np.random.default_rng(0)
    parts = []
    for _ in range(60):
        n = int(rng.integers(50, 1500))
        terms = []
        for i in range(int(rng.integers(2, 6))):
            df = int(rng.integers(1, n))
            ids = np.sort(rng.choice(n, df, replace=False)).astype(np.int64)
            tfs = (1 + (rng.random(df) < 0.03) * rng.integers(1, 20, df)).astype(np.int64)
            dls = rng.integers(1, 50, df).astype(np.int64)
            entries = [(1, i)] + ([(2, i + 10)] if rng.random() < 0.3 else [])
            terms.extend(
                wand._TermCtx(f"t{i}", qtf, clause, float(3 * df), float(tfs.sum()),
                              ids, tfs, dls, ids)
                for qtf, clause in entries
            )
        parts.append((n, terms, int(rng.integers(1, 50))))

    def contrib(t, j, scorer, n_docs, avgdl):
        tf = float(t.tfs[j])
        if scorer == "miru_tfidf":
            return (t.qtf * tf) / t.cum_tf
        # idf is np.log of a scalar, as in _bm25_contrib
        idf = float(np.log(1.0 + (n_docs - t.df + 0.5) / (t.df + 0.5)))
        dl = float(t.dls[j])
        return t.qtf * idf * (tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / 20.0)))

    def plain(terms, op, scorer, n_docs, k):
        sums: dict[int, float] = {}
        clauses: dict[int, set] = {}
        for t in terms:  # (term, qtf, clause) order, as _part_terms sorts
            for j, d in enumerate(t.ids.tolist()):
                sums[d] = sums.get(d, 0.0) + contrib(t, j, scorer, n_docs, 20.0)
                clauses.setdefault(d, set()).add(t.clause)
        if op == "and":
            n_clauses = len({t.clause for t in terms})
            sums = {d: s for d, s in sums.items() if len(clauses[d]) == n_clauses}
        if len(sums) <= k:
            return sorted(sums.items())
        kth = sorted(sums.values(), reverse=True)[k - 1]
        return sorted((d, s) for d, s in sums.items() if s >= kth - wand._CUT_SLACK)

    for op in ("or", "and"):
        for scorer in ("bm25", "miru_tfidf"):
            for n, terms, k in parts:
                n_clauses = len({t.clause for t in terms})
                docs, scores = wand._score_part(terms, op, n_clauses, scorer, 3 * n, 20.0)
                keep = wand._part_cut(scores, k)
                got = sorted(zip(docs[keep].tolist(), scores[keep].tolist()))
                assert got == plain(terms, op, scorer, 3 * n, k), (op, scorer, n, k)
