"""End-to-end full-text correctness: engine top-k (ids AND scores) must be
rank-identical to the brute-force DuckDB oracle on the same parquet, with the
reference tie-break (score desc, doc desc) — SURVEY.md §5."""

from __future__ import annotations

import pandas as pd
import pytest

from miru_spark.filters import parse_query
from miru_spark.operators import fulltext
from miru_spark.oracles import doc_stats_sql, fulltext_topk_sql, term_stats_sql

QUERIES = [
    ("spark", "and", "bm25"),
    ("vector", "and", "bm25"),
    ("spark AND join", "and", "bm25"),
    ("spark join merge", "and", "bm25"),  # default op AND
    ("spark OR vector", "or", "bm25"),
    ("spark NOT window", "and", "bm25"),
    ("merge -join", "and", "bm25"),
    ("cust*", "and", "bm25"),
    ("spark AND wind*", "and", "bm25"),
    ("spark", "and", "miru_tfidf"),
    ("spark OR join", "or", "miru_tfidf"),
]


def _run_engine(doc_index, q, scorer):
    spec = parse_query(q, k=50, scorer=scorer)
    return (
        fulltext.top_k(doc_index, spec)
        .toPandas()
        .sort_values(["score", "doc"], ascending=False)
        .reset_index(drop=True)
    )


def _run_oracle(duck, q, scorer):
    spec = parse_query(q, k=50, scorer=scorer)
    sql = fulltext_topk_sql(spec)
    return duck.execute(sql).df().sort_values(
        ["score", "doc"], ascending=False
    ).reset_index(drop=True)


@pytest.mark.parametrize("q,op,scorer", QUERIES)
def test_topk_rank_identical(doc_index, duck, q, op, scorer):
    spec = parse_query(q)
    assert spec.op == op
    got = _run_engine(doc_index, q, scorer)
    want = _run_oracle(duck, q, scorer)
    assert len(got) == len(want), f"row count {len(got)} vs {len(want)} for {q!r}"
    pd.testing.assert_series_equal(
        got["doc"].astype("int64"), want["doc"].astype("int64"), check_names=False
    )
    pd.testing.assert_series_equal(
        got["score"].astype("float64"), want["score"].astype("float64"),
        check_names=False, check_exact=True,
    )


def test_term_stats_match_oracle(doc_index, duck):
    got = (
        doc_index.stats.orderBy("term")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        duck.execute(term_stats_sql(limit=10**9)).df()
        .sort_values("term").reset_index(drop=True)
    )
    assert len(got) == len(want)
    merged = got.merge(want, on="term", suffixes=("_e", "_o"))
    assert (merged["df_e"] == merged["df_o"]).all()
    assert (merged["cum_tf_e"] == merged["cum_tf_o"]).all()


def test_corpus_stats_match_oracle(doc_index, duck):
    want = duck.execute(doc_stats_sql()).df().iloc[0]
    assert doc_index.corpus.n_docs == int(want["n_docs"])
    assert round(doc_index.corpus.avgdl, 6) == float(want["avgdl"])


def test_time_strategy_scores_zero(doc_index):
    # reference invariant: TIME strategy scores all 0.0, newest matching
    # first — iterates the ANSWER set (MiruFullTextNGTest.java:176-183;
    # FullText.collectTime over the filtered bitmap, FullText.java:222-251)
    res = fulltext.top_k(doc_index, "the", k=10, scorer="time").toPandas()
    assert len(res) == 10
    assert (res["score"] == 0.0).all()
    assert res["doc"].is_monotonic_decreasing
    # an absent term yields an empty answer, not newest-k of everything
    assert fulltext.top_k(doc_index, "zzzqqq", k=10, scorer="time").count() == 0


def test_bm25_scores_positive(doc_index):
    res = _run_engine(doc_index, "spark AND join", "bm25")
    assert (res["score"] > 0).all()


def test_content_sha_invariant(doc_index, duck):
    # per-row invariant: sha256(content) equality between index rows and source
    got = doc_index.docs.select("doc_key", "content_sha").toPandas().sort_values("doc_key")
    want = duck.execute(
        "SELECT doc_id, sha256(text) AS sha FROM documents ORDER BY doc_id"
    ).df()
    assert list(got["content_sha"]) == list(want["sha"])


def test_arrow_tokenizer_matches_catalyst(doc_index):
    # the Arrow flat-postings pass must equal split+explode+groupBy exactly
    from pyspark.sql import functions as F
    from miru_spark.tokenize import tokens_col

    catalyst = (
        doc_index.docs.select("part", "doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("part", "term", "doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )
    a = doc_index.flat.orderBy("part", "term", "doc_id").toPandas()
    b = catalyst.orderBy("part", "term", "doc_id").toPandas()
    assert a[["part", "term", "doc_id", "tf"]].equals(b)
    # the denormalized per-posting attributes must agree with the doc
    # relation on EVERY row (self-contained-postings invariant)
    docs = (
        doc_index.lens.select("part", "doc_id", "doc_key", "dl")
        .toPandas()
        .set_index(["part", "doc_id"])
    )
    looked = docs.loc[list(zip(a["part"], a["doc_id"]))]
    assert (a["doc_key"].to_numpy() == looked["doc_key"].to_numpy()).all()
    assert (a["dl"].to_numpy() == looked["dl"].to_numpy()).all()


def test_tree_combination_paranoia_sweep(doc_index, documents):
    # interactions the single-scan tree evaluator must get right: field
    # masks inside nesting, negated groups, numeric ranges, OR-of-masks,
    # plus timeRange/constraints layered on top — checked against a pandas
    # brute force doc-set (scores are covered by the oracle sweeps)
    import re as _re

    from miru_spark.filters import Leaf

    pdf = documents.toPandas()
    toks = {
        int(r.doc_id): set(
            x for x in _re.split(r"[^a-z0-9_']+", r.text.lower()) if x
        )
        for r in pdf.itertuples()
    }
    meta = {int(r.doc_id): r for r in pdf.itertuples()}

    cases = [
        (
            "lang:fr AND (spark OR join) NOT merge",
            lambda d: meta[d].lang == "fr"
            and ("spark" in toks[d] or "join" in toks[d])
            and "merge" not in toks[d],
            {},
        ),
        (
            "(lang:fr OR lang:en) AND spark",
            lambda d: meta[d].lang in ("fr", "en") and "spark" in toks[d],
            {},
        ),
        (
            "spark AND n_chars:[100 TO 300] NOT lang:de",
            lambda d: "spark" in toks[d]
            and 100 <= meta[d].n_chars <= 300
            and meta[d].lang != "de",
            {},
        ),
        (
            "(spark OR vector) AND (join OR merge)",
            lambda d: ("spark" in toks[d] or "vector" in toks[d])
            and ("join" in toks[d] or "merge" in toks[d]),
            {},
        ),
        (
            "spark AND (join OR merge)",
            lambda d: "spark" in toks[d]
            and ("join" in toks[d] or "merge" in toks[d])
            and 50 <= d <= 400
            and meta[d].source == "src3",
            dict(time_range=(50, 400), constraints=[Leaf("src3", "source")]),
        ),
    ]
    # the doc_index fixture has aux lang/source; numeric n_chars needs a
    # numeric-aux build — reuse one index for all cases
    from miru_spark.operators.build import build_index

    idx = build_index(
        documents, text_col="text", dense_id_col="doc_id", capacity=128,
        aux_fields=["lang", "source"],
        numeric_aux_fields=["n_chars"],
    )
    try:
        for q, pred, kw in cases:
            spec = parse_query(q, k=1000, **kw)
            got = {r["doc"] for r in fulltext.top_k(idx, spec).collect()}
            want = {d for d in toks if pred(d)}
            assert got == want, (q, len(got), len(want), got ^ want)
            assert want, f"vacuous case: {q}"
    finally:
        idx.unpersist()


class _PoisonStats:
    """stats stand-in that fails the test if any query path scans it —
    only the sparkSession attribute (used to build the q relation) passes
    through."""

    def __init__(self, inner):
        self._inner = inner

    @property
    def sparkSession(self):
        return self._inner.sparkSession

    def __getattr__(self, name):
        raise AssertionError(f"stats relation touched ({name}) on warm terms")


def test_query_relations_are_local(spark, doc_index, loaded_index, spark_jobs, monkeypatch):
    """Driver-built relations on the query path — the query-term table, the
    empty results and a bounded loaded query's answer — plan as JVM
    LocalTableScans, never as an ExistingRDD (a createDataFrame over a
    Python list, which parallelizes through Python-worker tasks on every
    query). Checked on the in-memory and on a loaded index, for every
    scoring route of top_k. A loaded index's bounded flat query is answered
    on the driver: a LocalTableScan, and no Spark job to plan or collect
    it. Past the bound it ships no query relation at all (one Arrow
    kernel)."""
    from miru_spark.filters import parse_query
    from miru_spark.operators import wand

    scored = [
        ("spark AND join", "bm25"),
        ("spark OR vector", "bm25"),
        ("spark NOT window", "bm25"),
        ("cust*", "bm25"),
        ("(spark OR vector) AND (join OR merge)", "bm25"),  # single-scan tree
        ("vector OR NOT spark", "bm25"),  # bare NOT: the top_k_tree fallback
        ("spark AND join", "time"),
    ]

    def executed(df):
        rows = df.collect()
        return rows, df._jdf.queryExecution().executedPlan().toString()

    def loaded_flat(index, q, scorer):
        return index.lazy and scorer != "time" and parse_query(q).tree is None

    for index in (doc_index, loaded_index):
        for q, scorer in scored:
            (rows, plan), jobs = spark_jobs(
                lambda: executed(fulltext.top_k(index, q, k=10, scorer=scorer))
            )
            assert rows, (q, scorer)
            assert "ExistingRDD" not in plan, (q, scorer, plan)
            assert "LocalTableScan" in plan, (q, scorer, plan)
            if loaded_flat(index, q, scorer):
                assert jobs == 0 and "\n" not in plan.strip(), (q, scorer, plan)
        # an unknown term, and a prefix expanding to no term (wand's
        # empty-expansion early return)
        for df in (
            fulltext.top_k(index, "zzzqqq", k=10),
            wand.wand_topk(index, "zzzq*", k=10),
        ):
            rows, plan = executed(df)
            assert not rows
            assert "ExistingRDD" not in plan, plan
    # past the bound (no Σdf fits it): the Spark host's one Arrow kernel
    monkeypatch.setattr(wand, "_DECODE_POSTINGS_PER_TASK", -1)
    for q, scorer in scored:
        if loaded_flat(loaded_index, q, scorer):
            rows, plan = executed(fulltext.top_k(loaded_index, q, k=10, scorer=scorer))
            assert rows, (q, scorer)
            assert "ExistingRDD" not in plan, (q, scorer, plan)
            assert plan.count("MapInArrow") == 1, (q, scorer, plan)


def test_loaded_flat_top_k_is_one_arrow_kernel(loaded_index, spark_jobs, monkeypatch):
    """A loaded index's bounded flat query runs the per-part kernel on the
    driver: the answer is one LocalTableScan, and planning and collecting
    it start no Spark job. Past the bound — below every query's Σdf, where
    the width still floors at one task — the same query is scan → one
    MapInArrow (decode, mask, ordered fold, per-part cut, round) → JVM
    TakeOrdered, with the same answer: no interpreted fold aggregate, no
    broadcast join, no exchange, and the scan reads no block metadata."""
    from miru_spark.operators import wand

    queries = ["spark OR vector", "spark AND join", "spark NOT window", "cust*", "s* OR sc*"]
    bounded = {}
    for q in queries:
        df, jobs = spark_jobs(lambda: fulltext.top_k(loaded_index, q, k=10))
        rows, more = spark_jobs(df.collect)
        assert rows and jobs + more == 0, (q, jobs, more)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.strip().startswith("LocalTableScan") and len(plan.strip().splitlines()) == 1, plan
        bounded[q] = rows
    monkeypatch.setattr(wand, "_DECODE_POSTINGS_PER_TASK", -1)
    for q in queries:
        df = fulltext.top_k(loaded_index, q, k=10)
        assert df.collect() == bounded[q], q
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1, (q, plan)
        assert "ReadSchema" in plan, plan
        assert "block_last" not in plan and "block_max_tf" not in plan, (q, plan)
        for node in ("ObjectHashAggregate", "BroadcastHashJoin", "Exchange"):
            assert node not in plan, (q, node, plan)


def test_loaded_flat_top_k_spreads_by_part_above_the_budget(loaded_index, monkeypatch):
    """Above one task's decode budget the kernel's input is hashed by part
    (every row of a part still meets in one task) and the answer does not
    change."""
    from miru_spark.operators import wand

    q = "s* OR sc*"  # Σdf ≈ 2.7k postings over the fixture's 4 parts
    want = [tuple(r) for r in fulltext.top_k(loaded_index, q, k=50).collect()]
    monkeypatch.setattr(wand, "_DECODE_POSTINGS_PER_TASK", 500)
    df = fulltext.top_k(loaded_index, q, k=50)
    assert [tuple(r) for r in df.collect()] == want and len(want) == 50
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(part" in plan and "Coalesce" not in plan, plan


def test_term_stats_memo_skips_stats_scan(doc_index):
    """Warm (term, prefix) lookups must not re-scan the stats relation: a
    handle is an immutable snapshot of one index generation, so the memo
    (fulltext.term_stats / _expand_prefix) serves repeats driver-side.
    Results stay identical, including memoized-absent terms."""
    from miru_spark.operators import wand

    queries = ["spark AND join", "spark OR zzznotaterm", "cust*"]
    warm = [sorted(map(tuple, fulltext.top_k(doc_index, q, k=10).collect()))
            for q in queries]
    warm_w = sorted(map(tuple, wand.wand_topk(doc_index, "spark OR join", k=10).collect()))
    assert doc_index.term_stats_cache and doc_index.prefix_cache
    assert any(v is None for v in doc_index.term_stats_cache.values())  # absent memoized
    orig = doc_index.stats
    doc_index.stats = _PoisonStats(orig)
    try:
        again = [sorted(map(tuple, fulltext.top_k(doc_index, q, k=10).collect()))
                 for q in queries]
        again_w = sorted(map(tuple, wand.wand_topk(doc_index, "spark OR join", k=10).collect()))
    finally:
        doc_index.stats = orig
        doc_index.term_stats_cache = None
        doc_index.prefix_cache = None
    assert again == warm and again_w == warm_w


def test_term_stats_memo_eviction_keeps_current_query_terms(doc_index, monkeypatch):
    """When the memo hits its size bound and clears, terms of the CURRENT
    query that were already cached must still be (re)fetched — computing
    the miss list before the clear silently dropped them, and the query
    then scored as if those terms didn't exist (round-6 ADVICE, medium)."""
    doc_index.term_stats_cache = None
    warm = fulltext.term_stats(doc_index, ["spark"])
    assert "spark" in warm
    # force the next lookup to evict: every entry beyond a 0-size bound
    monkeypatch.setattr(fulltext, "_STATS_CACHE_MAX", 0)
    try:
        got = fulltext.term_stats(doc_index, ["spark", "join"])
        assert "spark" in got and got["spark"] == warm["spark"]
        assert "join" in got
    finally:
        doc_index.term_stats_cache = None


def test_loaded_term_lookups_run_no_spark_job(loaded_index, doc_index, spark_jobs):
    """A loaded index reads cold term and prefix lookups from its stats
    files on the driver: no Spark job, the in-memory build's answers, and a
    prefix expansion seeds the term memo with its terms' stats."""
    terms = ["spark", "join", "zzznotaterm"]
    try:
        for idx in (loaded_index, doc_index):
            idx.term_stats_cache = idx.prefix_cache = None
        got, n_terms = spark_jobs(lambda: fulltext.term_stats(loaded_index, terms))
        exp, n_prefix = spark_jobs(lambda: fulltext._expand_prefix(loaded_index, "s", 3))
        assert (n_terms, n_prefix) == (0, 0)
        assert got == fulltext.term_stats(doc_index, terms) and set(got) == {"spark", "join"}
        assert exp == fulltext._expand_prefix(doc_index, "s", 3) and len(exp) == 3
        memo = loaded_index.term_stats_cache
        assert {t: memo[t] for t in exp} == fulltext.term_stats(doc_index, exp)
    finally:
        for idx in (loaded_index, doc_index):
            idx.term_stats_cache = idx.prefix_cache = None


def test_prefix_is_literal(spark, tmp_path):
    """A prefix clause is the literal term range [p, p⁺): `_` matches only
    itself, as `%` would. Checked on an in-memory handle, a loaded handle
    and the DuckDB oracle, over terms that a SQL LIKE would confuse."""
    import duckdb

    from miru_spark.index_store import build_persistent, load_index
    from miru_spark.operators.build import build_index
    from miru_spark.oracles import filtered_topk_sql

    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": ["get_value alpha", "getxvalue alpha", "__init__ beta", "ab gamma"],
        "tag": ["get_x", "getxx", "none", "none"],
    })
    docs = spark.createDataFrame(pdf)
    kw = dict(text_col="text", dense_id_col="doc_id", capacity=128, aux_fields=["tag"])
    build_persistent(docs, str(tmp_path / "idx"), **kw)
    handles = {"memory": build_index(docs, **kw), "loaded": load_index(spark, str(tmp_path / "idx"))}
    duck = duckdb.connect()
    duck.register("documents", pdf)
    cases = {
        "get_*": [0],
        "__*": [2],
        "get_* OR __*": [0, 2],
        "alpha NOT get_*": [1],
        "tag:get_*": [0],
    }
    try:
        for name, idx in handles.items():
            assert fulltext._expand_prefix(idx, "get_", 100) == ["get_value"], name
            assert fulltext._expand_prefix(idx, "__", 100) == ["__init__"], name
        for q, want in cases.items():
            spec = parse_query(q, k=10)
            sql = fulltext_topk_sql(spec) if spec.tree is None else filtered_topk_sql(spec)
            oracle = [(int(d), s) for d, s in duck.execute(sql).fetchall()]
            assert sorted(d for d, _ in oracle) == want, (q, oracle)
            for name, idx in handles.items():
                got = [(int(r["doc"]), r["score"]) for r in fulltext.top_k(idx, spec).collect()]
                assert got == oracle, (q, name, got)
    finally:
        handles["memory"].unpersist()
        duck.close()


def test_negative_prefix_is_capped_at_max_expansion(doc_index, loaded_index, duck, spark_jobs):
    """A negated prefix reaches only its first max_expansion terms in term
    order, as a positive one does (MiruAggregateUtil.java:826-839): the
    in-memory fold, the loaded handle's driver kernel (no Spark job) and
    the oracle agree, and the cap changes the answer."""
    import dataclasses

    spec = dataclasses.replace(parse_query("join NOT s*", k=100), max_expansion=2)
    want = [(int(d), s) for d, s in duck.execute(fulltext_topk_sql(spec)).fetchall()]
    uncapped = duck.execute(
        fulltext_topk_sql(dataclasses.replace(spec, max_expansion=10**6))
    ).fetchall()
    assert len(want) > len(uncapped), (len(want), len(uncapped))
    for index in (doc_index, loaded_index):
        rows, jobs = spark_jobs(lambda: fulltext.top_k(index, spec).collect())
        assert [(int(r["doc"]), r["score"]) for r in rows] == want, index.lazy
        assert jobs == 0 or not index.lazy, jobs
