"""The FIXTURES.md §2 reference query set: 50 seeded queries over the corpus
vocabulary, every one rank- AND score-identical to the brute-force DuckDB
oracle (the north rule's rank-identity criterion over a query set, not just
hand-picked probes)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from miru_spark.filters import parse_query
from miru_spark.operators import fulltext
from miru_spark.oracles import fulltext_topk_sql
from miru_spark.queryset import generate_queries


@pytest.fixture(scope="module")
def qset(doc_index):
    stats = [
        (r["term"], int(r["df"])) for r in doc_index.stats.select("term", "df").collect()
    ]
    return generate_queries(stats, seed=42, k=100)


def test_queryset_is_deterministic_and_shaped(qset, doc_index):
    stats = [
        (r["term"], int(r["df"])) for r in doc_index.stats.select("term", "df").collect()
    ]
    again = generate_queries(stats, seed=42, k=100)
    assert qset == again  # pure function of (stats, seed)
    assert len(qset) == 50
    kinds = {
        "and_not": sum(1 for q in qset if " AND NOT " in q["query"]),
        "or": sum(1 for q in qset if " OR " in q["query"]),
        "prefix": sum(1 for q in qset if q["query"].endswith("*")),
        "single": sum(1 for q in qset if " " not in q["query"] and not q["query"].endswith("*")),
    }
    assert kinds == {"and_not": 5, "or": 5, "prefix": 5, "single": 20}


def test_queryset_rank_identical_to_oracle(qset, doc_index, duck):
    failures = []
    for rec in qset:
        spec = parse_query(rec["query"], k=rec["k"], scorer=rec["scorer"])
        got = (
            fulltext.top_k(doc_index, spec)
            .toPandas()
            .reset_index(drop=True)
        )
        want = duck.execute(fulltext_topk_sql(spec)).df().reset_index(drop=True)
        if len(got) != len(want) or not (
            got["doc"].astype("int64").equals(want["doc"].astype("int64"))
            and got["score"].astype("float64").equals(want["score"].astype("float64"))
        ):
            failures.append(rec["qid"] + " " + rec["query"])
    assert not failures, f"{len(failures)}/50 mismatched: {failures[:5]}"


def test_queryset_wand_kernel_parity(qset, doc_index):
    # the packed-postings kernel must return the
    # SAME ids and scores as the DataFrame path (itself oracle-identical
    # above) for every flat query in the set — sweep coverage for the
    # kernel, not just the two gated specs
    from miru_spark.operators import wand as wand_ops

    failures = []
    for rec in qset:
        spec = parse_query(rec["query"], k=rec["k"], scorer=rec["scorer"])
        if spec.tree is not None:
            continue  # nested specs delegate by design
        df_path = fulltext.top_k(doc_index, spec).toPandas().reset_index(drop=True)
        spec2 = parse_query(rec["query"], k=rec["k"], scorer=rec["scorer"])
        kern = wand_ops.wand_topk(doc_index, spec2).toPandas().reset_index(drop=True)
        if not (
            len(df_path) == len(kern)
            and df_path["doc"].astype("int64").equals(kern["doc"].astype("int64"))
            and df_path["score"].astype("float64").equals(kern["score"].astype("float64"))
        ):
            failures.append(rec["qid"] + " " + rec["query"])
    assert not failures, f"{len(failures)} kernel mismatches: {failures[:5]}"


def _rows(df):
    return [(int(r["doc"]), r["score"]) for r in df.collect()]


def test_queryset_loaded_index_parity(qset, doc_index, loaded_index):
    # the loaded (lazy) path scores a flat query in the packed-postings Arrow
    # kernel that wand_topk shares; the in-memory build keeps the DataFrame
    # fold. So this is the independent check of that kernel: every query of
    # the set, identical ids and scores
    failures = []
    for rec in qset:
        spec = parse_query(rec["query"], k=rec["k"], scorer=rec["scorer"])
        if _rows(fulltext.top_k(doc_index, spec)) != _rows(fulltext.top_k(loaded_index, spec)):
            failures.append(rec["qid"] + " " + rec["query"])
    assert not failures, f"loaded-index mismatches: {failures}"


@pytest.fixture(scope="module")
def repaired(documents, spark, tmp_path_factory):
    """The corpus persisted, version-repaired (four victims rewritten: a
    delta wave, a removal batch, corrected stats) and loaded; plus the
    query set's specs and two more, a timeRange and an and_not query."""
    from miru_spark.index_store import build_persistent, load_index, upsert_docs

    idx_dir = str(tmp_path_factory.mktemp("qs_repaired") / "idx")
    build_persistent(
        documents, idx_dir, text_col="text", dense_id_col="doc_id",
        capacity=128, wave_size=16,
    )
    victims = [3, 150, 301, 477]
    upsert_docs(
        spark, idx_dir,
        documents.filter(F.col("doc_id").isin(victims)).withColumn(
            "text", F.lit("spark spark join zzzrepaired window merge")
        ),
    )
    loaded = load_index(spark, idx_dir)
    assert loaded.removed is not None and loaded.removed.count() == len(victims)
    return loaded, [
        parse_query("spark OR join OR zzzrepaired", k=60, time_range=(100, 400)),
        parse_query("spark AND NOT zzzrepaired", k=100),
    ]


def test_queryset_repaired_index_parity(qset, repaired):
    # the same check after version repair: tombstoned instances (the removal
    # index), delta waves and corrected stats. The reference is the DataFrame
    # fold over the SAME loaded handle (lazy=False routes top_k through
    # score_candidates and _apply_masks), plus a timeRange and an and_not query
    import dataclasses

    loaded, extra = repaired
    fold = dataclasses.replace(loaded, lazy=False)
    specs = [parse_query(r["query"], k=r["k"], scorer=r["scorer"]) for r in qset] + extra
    failures = []
    for spec in specs:
        got = _rows(fulltext.top_k(loaded, spec))
        if not got or got != _rows(fulltext.top_k(fold, spec)):
            failures.append(spec)
    assert not failures, f"{len(failures)} repaired-index mismatches: {failures[:3]}"


def _handles(qset, loaded_index, repaired):
    specs = [parse_query(r["query"], k=r["k"], scorer=r["scorer"]) for r in qset]
    return [("loaded", loaded_index, specs), ("repaired", repaired[0], specs + repaired[1])]


def test_queryset_bounded_queries_run_no_spark_job(qset, loaded_index, repaired, spark_jobs):
    """Every query of the set is bounded (its Σdf fits one task's decode
    budget), so on a loaded and on a repaired handle top_k and wand_topk
    answer on the driver: planning and collecting start no Spark job."""
    from miru_spark.operators import wand

    for name, index, specs in _handles(qset, loaded_index, repaired):
        for spec in specs:
            terms = {t for t, _, _ in fulltext.expand_clauses(index, spec)}
            terms |= set(fulltext.expand_negatives(index, spec))
            sigma_df = sum(df for df, _ in fulltext.term_stats(index, sorted(terms)).values())
            assert sigma_df <= wand._DECODE_POSTINGS_PER_TASK, (name, spec)
            for run in (fulltext.top_k, wand.wand_topk):
                rows, jobs = spark_jobs(lambda: run(index, spec).collect())
                assert jobs == 0, (name, run.__name__, spec, jobs)


def test_queryset_driver_and_spark_hosts_agree(qset, loaded_index, repaired, monkeypatch):
    """The per-part kernel answers every query identically on the driver
    host and on the Spark host (forced with a budget below every Σdf), on
    a loaded and on a repaired handle."""
    from miru_spark.operators import wand

    handles = _handles(qset, loaded_index, repaired)
    driver = {name: [_rows(fulltext.top_k(index, s)) for s in specs]
              for name, index, specs in handles}
    monkeypatch.setattr(wand, "_DECODE_POSTINGS_PER_TASK", -1)
    failures = []
    for name, index, specs in handles:
        for spec, want in zip(specs, driver[name]):
            df = fulltext.top_k(index, spec)
            assert "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()
            if _rows(df) != want:
                failures.append((name, spec))
    assert not failures, f"{len(failures)} host mismatches: {failures[:3]}"
