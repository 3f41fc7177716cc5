"""Kill-resume test (FIXTURES.md §6): a build killed after a wave commit
resumes by skipping completed waves, and its final postings are byte-identical
to an uninterrupted build — the FullTextGatherer sip-cursor pattern."""

from __future__ import annotations

import dataclasses
import json
import os

import pytest

from miru_spark.index_store import build_persistent, load_index
from miru_spark.operators import fulltext


def _collect_postings(spark, index_dir):
    df = spark.read.parquet(f"{index_dir}/postings")
    rows = df.select("part", "term", "df_part", "cum_tf_part", "ids", "tfs").collect()
    return sorted(
        (r["part"], r["term"], r["df_part"], r["cum_tf_part"], bytes(r["ids"]), bytes(r["tfs"]))
        for r in rows
    )


@pytest.fixture(scope="module")
def built_dirs(spark, documents, tmp_path_factory):
    base = tmp_path_factory.mktemp("index")
    clean_dir = str(base / "clean")
    resumed_dir = str(base / "resumed")
    kw = dict(
        text_col="text", dense_id_col="doc_id", capacity=128,
        wave_size=2, merge_partitions=4,
    )
    # uninterrupted build
    rep = build_persistent(documents, clean_dir, **kw)
    assert rep.waves_run == rep.n_waves and rep.waves_skipped == 0
    # killed build: crash after wave 0 commit
    with pytest.raises(RuntimeError, match="injected failure"):
        build_persistent(documents, resumed_dir, fail_after_wave=0, **kw)
    return clean_dir, resumed_dir, kw


def test_resume_skips_completed_waves(spark, documents, built_dirs):
    clean_dir, resumed_dir, kw = built_dirs
    with open(os.path.join(resumed_dir, "manifest.json")) as f:
        m = json.load(f)
    assert "0" in m["waves"] and not m["stages"]["ready"]
    wave0_before = m["waves"]["0"]
    # record wave-0 file mtimes to prove no recompute
    wave0_files = {
        f: os.path.getmtime(os.path.join(resumed_dir, "segments/wave=0", f))
        for f in os.listdir(os.path.join(resumed_dir, "segments/wave=0"))
        if f.endswith(".parquet")
    }
    rep = build_persistent(documents, resumed_dir, **kw)
    assert rep.waves_skipped == 1
    assert rep.waves_run == rep.n_waves - 1
    with open(os.path.join(resumed_dir, "manifest.json")) as f:
        m2 = json.load(f)
    assert m2["stages"]["ready"]
    assert m2["waves"]["0"] == wave0_before  # counters untouched
    for f_name, mtime in wave0_files.items():
        assert os.path.getmtime(os.path.join(resumed_dir, "segments/wave=0", f_name)) == mtime


def test_resumed_postings_identical(spark, built_dirs):
    clean_dir, resumed_dir, kw = built_dirs
    # resume must already have completed in the previous test; make idempotent
    assert _collect_postings(spark, resumed_dir) == _collect_postings(spark, clean_dir)


def test_rerun_is_noop(spark, documents, built_dirs):
    clean_dir, _, kw = built_dirs
    rep = build_persistent(documents, clean_dir, **kw)
    assert rep.waves_run == 0 and rep.waves_skipped == rep.n_waves


def test_loaded_index_answers_queries(spark, documents, doc_index, built_dirs):
    clean_dir, _, _ = built_dirs
    idx = load_index(spark, clean_dir, documents)
    got = fulltext.top_k(idx, "spark AND join", k=20).toPandas()
    want = fulltext.top_k(doc_index, "spark AND join", k=20).toPandas()
    assert list(got["doc"]) == list(want["doc"])
    assert list(got["score"]) == list(want["score"])


def test_loaded_index_term_pushdown(spark, documents, built_dirs, spark_jobs, monkeypatch):
    # the persisted-index query path must filter the packed parquet scan on
    # term BEFORE the Python unpack map — Catalyst cannot push predicates
    # through mapInArrow, so an unpushed plan decodes EVERY posting list.
    # A bounded query scans nothing in Spark (wand.packed_topk reads the
    # term-pruned row groups on the driver), so the plan is checked past
    # the bound, where the same answer comes from the Spark host
    from miru_spark.operators import wand

    clean_dir, _, _ = built_dirs
    idx = load_index(spark, clean_dir, documents)
    bounded, jobs = spark_jobs(lambda: fulltext.top_k(idx, "spark AND join", k=10).collect())
    assert bounded and jobs == 0, jobs
    monkeypatch.setattr(wand, "_DECODE_POSTINGS_PER_TASK", -1)
    df = fulltext.top_k(idx, "spark AND join", k=10)
    assert df.collect() == bounded
    plan = df._jdf.queryExecution().toString()
    assert "PushedFilters" in plan
    import re

    pushed = [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if "term" in m]
    assert any("In(term" in p or "EqualTo(term" in p for p in pushed), pushed


def test_merged_postings_are_term_ranges(built_dirs, check_term_ranges):
    # the merge stage's layout: per-file term order + ascending file ranges,
    # which the `term IN` pushdown above relies on to prune files
    clean_dir, _, _ = built_dirs
    assert check_term_ranges(f"{clean_dir}/postings") >= 2


def test_merged_stats_are_term_ranges(built_dirs, check_term_ranges):
    # term-sorted stats files with ascending ranges: a driver-side term or
    # prefix lookup opens only the files whose range covers its terms
    clean_dir, _, _ = built_dirs
    assert check_term_ranges(f"{clean_dir}/stats") >= 2


def test_manifest_lineage_counters(documents, built_dirs):
    clean_dir, _, _ = built_dirs
    with open(os.path.join(clean_dir, "manifest.json")) as f:
        m = json.load(f)
    total_docs = sum(
        c["n_docs"] for w in m["waves"].values() for c in w["counters"].values()
    )
    assert total_docs == documents.count()


def test_loaded_first_latest_no_decode(spark, documents, doc_index, built_dirs):
    # VERDICT r2 #4: first/latest on a LOADED index must come from packed
    # METADATA (first_id + last block_last) — zero posting decode, so the
    # plan contains NO Python map stage at all
    clean_dir, _, _ = built_dirs
    idx = load_index(spark, clean_dir, documents)
    df = fulltext.index_first_latest(idx)
    plan = df._jdf.queryExecution().toString()
    assert "MapInArrow" not in plan and "mapInArrow" not in plan, plan[:2000]
    got = {r["term"]: (r["first_doc"], r["latest_doc"], r["df"]) for r in df.collect()}
    want = {
        r["term"]: (r["first_doc"], r["latest_doc"], r["df"])
        for r in fulltext.index_first_latest(doc_index).collect()
    }
    assert got == want


def test_forward_and_doclens_match_segments(
    spark, documents, doc_index, built_dirs, check_wave_artifacts
):
    # every committed wave's forward/ and doclens/ agree with its segments/
    # (all three come from one tokenize of the wave), and the loaded doc
    # lengths equal the in-memory build's
    clean_dir, _, _ = built_dirs
    with open(os.path.join(clean_dir, "manifest.json")) as f:
        waves = sorted(int(k) for k in json.load(f)["waves"])
    assert len(waves) == 2
    assert check_wave_artifacts(clean_dir, waves) == documents.count()
    key = lambda lens: sorted(tuple(r) for r in lens.select("doc_key", "dl").collect())
    assert key(load_index(spark, clean_dir).lens) == key(doc_index.lens)


def test_loaded_gather_uses_forward_artifact(spark, documents, doc_index, built_dirs):
    # gather on a loaded index reads the forward (activity) index artifact;
    # the only Python decode left is the term-pruned match-set unpack
    clean_dir, _, _ = built_dirs
    idx = load_index(spark, clean_dir, documents)
    assert idx.forward is not None
    df = fulltext.gather_terms(idx, "spark")
    # physical plan only (queryExecution().toString() prints all 4 forms)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one decode map (the pruned postings_for_terms), not two
    assert plan.count("MapInArrow") <= 1, plan[:2000]
    got = {r["term"]: r["n_docs"] for r in df.collect()}
    want = {r["term"]: r["n_docs"] for r in fulltext.gather_terms(doc_index, "spark").collect()}
    assert got == want


def test_loaded_tree_query_single_scan(spark, documents, doc_index, built_dirs):
    # round 4: the nested-tree path is ONE term-pruned postings scan (single
    # MapInArrow decode) + one groupBy — no join/union per tree node; the
    # term predicate still reaches the packed parquet scan
    clean_dir, _, _ = built_dirs
    idx = load_index(spark, clean_dir, documents)
    df = fulltext.top_k(idx, "spark AND (join OR merge) NOT window", k=20)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan[:2000]
    full = df._jdf.queryExecution().toString()
    assert "PushedFilters" in full
    got = df.toPandas()
    want = fulltext.top_k(doc_index, "spark AND (join OR merge) NOT window", k=20).toPandas()
    assert list(got["doc"]) == list(want["doc"])
    assert list(got["score"]) == list(want["score"])


def test_upsert_repairs_doc_and_matches_fresh_build(spark, documents, tmp_path_factory):
    """MiruIndexer.set version repair (MiruIndexer.java:128-162): after
    upsert_docs, the doc's OLD content vanishes from every answer, the NEW
    content ranks, and query results equal a FRESH build over the repaired
    corpus (corrected stats). Resume stays a no-op afterwards."""
    from pyspark.sql import functions as F

    from miru_spark.index_store import upsert_docs

    base = tmp_path_factory.mktemp("upsert")
    idx_dir = str(base / "idx")
    kw = dict(
        text_col="text", dense_id_col="doc_id", capacity=128,
        wave_size=4, merge_partitions=4,
        aux_fields=["lang", "source"],
    )
    build_persistent(documents, idx_dir, **kw)
    idx = load_index(spark, idx_dir)
    before = fulltext.top_k(idx, "spark AND join", k=10).collect()
    victim = int(before[0]["doc"])

    repaired_text = "zzzrepair zzzrepair freshcontent spark"
    new_row = (
        documents.filter(F.col("doc_id") == victim)
        .withColumn("text", F.lit(repaired_text))
    )
    rep = upsert_docs(spark, idx_dir, new_row)
    assert rep["repaired"] == 1 and rep["inserted"] == 0

    idx2 = load_index(spark, idx_dir)
    # old content gone from the old query's answer set at the old rank
    after = fulltext.top_k(idx2, "spark AND join", k=10).collect()
    assert victim not in [int(r["doc"]) for r in after]
    # new content ranks under its new terms, same doc_key identity
    hit = fulltext.top_k(idx2, "zzzrepair", k=5).collect()
    assert [int(r["doc"]) for r in hit] == [victim]
    # live sha is the repaired content's
    live_sha = (
        idx2.lens.join(
            spark.read.parquet(f"{idx_dir}/doclens/wave=*"),
            ["part", "doc_id", "doc_key", "dl"],
        )
        .join(idx2.removed, ["part", "doc_id"], "left_anti")
        .filter(F.col("doc_key") == victim)
        .select("content_sha")
        .collect()
    )
    assert len(live_sha) == 1

    # rank/score parity with a fresh build over the repaired corpus
    fresh_dir = str(base / "fresh")
    repaired_src = documents.withColumn(
        "text",
        F.when(F.col("doc_id") == victim, F.lit(repaired_text)).otherwise(F.col("text")),
    )
    build_persistent(repaired_src, fresh_dir, **kw)
    fresh = load_index(spark, fresh_dir)
    for q in ["spark AND join", "zzzrepair OR merge", "s*"]:
        a = [(int(r["doc"]), r["score"]) for r in fulltext.top_k(idx2, q, k=20).collect()]
        b = [(int(r["doc"]), r["score"]) for r in fulltext.top_k(fresh, q, k=20).collect()]
        assert a == b, (q, a, b)
    # aux field query finds the repaired instance
    lang = new_row.collect()[0]["lang"]
    docs_lang = fulltext.top_k(idx2, f"zzzrepair AND lang:{lang}", k=5).collect()
    assert [int(r["doc"]) for r in docs_lang] == [victim]

    # resume over the original source is still a no-op (repair wave survives)
    rep2 = build_persistent(documents, idx_dir, **kw)
    assert rep2.waves_run == 0
    still = fulltext.top_k(load_index(spark, idx_dir), "zzzrepair", k=5).collect()
    assert [int(r["doc"]) for r in still] == [victim]


def test_wand_survives_terms_tombstoned_out_of_stats(spark, documents, tmp_path_factory):
    """After version repair, a term can keep packed posting rows (tombstoned,
    pre-merge) while its stats row is gone (df==0 filter in the upsert stats
    correction). The wand kernel must drop such terms like the DataFrame
    path's stats join does — not KeyError the whole query."""
    from pyspark.sql import functions as F

    from miru_spark.index_store import upsert_docs
    from miru_spark.operators import wand as wand_ops

    base = tmp_path_factory.mktemp("deadterm")
    idx_dir = str(base / "idx")
    kw = dict(
        text_col="text", dense_id_col="doc_id", capacity=128,
        wave_size=4, merge_partitions=4,
    )
    build_persistent(documents, idx_dir, **kw)
    victim = int(
        fulltext.top_k(load_index(spark, idx_dir), "spark", k=1).collect()[0]["doc"]
    )
    # repair 1: give the victim a globally-unique term
    one = documents.filter(F.col("doc_id") == victim).withColumn(
        "text", F.lit("zzzunique spark")
    )
    upsert_docs(spark, idx_dir, one)
    # repair 2: replace it again — 'zzzunique' now has df == 0 (stats row
    # dropped) but its tombstoned packed rows still sit in postings/
    two = documents.filter(F.col("doc_id") == victim).withColumn(
        "text", F.lit("freshagain spark")
    )
    upsert_docs(spark, idx_dir, two)
    idx = load_index(spark, idx_dir)
    assert idx.stats.filter(F.col("term") == "zzzunique").count() == 0
    assert idx.packed.filter(F.col("term") == "zzzunique").count() > 0

    # OR with the dead term: no crash, identical to the DataFrame path
    # (lazy=False routes the same handle's top_k to the DataFrame fold)
    fold = dataclasses.replace(idx, lazy=False)
    a = [(int(r["doc"]), r["score"]) for r in
         wand_ops.wand_topk(idx, "zzzunique OR spark", k=10).collect()]
    b = [(int(r["doc"]), r["score"]) for r in
         fulltext.top_k(fold, "zzzunique OR spark", k=10).collect()]
    assert a == b and len(a) > 0
    # the dead term alone: empty on both paths
    assert wand_ops.wand_topk(idx, "zzzunique", k=10).count() == 0
    assert fulltext.top_k(fold, "zzzunique", k=10).count() == 0


def test_build_persistent_releases_its_docs_cache(spark, documents, tmp_path):
    # the prepared docs are cached for the build only: neither a finished
    # build nor one that fails after a wave commit leaves them persisted
    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    kw = dict(text_col="text", dense_id_col="doc_id", capacity=128, wave_size=2)
    before = n_persistent()
    build_persistent(documents, str(tmp_path / "ok"), **kw)
    assert n_persistent() == before
    with pytest.raises(RuntimeError, match="injected failure"):
        build_persistent(documents, str(tmp_path / "failed"), fail_after_wave=0, **kw)
    assert n_persistent() == before
