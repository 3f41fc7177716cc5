"""O(delta) repair + budgeted compaction (round-6 top ask; the reference's
delta-merge-under-chit-budget shape, miru-service/.../partition/
MiruMergeChits.java:8-16 + LargestFirstMergeChits.java:20-90):

* upsert_docs must touch NOTHING under the merged postings/stats layout —
  a one-doc repair costs O(delta), never a corpus re-merge;
* a crash before the single manifest-save commit point leaves the index
  serving the pre-repair state exactly, and a retry converges;
* compact() folds delta waves largest-first under a posting budget with
  byte-identical query results before and after.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from miru_spark.index_store import (
    FORMAT_VERSION,
    _fold_stats,
    _with_deltas,
    build_persistent,
    compact,
    load_index,
    remove_docs,
    upsert_docs,
)
from miru_spark.operators import fulltext
from miru_spark.operators import wand as wand_ops

KW = dict(
    text_col="text", dense_id_col="doc_id", capacity=128,
    wave_size=4, merge_partitions=4,
    aux_fields=["lang", "source"],
)

QUERIES = ["spark AND join", "zzzdelta OR merge", "s*", "lang:fr AND spark"]


def _snapshot(index_dir: str, sub: str) -> dict[str, float]:
    """name → mtime for every file under index_dir/sub (recursive)."""
    out = {}
    root = os.path.join(index_dir, sub)
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.path.getmtime(p)
    return out


def _answers(spark, index_dir, k=25):
    idx = load_index(spark, index_dir)
    out = {}
    for q in QUERIES:
        out[q] = [
            (int(r["doc"]), r["score"])
            for r in fulltext.top_k(idx, q, k=k).collect()
        ]
    out["_stats_spark"] = [
        tuple(r) for r in idx.stats.filter(F.col("term") == "spark").collect()
    ]
    return out


@pytest.fixture(scope="module")
def repaired_dir(spark, documents, tmp_path_factory):
    """An index with TWO uncompacted repair waves (one repair, one insert)."""
    d = str(tmp_path_factory.mktemp("odelta") / "idx")
    build_persistent(documents, d, **KW)
    idx = load_index(spark, d)
    victim = int(fulltext.top_k(idx, "spark AND join", k=1).collect()[0]["doc"])
    # wave A: repair the victim
    upsert_docs(
        spark, d,
        documents.filter(F.col("doc_id") == victim)
        .withColumn("text", F.lit("zzzdelta fresh spark")),
    )
    # wave B: pure inserts (two brand-new doc_keys)
    base = documents.agg(F.max("doc_id")).collect()[0][0]
    ins = (
        documents.limit(2)
        .withColumn("doc_id", F.col("doc_id") + int(base) + 1)
        .withColumn("text", F.lit("zzzdelta insert join"))
    )
    upsert_docs(spark, d, ins)
    return d, victim


def test_upsert_touches_no_merged_artifact(spark, documents, tmp_path_factory):
    """Repair cost is decoupled from corpus size: the merged postings/ and
    the base stats/ file sets are BYTE-UNTOUCHED by an upsert — the repair
    lands purely as delta directories."""
    d = str(tmp_path_factory.mktemp("notouch") / "idx")
    build_persistent(documents, d, **KW)
    before_postings = _snapshot(d, "postings")
    before_stats = _snapshot(d, "stats")
    assert before_postings and before_stats
    row = documents.limit(1).withColumn("text", F.lit("zzznotouch spark"))
    rep = upsert_docs(spark, d, row)
    assert rep["repaired"] == 1
    assert _snapshot(d, "postings") == before_postings
    assert _snapshot(d, "stats") == before_stats
    # the delta artifacts exist and are manifest-listed
    with open(os.path.join(d, "manifest.json")) as f:
        m = json.load(f)
    (k,) = m["delta_waves"]
    assert os.path.isdir(os.path.join(d, f"segments/wave={k}"))
    assert os.path.isdir(os.path.join(d, f"stats_delta/wave={k}"))
    # and the repaired content answers
    hit = fulltext.top_k(load_index(spark, d), "zzznotouch", k=5).collect()
    assert len(hit) == 1


def test_repair_waves_forward_and_doclens_match_segments(
    repaired_dir, check_wave_artifacts
):
    # repair waves go through the same wave writer as the build
    d, _ = repaired_dir
    with open(os.path.join(d, "manifest.json")) as f:
        m = json.load(f)
    waves = sorted(
        int(k) for k, w in m["waves"].items()
        if all(c.get("repair") for c in w["counters"].values())
    )
    assert len(waves) == 2
    assert check_wave_artifacts(d, waves) == 3  # one repaired doc + two inserts


def _folded_stats(spark, index_dir):
    """(every term of the stats files, the folded {term: (df, cum_tf)})."""
    with open(os.path.join(index_dir, "manifest.json")) as f:
        waves = json.load(f)["delta_waves"]
    unfolded = _with_deltas(spark, index_dir, "stats", "stats_delta", waves)
    every = sorted({r["term"] for r in unfolded.select("term").collect()})
    return every, {r["term"]: (r["df"], r["cum_tf"]) for r in _fold_stats(unfolded).collect()}


def test_repaired_term_lookups_fold_on_the_driver(
    spark, documents, repaired_dir, tmp_path, spark_jobs
):
    """On a handle with delta waves, cold term and prefix lookups run no
    Spark job and equal the folded stats relation: a term only delta waves
    hold is present, a term whose df folds to 0 is absent."""
    d, victim = repaired_dir
    # a copy with a third wave that repairs the victim again: "fresh", which
    # only its first repair held, folds to df 0
    d3 = str(tmp_path / "idx")
    shutil.copytree(d, d3)
    upsert_docs(
        spark, d3,
        documents.filter(F.col("doc_id") == victim).withColumn("text", F.lit("zzzagain spark")),
    )
    base = {r["term"] for r in spark.read.parquet(f"{d}/stats").select("term").collect()}
    for index_dir in (d, d3):
        every, want = _folded_stats(spark, index_dir)
        idx = load_index(spark, index_dir)
        got, n_terms = spark_jobs(lambda: fulltext.term_stats(idx, every))
        assert n_terms == 0 and got == want
        idx = load_index(spark, index_dir)
        exp, n_prefix = spark_jobs(lambda: fulltext._expand_prefix(idx, "zzz", 100))
        assert n_prefix == 0 and exp == sorted(t for t in want if t.startswith("zzz"))
        assert {t: idx.term_stats_cache[t] for t in exp} == {t: want[t] for t in exp}
    assert "zzzdelta" in want and "zzzagain" in want and not {"zzzdelta", "zzzagain"} & base
    assert "fresh" in every and "fresh" not in want


def test_compact_preserves_results_and_clears_deltas(spark, documents, repaired_dir):
    d, victim = repaired_dir
    before = _answers(spark, d)
    with open(os.path.join(d, "manifest.json")) as f:
        m = json.load(f)
    assert len(m["delta_waves"]) == 2
    rep = compact(spark, d)
    assert sorted(rep["merged"]) == sorted(int(k) for k in m["delta_waves"])
    assert rep["remaining"] == []
    with open(os.path.join(d, "manifest.json")) as f:
        m2 = json.load(f)
    assert m2["delta_waves"] == []
    assert m2["dirs"]["postings"] == f"postings_g{rep['gen']}"
    # old generation reclaimed
    assert not os.path.isdir(os.path.join(d, "postings"))
    after = _answers(spark, d)
    assert after == before
    # repaired doc still answers post-compaction
    hit = fulltext.top_k(load_index(spark, d), "zzzdelta", k=10).collect()
    assert victim in [int(r["doc"]) for r in hit]
    # idempotent no-op on a fully-compacted index
    assert compact(spark, d)["merged"] == []


def test_compact_budget_is_largest_first(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("budget") / "idx")
    build_persistent(documents, d, **KW)
    # wave A: 3 docs (larger), wave B: 1 doc
    a = documents.limit(3).withColumn("text", F.lit("zzzbig alpha beta gamma delta"))
    b = (
        documents.filter(F.col("doc_id") == 10)
        .withColumn("text", F.lit("zzzsmall"))
    )
    wa = upsert_docs(spark, d, a)["wave"]
    wb = upsert_docs(spark, d, b)["wave"]
    before = _answers(spark, d)
    # budget of 1 posting: still merges exactly ONE delta — the LARGEST
    rep = compact(spark, d, max_postings=1)
    assert rep["merged"] == [wa] and rep["remaining"] == [wb]
    assert _answers(spark, d) == before
    rep2 = compact(spark, d)
    assert rep2["merged"] == [wb]
    assert _answers(spark, d) == before


def test_upsert_crash_before_commit_is_invisible(spark, documents, tmp_path_factory):
    """A repair killed before the single manifest-save commit point leaves
    the index answering EXACTLY as before (orphan wave dirs are unlisted,
    so loads never see them); the retry converges to the repaired state."""
    d = str(tmp_path_factory.mktemp("crash") / "idx")
    build_persistent(documents, d, **KW)
    before = _answers(spark, d)
    row = documents.limit(1).withColumn("text", F.lit("zzzcrash spark"))
    with pytest.raises(RuntimeError, match="injected failure before upsert commit"):
        upsert_docs(spark, d, row, fail_before_commit=True)
    # orphan artifacts exist on disk…
    with open(os.path.join(d, "manifest.json")) as f:
        m = json.load(f)
    orphan = max(int(k) for k in m["waves"]) + 1
    assert os.path.isdir(os.path.join(d, f"segments/wave={orphan}"))
    # …but the index is bit-identical to pre-repair
    assert _answers(spark, d) == before
    assert fulltext.top_k(load_index(spark, d), "zzzcrash", k=5).count() == 0
    # retry lands the repair
    rep = upsert_docs(spark, d, row)
    assert rep["repaired"] == 1 and rep["wave"] == orphan
    hit = fulltext.top_k(load_index(spark, d), "zzzcrash", k=5).collect()
    assert len(hit) == 1
    # corpus stats stayed consistent through crash + retry (incremental
    # n/Σdl updates applied exactly once)
    fresh_dir = str(tmp_path_factory.mktemp("crash") / "fresh")
    vict = int(row.collect()[0]["doc_id"])
    build_persistent(
        documents.withColumn(
            "text",
            F.when(F.col("doc_id") == vict, F.lit("zzzcrash spark")).otherwise(
                F.col("text")
            ),
        ),
        fresh_dir,
        **KW,
    )
    a = load_index(spark, d).corpus
    b = load_index(spark, fresh_dir).corpus
    assert (a.n_docs, a.avgdl) == (b.n_docs, b.avgdl)


def test_remove_after_repair_and_compact(spark, documents, repaired_dir):
    d, victim = repaired_dir
    # removing the repaired doc_key kills the replacement instance too
    remove_docs(spark, d, [victim])
    idx = load_index(spark, d)
    assert fulltext.top_k(idx, "zzzdelta", k=20).filter(
        F.col("doc") == victim
    ).count() == 0


def test_compacted_postings_are_term_ranges(
    spark, repaired_dir, check_term_ranges, spark_jobs, monkeypatch
):
    """compact() writes the build's merged layout: each postings_gN/ file is
    term-sorted, the files' term ranges ascend, and a loaded compacted
    handle still pushes the query terms into the parquet scan. A bounded
    query reads the files on the driver (no Spark job), so the scan is
    checked past the bound, where the Spark host gives the same answer."""
    d, _ = repaired_dir
    compact(spark, d)  # a no-op once the compaction test above has run
    with open(os.path.join(d, "manifest.json")) as f:
        postings = json.load(f)["dirs"]["postings"]
    assert postings.startswith("postings_g")
    assert check_term_ranges(os.path.join(d, postings)) >= 2
    idx = load_index(spark, d)
    bounded, jobs = spark_jobs(lambda: fulltext.top_k(idx, "spark AND join", k=10).collect())
    assert bounded and jobs == 0, jobs
    monkeypatch.setattr(wand_ops, "_DECODE_POSTINGS_PER_TASK", -1)
    df = fulltext.top_k(idx, "spark AND join", k=10)
    assert df.collect() == bounded
    plan = df._jdf.queryExecution().toString()
    pushed = [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if "term" in m]
    assert any("In(term" in p or "EqualTo(term" in p for p in pushed), pushed


def test_compacted_stats_are_term_ranges(spark, repaired_dir, check_term_ranges):
    """compact() writes stats_gN/ as the build writes stats/: term-sorted
    files whose ranges ascend, which the driver-side lookups prune by."""
    d, _ = repaired_dir
    compact(spark, d)  # a no-op once the compaction test above has run
    with open(os.path.join(d, "manifest.json")) as f:
        stats = json.load(f)["dirs"]["stats"]
    assert stats.startswith("stats_g")
    assert check_term_ranges(os.path.join(d, stats)) >= 2


@pytest.mark.parametrize("defect", ["not_ready", "old_format"])
@pytest.mark.parametrize("entry", ["remove_docs", "upsert_docs", "compact", "load_index"])
def test_manifest_gate_refuses(spark, documents, repaired_dir, tmp_path, entry, defect):
    """Every entry point into a built index refuses an unfinished build and
    an index of another format_version, before it reads or writes anything."""
    d = str(tmp_path / "idx")
    shutil.copytree(repaired_dir[0], d)
    path = os.path.join(d, "manifest.json")
    with open(path) as f:
        m = json.load(f)
    if defect == "not_ready":
        del m["stages"]["ready"]
    else:
        m["fingerprint"]["format_version"] = FORMAT_VERSION - 1
    with open(path, "w") as f:
        json.dump(m, f)
    call = {
        "remove_docs": lambda: remove_docs(spark, d, [0]),
        "upsert_docs": lambda: upsert_docs(spark, d, documents.limit(1)),
        "compact": lambda: compact(spark, d),
        "load_index": lambda: load_index(spark, d),
    }[entry]
    before = _snapshot(d, "")
    with pytest.raises(ValueError):
        call()
    assert _snapshot(d, "") == before
