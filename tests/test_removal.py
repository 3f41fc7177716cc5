"""Removal index (round 4 — MiruRemovalIndex / MiruIndexer.remove parity:
tombstones ANDed out of every answer, postings immutable)."""

from __future__ import annotations

import dataclasses
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from miru_spark.filters import parse_query
from miru_spark.index_store import build_persistent, load_index, remove_docs
from miru_spark.operators import fulltext
from miru_spark.operators import wand as wand_ops
from miru_spark.operators.build import build_index

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def base_index(docs):
    return build_index(
        docs, text_col="text", dense_id_col="doc_id", capacity=128,
        aux_fields=["lang", "source"],
    )


def _with_removed(index, docs, pred):
    rm = docs.filter(pred).select("part", "doc_id")
    return dataclasses.replace(index, removed=rm)


def _truth(docs, query_terms, exclude_pred):
    pdf = docs.toPandas()
    tok = lambda t: set(x for x in re.split(r"[^a-z0-9_']+", t.lower()) if x)
    return {
        int(r.doc_id)
        for r in pdf.itertuples()
        if all(t in tok(r.text) for t in query_terms) and not exclude_pred(r)
    }


def test_removed_docs_excluded_from_flat_and_wand_and_time(docs, base_index):
    idx = _with_removed(base_index, base_index.docs, F.col("doc_key") % 7 == 0)
    want = _truth(docs, ["spark"], lambda r: r.doc_id % 7 == 0)
    flat = {r["doc"] for r in fulltext.top_k(idx, "spark", k=1000).collect()}
    assert flat == want and len(want) > 0
    wand = {
        r["doc"]
        for r in wand_ops.wand_topk(idx, "spark", k=1000, kernel="wand").collect()
    }
    assert wand == want
    taat = {
        r["doc"]
        for r in wand_ops.wand_topk(idx, "spark", k=1000, kernel="taat").collect()
    }
    assert taat == want
    spec = parse_query("spark", k=1000, scorer="time")
    time_docs = {r["doc"] for r in fulltext.top_k(idx, spec).collect()}
    assert time_docs == want


def test_removed_docs_excluded_from_tree_path(docs, base_index):
    idx = _with_removed(base_index, base_index.docs, F.col("doc_key") % 5 == 0)
    spec = parse_query("spark AND (join OR merge)", k=1000)
    got = {r["doc"] for r in fulltext.top_k(idx, spec).collect()}
    pdf = docs.toPandas()
    tok = lambda t: set(x for x in re.split(r"[^a-z0-9_']+", t.lower()) if x)
    want = {
        int(r.doc_id)
        for r in pdf.itertuples()
        if "spark" in tok(r.text)
        and ("join" in tok(r.text) or "merge" in tok(r.text))
        and r.doc_id % 5 != 0
    }
    assert got == want and len(want) > 0


def test_persisted_removal_survives_resume(spark, docs, tmp_path):
    idx_dir = str(tmp_path / "idx")
    build_persistent(
        docs, idx_dir, text_col="text", dense_id_col="doc_id",
        capacity=128, wave_size=16,
    )
    loaded = load_index(spark, idx_dir)
    before = {r["doc"] for r in fulltext.top_k(loaded, "spark", k=1000).collect()}
    victims = sorted(before)[:3]
    remove_docs(spark, idx_dir, victims)
    loaded2 = load_index(spark, idx_dir)
    after = {r["doc"] for r in fulltext.top_k(loaded2, "spark", k=1000).collect()}
    assert after == before - set(victims)
    # a same-fingerprint resume run skips all waves AND keeps the tombstones
    rep = build_persistent(
        docs, idx_dir, text_col="text", dense_id_col="doc_id",
        capacity=128, wave_size=16,
    )
    assert rep.waves_run == 0 and rep.waves_skipped > 0
    loaded3 = load_index(spark, idx_dir)
    again = {r["doc"] for r in fulltext.top_k(loaded3, "spark", k=1000).collect()}
    assert again == after
    # tombstoning twice is idempotent
    remove_docs(spark, idx_dir, victims[:1])
    loaded4 = load_index(spark, idx_dir)
    assert {r["doc"] for r in fulltext.top_k(loaded4, "spark", k=1000).collect()} == after
