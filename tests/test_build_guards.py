"""Round-3 guards: field-leaf parser routing, natural-key null/duplicate
handling, fused capacity fail-fast, unknown-strategy rejection, cache
bookkeeping, and the zero-decode first/latest metadata path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from miru_spark.filters import Leaf, parse_query
from miru_spark.operators import build as B
from miru_spark.operators import fulltext


def test_bare_field_leaf_routes_to_tree():
    # a single field-scoped leaf must NOT flatten into a scored content
    # clause (it would score the literal value instead of masking the field)
    spec = parse_query("lang:fr")
    assert spec.positive == [] and isinstance(spec.tree, Leaf)
    assert spec.tree.field == "lang" and spec.tree.term == "fr"
    spec2 = parse_query("lang:fr NOT x")
    assert spec2.positive == [] and spec2.tree is not None
    assert spec2.tree.op == "pButNotQ"
    assert isinstance(spec2.tree.children[0], Leaf)
    assert spec2.tree.children[0].field == "lang"


def test_bare_field_leaf_query_masks_not_scores(doc_index):
    # lang:fr alone = mask-only query → score 0.0 for every hit, and the hit
    # set equals the aux relation's lang:fr doc set
    res = fulltext.top_k(doc_index_with_aux(doc_index), "lang:fr", k=1000)
    rows = res.collect()
    assert rows, "lang:fr should match fixture docs"
    assert all(r["score"] == 0.0 for r in rows)


def doc_index_with_aux(idx):
    if idx.aux is not None:
        return idx
    import dataclasses

    return dataclasses.replace(idx, aux=B.aux_postings(idx.docs, ["lang"]), cached=[])


def test_natural_key_null_rows_survive(spark):
    df = spark.createDataFrame(
        [("r1", "a.py", "hello world"), (None, "b.py", "null repo row"), ("r2", None, "null path")],
        "repo string, path string, content string",
    )
    out = B.prepare_docs(df, "content", natural_key=["repo", "path"], capacity=10)
    assert out.count() == 3  # NULL-keyed rows must not vanish in the join
    assert out.select("doc_key").distinct().count() == 3


def test_natural_key_duplicates_fail_loudly(spark):
    df = spark.createDataFrame(
        [("r1", "a.py", "x"), ("r1", "a.py", "y"), ("r2", "b.py", "z")],
        "repo string, path string, content string",
    )
    # the check is folded into doc_key (raise_error branch) — it fires on
    # materialization, with the duplicate key in the message
    out = B.prepare_docs(df, "content", natural_key=["repo", "path"], capacity=10)
    with pytest.raises(Exception, match="not unique"):
        out.count()


def test_fused_capacity_guard_fails_fast(spark, documents):
    limit = B.fused_capacity_limit(spark)
    with pytest.raises(ValueError, match="strategy='fused'"):
        B.build_index(
            documents,
            text_col="text",
            dense_id_col="doc_id",
            capacity=max(B.DEFAULT_CAPACITY, limit * 10),
            strategy="fused",
        )


def test_unknown_strategy_rejected(spark, documents):
    # a typo must not silently pick some other build route
    with pytest.raises(ValueError, match="'sort' or 'fused'"):
        B.build_index(
            documents, text_col="text", dense_id_col="doc_id", capacity=128,
            strategy="hash_sort",
        )


def test_unpersist_releases_cached(spark, documents):
    idx = B.build_index(
        documents, text_col="text", dense_id_col="doc_id", capacity=256, strategy="fused"
    )
    assert idx.cached, "fused build should track its persisted relations"
    idx.packed.count()
    idx.unpersist()
    assert idx.cached == []


def test_first_latest_matches_decode_path(doc_index):
    # the metadata path (first_id + last block_last) must agree with a full
    # decode + min/max over doc_key (flat is self-contained — it carries
    # doc_key per posting row, no lens join)
    meta = {r["term"]: r for r in fulltext.index_first_latest(doc_index).collect()}
    brute = {
        r["term"]: r
        for r in doc_index.flat
        .groupBy("term")
        .agg(
            F.min("doc_key").alias("first_doc"),
            F.max("doc_key").alias("latest_doc"),
            F.count(F.lit(1)).alias("df"),
        )
        .collect()
    }
    assert set(meta) == set(brute)
    for t, r in brute.items():
        m = meta[t]
        assert (m["first_doc"], m["latest_doc"], m["df"]) == (
            r["first_doc"],
            r["latest_doc"],
            r["df"],
        ), t


def test_auto_source_read_does_not_fall_back_to_parquet(spark, tmp_path):
    # a directory holding metadata/ is an Iceberg table: when the Iceberg
    # read fails (no runtime jar here) it must raise, not silently return
    # the table's data files as parquet rows
    from miru_spark.sources import read_source

    rows = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    table = tmp_path / "table"
    rows.write.parquet(str(table))
    (table / "metadata").mkdir()
    with pytest.raises(Exception, match="(?i)iceberg"):
        read_source(spark, str(table), "auto")
    # a plain parquet directory still reads through auto
    plain = tmp_path / "plain"
    rows.write.parquet(str(plain))
    assert read_source(spark, str(plain), "auto").count() == 1
