"""Synthetic code-corpus (input_hint shape) tests: determinism, schema, and
an end-to-end index build + BM25 query on the natural-key id path, checked
against DuckDB on the materialized parquet."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from miru_spark.corpus import CORPUS_SCHEMA, corpus_df, corpus_pandas, row_record
from miru_spark.filters import parse_query
from miru_spark.operators import fulltext
from miru_spark.operators.build import build_index
from miru_spark.oracles import fulltext_topk_sql, term_stats_sql

N = 300


def test_row_record_deterministic():
    a = [row_record(i) for i in (0, 1, 17, 299)]
    b = [row_record(i) for i in (0, 1, 17, 299)]
    assert a == b
    assert set(a[0]) == {"repo", "path", "commit", "lang", "content"}


def test_corpus_df_matches_pandas_and_is_partition_invariant(spark):
    pdf_direct = corpus_pandas(N)
    got1 = corpus_df(spark, N, num_partitions=1).toPandas()
    got7 = corpus_df(spark, N, num_partitions=7).toPandas()
    for got in (got1, got7):
        g = got.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
        w = pdf_direct.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(g, w)


def test_hot_tokens_injected():
    pdf = corpus_pandas(200)
    frac = pdf["content"].str.contains("license").mean()
    assert frac > 0.55  # FIXTURES.md: hot terms in >60% of rows (±sampling)


@pytest.fixture(scope="module")
def corpus_ix(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "code.parquet")
    corpus_df(spark, N, num_partitions=4).write.parquet(path)
    src = spark.read.parquet(path)
    idx = build_index(
        src,
        text_col="content",
        natural_key=["repo", "path", "commit"],
        capacity=1 << 20,
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW code AS SELECT * FROM '{path}/*.parquet'")
    return idx, con


def test_natural_key_doc_ids_stable(spark, corpus_ix):
    idx, _ = corpus_ix
    # rebuild from a differently-partitioned source → identical doc_key map
    re_src = idx.docs.select("repo", "path", "commit", "lang", "content").repartition(13)
    idx2 = build_index(
        re_src, text_col="content", natural_key=["repo", "path", "commit"],
        capacity=1 << 20, cache=False,
    )
    a = idx.docs.select("repo", "path", "commit", "doc_key").toPandas().sort_values("doc_key")
    b = idx2.docs.select("repo", "path", "commit", "doc_key").toPandas().sort_values("doc_key")
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_corpus_term_stats_match_oracle(corpus_ix):
    idx, con = corpus_ix
    got = idx.stats.toPandas().sort_values("term").reset_index(drop=True)
    want = (
        con.execute(
            term_stats_sql(
                table="code", id_col="md5(repo || path || commit)",
                text_col="content", limit=10**9,
            )
        )
        .df().sort_values("term").reset_index(drop=True)
    )
    assert len(got) == len(want)
    merged = got.merge(want, on="term")
    assert (merged["df_x"] == merged["df_y"]).all()
    assert (merged["cum_tf_x"] == merged["cum_tf_y"]).all()


@pytest.mark.parametrize("q", ["license AND import", "ident00001 OR ident00002", "getident0000*"])
def test_corpus_topk_scores_match_oracle(corpus_ix, q):
    idx, con = corpus_ix
    spec = parse_query(q, k=50)
    got = fulltext.top_k(idx, spec).toPandas()
    want = con.execute(
        fulltext_topk_sql(spec, table="code", id_col="md5(repo || path || commit)", text_col="content")
    ).df()
    # doc ids live in different spaces (doc_key vs md5) — compare the score
    # multiset and size; rank order within equal scores is id-space-specific
    assert len(got) == len(want)
    assert sorted(got["score"]) == sorted(want["score"])
