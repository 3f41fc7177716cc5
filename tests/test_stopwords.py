"""Stopword analyzer dialect (round 4 — the reference's useStopWords
analyzers, miru-stream-plugins/.../fulltext/TermAnalyzers.java:119-138):
one stop set applied identically at ingest and query, mirrored in the
DuckDB oracle via list_filter."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from miru_spark import oracles
from miru_spark.filters import parse_query
from miru_spark.operators import fulltext
from miru_spark.operators.build import build_index
from miru_spark.tokenize import (
    ENGLISH_STOPWORDS,
    duckdb_tokens_sql,
    tokenize_py,
    tokens_col,
)

SF_DIR = "/root/testdata/sf0.001"


def test_three_dialects_agree_with_stopwords(spark):
    texts = [
        "The quick brown fox is at the door",
        "to be or not to be, that is the question",
        "no stopwords here whatsoever",
        "",
    ]
    stop = ENGLISH_STOPWORDS
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    spark_toks = [
        r["toks"] for r in df.select(tokens_col("t", stop).alias("toks")).collect()
    ]
    py_toks = [tokenize_py(t, stopwords=stop) for t in texts]
    con = duckdb.connect()
    duck_toks = [
        con.execute(f"SELECT {duckdb_tokens_sql('?', stop)}", [t]).fetchone()[0]
        for t in texts
    ]
    assert spark_toks == py_toks == duck_toks
    assert "the" not in spark_toks[0] and "quick" in spark_toks[0]


@pytest.fixture(scope="module")
def stop_index(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return build_index(
        docs, text_col="text", dense_id_col="doc_id", capacity=128,
        stopwords=ENGLISH_STOPWORDS,
    )


def test_stopworded_index_and_query_match_oracle(spark, stop_index):
    # "the" never entered the index
    assert stop_index.stats.filter(F.col("term") == "the").count() == 0
    # ingest and query share the dialect: "the AND spark" reduces to [spark]
    # on BOTH sides (the reference's analyzer drops it pre-search), and the
    # BM25 stats (df, dl, avgdl) reflect the stopword-free token stream
    got = fulltext.top_k(stop_index, "the AND spark", k=50).toPandas()
    spec = parse_query("the AND spark", k=50, stopwords=ENGLISH_STOPWORDS)
    assert [c.term for c in spec.positive] == ["spark"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    want = con.execute(
        oracles.fulltext_topk_sql(spec, stopwords=ENGLISH_STOPWORDS)
    ).df()
    assert list(got["doc"]) == list(want["doc"])
    assert list(got["score"]) == list(want["score"])
    assert len(got) > 0


def test_dialects_differ_without_stopwords(spark, stop_index):
    # sanity: the stopworded index's avgdl differs from the default build's
    # (proves dl/stats really exclude stopwords, not just the dictionary)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plain = build_index(docs, text_col="text", dense_id_col="doc_id", capacity=128)
    assert stop_index.corpus.avgdl < plain.corpus.avgdl
    plain.unpersist()
