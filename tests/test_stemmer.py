"""Porter-stemmer analyzer dialect (SURVEY §2.1 query-time analyzer row —
TermAnalyzers.findAnalyzer wires Lucene stemming analyzers per locale,
m-plugin/query/TermAnalyzers.java:119-138). One deterministic stemmer
threads both tokenize kernels, the query parser, and the persistent
fingerprint; default OFF (stemming code identifiers is wrong)."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from miru_spark.stem import get_stemmer, stem
from miru_spark.operators import fulltext
from miru_spark.operators.build import build_index

# Golden vectors: every example from the published algorithm (Porter 1980),
# run through the FULL pipeline (the paper lists per-step behavior; these are
# the end-to-end stems, cross-checked by hand through the steps).
GOLDEN = {
    "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
    "cats": "cat", "feed": "feed", "agreed": "agre", "plastered": "plaster",
    "bled": "bled", "motoring": "motor", "sing": "sing",
    "conflated": "conflat", "troubled": "troubl", "sized": "size",
    "hopping": "hop", "tanned": "tan", "falling": "fall", "hissing": "hiss",
    "fizzed": "fizz", "failing": "fail", "filing": "file", "happy": "happi",
    "sky": "sky", "relational": "relat", "conditional": "condit",
    "rational": "ration", "valenci": "valenc", "hesitanci": "hesit",
    "digitizer": "digit", "conformabli": "conform", "radicalli": "radic",
    "differentli": "differ", "vileli": "vile", "analogousli": "analog",
    "vietnamization": "vietnam", "predication": "predic", "operator": "oper",
    "feudalism": "feudal", "decisiveness": "decis", "hopefulness": "hope",
    "callousness": "callous", "formaliti": "formal", "sensitiviti": "sensit",
    "sensibiliti": "sensibl", "triplicate": "triplic", "formative": "form",
    "formalize": "formal", "electriciti": "electr", "electrical": "electr",
    "hopeful": "hope", "goodness": "good", "revival": "reviv",
    "allowance": "allow", "inference": "infer", "airliner": "airlin",
    "gyroscopic": "gyroscop", "adjustable": "adjust", "defensible": "defens",
    "irritant": "irrit", "replacement": "replac", "adjustment": "adjust",
    "dependent": "depend", "adoption": "adopt", "communism": "commun",
    "activate": "activ", "angulariti": "angular", "homologous": "homolog",
    "effective": "effect", "bowdlerize": "bowdler", "probate": "probat",
    "rate": "rate", "controlling": "control", "rolling": "roll",
    "generalization": "gener", "oscillators": "oscil",
}


def test_golden_vectors():
    bad = {w: (stem(w), e) for w, e in GOLDEN.items() if stem(w) != e}
    assert not bad, bad


def test_short_words_pass_through():
    assert stem("a") == "a" and stem("is") == "is"
    # note: idempotence is NOT a Porter property (ingest/query symmetry holds
    # because BOTH sides stem the raw word — asserted end-to-end below)


def test_unknown_stemmer_raises():
    with pytest.raises(ValueError, match="unknown stemmer"):
        get_stemmer("snowball2000")


@pytest.fixture(scope="module")
def stemmed_index(documents):
    return build_index(
        documents, text_col="text", dense_id_col="doc_id", capacity=128,
        stemmer="porter",
    )


def test_ingest_query_symmetry(stemmed_index, documents):
    """A morphological variant in the QUERY must hit docs containing any
    variant of the word — both sides stem identically."""
    # fixture vocabulary contains 'merge'/'merges'/'merged' style variants;
    # query an -ing/-ed form and expect the stemmed postings to answer
    hits = fulltext.top_k(stemmed_index, "merging", k=100).count()
    base = fulltext.top_k(stemmed_index, "merge", k=100).count()
    assert hits == base > 0  # same stem → identical answer set


def test_stemmed_topk_matches_brute_oracle(stemmed_index, documents):
    """End-to-end BM25 over the stemmed index vs an independent pandas
    pipeline (tokenize → stem → hand BM25 with the ascending-term fold)."""
    pdf = documents.toPandas()
    split = re.compile(r"[^a-z0-9_']+")
    toks = {
        int(r.doc_id): [stem(t) for t in split.split(r.text.lower()) if t]
        for r in pdf.itertuples()
    }
    N = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / N
    qterms = sorted({stem("sparking"), stem("joined")})
    dfc = {t: sum(1 for v in toks.values() if t in v) for t in qterms}
    rows = []
    for d, tv in toks.items():
        c = Counter(tv)
        if not all(c[t] for t in qterms):
            continue
        s = 0.0
        for t in qterms:
            idf = math.log(1 + (N - dfc[t] + 0.5) / (dfc[t] + 0.5))
            tf, dl = c[t], len(tv)
            s += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        rows.append((d, round(s, 6)))
    rows.sort(key=lambda x: (-x[1], -x[0]))
    got = [
        (int(r["doc"]) & 0xFFFFFFFF, r["score"])
        for r in fulltext.top_k(stemmed_index, "sparking AND joined", k=20).collect()
    ]
    assert got == rows[:20]


def test_fused_and_sort_strategies_agree_with_stemmer(spark, documents):
    a = build_index(
        documents, text_col="text", dense_id_col="doc_id", capacity=128,
        stemmer="porter", strategy="sort", cache=False,
    )
    b = build_index(
        documents, text_col="text", dense_id_col="doc_id", capacity=128,
        stemmer="porter", strategy="fused", cache=False,
    )
    pa_ = sorted(
        (r["part"], r["term"], bytes(r["ids"]), bytes(r["tfs"]))
        for r in a.packed.select("part", "term", "ids", "tfs").collect()
    )
    pb = sorted(
        (r["part"], r["term"], bytes(r["ids"]), bytes(r["tfs"]))
        for r in b.packed.filter(F.col("term") != "\x00dl")
        .select("part", "term", "ids", "tfs")
        .collect()
    )
    assert pa_ == pb
    a.unpersist(); b.unpersist()


def test_persistent_fingerprint_pins_stemmer(spark, documents, tmp_path):
    """Resuming a stemmed build without the stemmer (or vice versa) must
    RESTART, never mix dialects across waves; load_index restores the
    dialect so string queries stem automatically."""
    from miru_spark.index_store import build_persistent, load_index

    d = str(tmp_path / "idx")
    build_persistent(
        documents, d, text_col="text", dense_id_col="doc_id", capacity=128,
        wave_size=4, merge_partitions=4, stemmer="porter",
    )
    idx = load_index(spark, d)
    assert idx.stemmer == "porter"
    assert fulltext.top_k(idx, "merging", k=10).count() > 0
    rep = build_persistent(
        documents, d, text_col="text", dense_id_col="doc_id", capacity=128,
        wave_size=4, merge_partitions=4, stemmer=None,
    )
    assert rep.waves_run == rep.n_waves  # fingerprint mismatch → full rebuild
    assert load_index(spark, d).stemmer is None
