"""Numeric term composition + `field:[lo TO hi]` range masks (round 4 —
MiruTermComposer.Prefix.Type.numeric, m-plugin/index/MiruTermComposer.java:
130-141)."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from miru_spark.filters import QueryParseError, parse_query
from miru_spark.operators import fulltext
from miru_spark.operators.build import build_index
from miru_spark.termcomp import numeric_composite_py, upper_exclusive


def test_numeric_composite_is_order_preserving():
    vals = [0, 1, 9, 10, 255, 256, 999, 10**6, 2**40, 2**62]
    enc = [numeric_composite_py("f", v) for v in vals]
    assert enc == sorted(enc)  # lexicographic ≡ numeric
    with pytest.raises(ValueError, match="nonnegative"):
        numeric_composite_py("f", -1)


@pytest.mark.parametrize(
    "prefix,upper",
    [("get_", "get`"), ("a\U0010ffff", "b"), ("a\ud7ff", "a\ue000"), ("\U0010ffff", None), ("", None)],
)
def test_upper_exclusive_bounds_every_extension(prefix, upper):
    """upper_exclusive(p) is the least string above every string starting
    with p, in UTF-8 byte order — the prefix range scan's exclusive end."""
    assert upper_exclusive(prefix) == upper
    if upper is None:
        return
    enc = upper.encode()
    for tail in ("", "a", "\U0010ffff" * 3):
        assert (prefix + tail).encode() < enc
    assert prefix.encode() < enc and not enc.startswith(prefix.encode())


def test_range_query_parses_to_range_leaf():
    spec = parse_query("spark AND n_chars:[200 TO 400]")
    assert spec.tree is not None  # field leaf routes to the tree path
    leaves = []
    from miru_spark.operators.fulltext import _collect_eval_leaves

    _collect_eval_leaves(spec.tree, leaves)
    rng = [lf for lf in leaves if lf.num_range is not None]
    assert len(rng) == 1
    assert rng[0].field == "n_chars" and rng[0].num_range == (200, 400)
    with pytest.raises(QueryParseError, match="range"):
        parse_query("n_chars:[200 TO abc]")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def num_index(docs):
    return build_index(
        docs,
        text_col="text",
        dense_id_col="doc_id",
        capacity=128,
        aux_fields=["lang"],
        numeric_aux_fields=["n_chars"],
    )


def test_numeric_range_mask_matches_brute_force(docs, num_index):
    spec = parse_query("spark AND n_chars:[200 TO 400]", k=1000)
    got = {r["doc"] for r in fulltext.top_k(num_index, spec).collect()}
    pdf = docs.toPandas()
    tok = lambda t: [x for x in re.split(r"[^a-z0-9_']+", t.lower()) if x]
    want = {
        int(r.doc_id)
        for r in pdf.itertuples()
        if "spark" in Counter(tok(r.text)) and 200 <= r.n_chars <= 400
    }
    assert got == want and len(want) > 0


def test_numeric_range_standalone_and_negated(docs, num_index):
    pdf = docs.toPandas()
    # range OR'd with a scored term (score-0 branch), via the tree path
    spec = parse_query("spark OR n_chars:[500 TO 600]", k=1000)
    got = {r["doc"] for r in fulltext.top_k(num_index, spec).collect()}
    tok = lambda t: [x for x in re.split(r"[^a-z0-9_']+", t.lower()) if x]
    want = {
        int(r.doc_id)
        for r in pdf.itertuples()
        if "spark" in tok(r.text) or 500 <= r.n_chars <= 600
    }
    assert got == want
    # negated range
    spec = parse_query("spark NOT n_chars:[0 TO 299]", k=1000)
    got = {r["doc"] for r in fulltext.top_k(num_index, spec).collect()}
    want = {
        int(r.doc_id)
        for r in pdf.itertuples()
        if "spark" in tok(r.text) and not r.n_chars <= 299
    }
    assert got == want


def test_numeric_composite_order_property():
    # lexicographic ≡ numeric over the full nonnegative long range
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        st.integers(min_value=0, max_value=(1 << 62)),
        st.integers(min_value=0, max_value=(1 << 62)),
    )
    def prop(a, b):
        ea, eb = numeric_composite_py("f", a), numeric_composite_py("f", b)
        assert (a < b) == (ea < eb) and (a == b) == (ea == eb)

    prop()
