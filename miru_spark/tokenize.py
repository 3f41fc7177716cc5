"""Tokenizer — the single deterministic analyzer shared by ingest and query.

Spec (SURVEY.md §2.1 "Ingest tokenizer", mirroring the reference's LogMill
tokenizer, miru-stumptown-deployable/.../LogMill.java:79-91): lowercase,
split on ``[^a-z0-9_']+`` (underscore added for code identifiers — documented
delta vs the reference's ``[^a-zA-Z0-9']+``), drop empties. Unlike LogMill's
set-dedup we KEEP duplicates, because term frequency feeds the scorer — this
matches the reference's multiTermCardinality fields
(miru-service/.../stream/MiruIndexPrimaryFields.java:62-74, HashMultiset tf).

The hot path is a pure Catalyst expression (JVM-side, whole-stage codegen) —
NOT a UDF. The same spec is expressible in DuckDB SQL (``duckdb_tokens_sql``)
so the driver's oracle tokenizes identically, and in Python
(``tokenize_py``) for query-side analysis and the tests.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# One regex, three dialects (Java/Spark, DuckDB/RE2, Python) — all agree on
# this character class.
TOKEN_SPLIT_RE = r"[^a-z0-9_']+"
_PY_SPLIT = re.compile(TOKEN_SPLIT_RE)
_CAMEL = re.compile(r"(?<=[a-z0-9])(?=[A-Z])")

# Optional stopword dialect — the reference's useStopWords analyzers wire
# Lucene's per-locale stop sets (miru-stream-plugins/.../fulltext/
# TermAnalyzers.java:119-138); this is Lucene's classic English stop set
# (public, EnglishAnalyzer.ENGLISH_STOP_WORDS_SET). Applied IDENTICALLY at
# ingest and query time, and mirrored in the DuckDB oracle via list_filter.
ENGLISH_STOPWORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or "
    "such that the their then there these they this to was will with".split()
)


def tokens_col(text: Column | str, stopwords: frozenset[str] | None = None) -> Column:
    """array<string> of tf-preserving tokens — pure Catalyst, codegen'd."""
    c = F.col(text) if isinstance(text, str) else text
    out = F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda x: x != "")
    if stopwords:
        stop = sorted(stopwords)
        out = F.filter(out, lambda x: ~x.isin(stop))
    return out


def duckdb_tokens_sql(text_expr: str, stopwords: frozenset[str] | None = None) -> str:
    """DuckDB expression producing the identical token list."""
    pred = "x <> ''"
    if stopwords:
        stops = ", ".join(f"'{s}'" for s in sorted(stopwords))
        pred += f" AND x NOT IN ({stops})"
    return (
        "list_filter(regexp_split_to_array(lower(" + text_expr + "), "
        "'[^a-z0-9_'']+'), x -> " + pred + ")"
    )


def tokenize_py(
    text: str,
    sub_split_camel: bool = False,
    stopwords: frozenset[str] | None = None,
) -> list[str]:
    """Reference Python implementation (oracle side)."""
    if sub_split_camel:
        text = _CAMEL.sub(" ", text)
    toks = [t for t in _PY_SPLIT.split(text.lower()) if t]
    if stopwords:
        toks = [t for t in toks if t not in stopwords]
    return toks


def content_sha_col(text: Column | str) -> Column:
    """Per-row invariant stamped at ingest: sha2(content, 256)
    (BASELINE.json input_hint)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.sha2(c, 256)
