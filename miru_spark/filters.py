"""Filter algebra + Lucene-lite query parser (SURVEY.md §2.2).

The reference's only IR is the recursive ``MiruFilter(operation,
fieldFilters, subFilters)`` with ops {and, or, pButNotQ}
(miru-api/.../query/filter/MiruFilter.java:9-33), produced from a Lucene
query string by LuceneBackedQueryParser:48-144 with wrap rules
MUST+MUST_NOT → pButNotQ and default operator AND.

Grammar (recursive descent, full nesting):

    expr   := and_expr (OR and_expr)*
    and_expr := unary (AND? unary)*          -- implicit AND (default op AND)
    unary  := NOT unary | '-'atom | '(' expr ')' | atom
    atom   := [field ':'] word ['*']

Precedence NOT > AND > OR is explicit and total — ``a AND b OR c`` parses as
``(a AND b) OR c`` (documented delta vs Lucene's clause-list semantics; the
v1 parser silently turned any mixed query into all-OR). Negation inside an
AND group wraps as pButNotQ exactly like the reference's MUST+MUST_NOT rule
(LuceneBackedQueryParser.java:111-144); a bare NOT wraps over the full index
mask (P = all docs).

``field:value`` mirrors MiruFieldFilter (miru-api/.../query/filter/
MiruFieldFilter.java:14-27); the composed term is ``field:value`` in the aux
posting relation (MiruTermComposer-style prefix composition). Field leaves
are masks — only default-field (content) terms contribute to the score,
collected with their query frequency qtf like MiruAggregateUtil.collectTerm
(:876-892).

Flat queries (one level of AND or OR over default-field terms, optional
negatives) flatten into QuerySpec.positive/negative/op and take the proven
flat execution path (incl. the packed top-k kernel); anything nested carries
``tree`` and takes the recursive set-algebra path.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from miru_spark.tokenize import tokenize_py


@dataclass(frozen=True)
class Clause:
    term: str
    prefix: bool = False  # trailing-* wildcard → dictionary range expansion
    qtf: int = 1


@dataclass(frozen=True)
class Leaf:
    """One field filter: default field ("") = scored content terms; named
    field = aux single-term mask (MiruFieldFilter.java:14-27).

    ``num_range`` = (lo, hi) inclusive marks a numeric RANGE filter over a
    numeric-composed aux field (``field:[lo TO hi]`` query syntax) — resolved
    as a lexicographic term-range scan of the aux relation via
    miru_spark.termcomp (MiruTermComposer.Prefix.Type.numeric,
    m-plugin/index/MiruTermComposer.java:130-141); ``term`` is unused."""

    term: str
    field: str = ""
    prefix: bool = False
    num_range: tuple[int, int] | None = None


@dataclass(frozen=True)
class Node:
    """MiruFilter.java:9-33 — op ∈ {and, or, pButNotQ}; for pButNotQ
    children[0] is P (None = full index mask) and children[1:] are Q."""

    op: str
    children: tuple  # tuple[Node | Leaf | None, ...]


@dataclass
class QuerySpec:
    positive: list[Clause] = field(default_factory=list)
    negative: list[Clause] = field(default_factory=list)
    op: str = "and"  # 'and' | 'or' across positive clauses (flat path)
    k: int = 100
    scorer: str = "bm25"  # 'bm25' | 'miru_tfidf' | 'time'
    max_expansion: int = 100  # maxWildcardExpansion (FullTextQuery.java:13-52)
    # nested filter tree (None = flat query, use positive/negative/op)
    tree: Node | Leaf | None = None
    # FullTextQuery.timeRange (FullTextQuery.java:13-52): inclusive doc_key
    # range — Miru's only time is insertion order, so a time range IS an id
    # range after the time-index lookup (MiruTimeIndex.java:27-51).
    time_range: tuple[int, int] | None = None
    # FullTextQuery.constraintsFilter: extra ANDed field masks
    # (FullTextCustomQuestion.askLocal:89-114)
    constraints: list[Leaf] = field(default_factory=list)
    # authz expression: the composite (OR) of per-label authz posting sets,
    # ANDed into the answer like the reference's authz mask
    # (FullTextCustomQuestion.java:105-107, LabAuthzIndex.getCompositeAuthz
    # :80-86). None = no authz filtering; [] = NOT_PROVIDED, sees nothing.
    # Labels resolve against the aux field named "authz".
    authz: list[str] | None = None


_LEX = re.compile(r"\(|\)|[^\s()]+")
_FIELD = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*):(.+)$")
# numeric range syntax `field:[lo TO hi]` lexes as three tokens
_RANGE_LO = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*):\[(\d+)$")
_RANGE_HI = re.compile(r"^(\d+)\]$")


class QueryParseError(ValueError):
    pass


def _atom(
    word: str, stopwords: frozenset | None = None, stemmer: str | None = None
) -> Leaf | None:
    fld = ""
    m = _FIELD.match(word)
    if m:
        fld, word = m.group(1).lower(), m.group(2)
    prefix = word.endswith("*")
    word = word.rstrip("*")
    if fld:
        return Leaf(word.lower(), fld, prefix)
    # query and ingest share ONE analyzer, incl. the stopword + stemming
    # dialects — a stopworded query term vanishes exactly like it did at
    # ingest, and a stemmed index is queried with stemmed terms. Wildcard
    # prefixes are NOT stemmed (they aren't a word; Lucene likewise skips
    # analysis for wildcard terms).
    toks = tokenize_py(word, stopwords=stopwords)
    if not toks:
        return None
    term = toks[0]
    if stemmer and not prefix:
        from miru_spark.stem import get_stemmer

        term = get_stemmer(stemmer)(term)
    return Leaf(term, "", prefix)


def _parse_expr(
    toks: list[str], pos: int, stopwords: frozenset | None = None,
    stemmer: str | None = None,
) -> tuple[Node | Leaf, int]:
    left, pos = _parse_and(toks, pos, stopwords, stemmer)
    groups = [left]
    while pos < len(toks) and toks[pos] == "OR":
        nxt, pos = _parse_and(toks, pos + 1, stopwords, stemmer)
        groups.append(nxt)
    if len(groups) == 1:
        return groups[0], pos
    return Node("or", tuple(groups)), pos


def _parse_and(
    toks: list[str], pos: int, stopwords: frozenset | None = None,
    stemmer: str | None = None,
) -> tuple[Node | Leaf, int]:
    positives: list[Node | Leaf] = []
    negatives: list[Node | Leaf] = []
    while pos < len(toks) and toks[pos] not in (")", "OR"):
        t = toks[pos]
        if t == "AND":
            pos += 1
            continue
        neg = False
        if t == "NOT":
            neg = True
            pos += 1
            if pos >= len(toks) or toks[pos] in (")", "OR", "AND"):
                raise QueryParseError("dangling NOT")
            t = toks[pos]
        elif t.startswith("-") and len(t) > 1:
            neg = True
            t = t[1:]
        rm = _RANGE_LO.match(t)
        if rm and pos + 2 < len(toks) and toks[pos + 1] == "TO":
            rh = _RANGE_HI.match(toks[pos + 2])
            if rh is None:
                raise QueryParseError(f"malformed numeric range near {t!r}")
            child = Leaf(
                "",
                rm.group(1).lower(),
                num_range=(int(rm.group(2)), int(rh.group(1))),
            )
            pos += 3
        elif t == "(":
            child, pos = _parse_expr(toks, pos + 1, stopwords, stemmer)
            if pos >= len(toks) or toks[pos] != ")":
                raise QueryParseError("unbalanced parentheses")
            pos += 1
        else:
            child = _atom(t, stopwords, stemmer)
            pos += 1
            if child is None:
                continue  # word tokenized to nothing (punctuation-only)
        (negatives if neg else positives).append(child)
    if not positives and not negatives:
        raise QueryParseError("empty clause group")
    p: Node | Leaf | None
    if not positives:
        p = None  # bare MUST_NOT → P = full index mask
    elif len(positives) == 1:
        p = positives[0]
    else:
        p = Node("and", tuple(positives))
    if negatives:
        return Node("pButNotQ", (p, *negatives)), pos
    assert p is not None
    return p, pos


def parse_tree(
    query: str, stopwords: frozenset | None = None, stemmer: str | None = None
) -> Node | Leaf:
    toks = _LEX.findall(query)
    if not toks:
        raise QueryParseError("empty query")
    tree, pos = _parse_expr(toks, 0, stopwords, stemmer)
    if pos != len(toks):
        raise QueryParseError(f"unexpected token at {pos}: {toks[pos]!r}")
    return tree


def collect_scoring_leaves(node: Node | Leaf | None) -> list[Leaf]:
    """Positive-context default-field leaves, in occurrence order — the
    collectTerm pass (MiruAggregateUtil.java:876-892); negated context does
    not contribute (the reference's −1 nets against nothing here because
    negated docs are excluded outright)."""
    if node is None:
        return []
    if isinstance(node, Leaf):
        return [node] if node.field == "" else []
    if node.op == "pButNotQ":
        return collect_scoring_leaves(node.children[0])
    out: list[Leaf] = []
    for c in node.children:
        out.extend(collect_scoring_leaves(c))
    return out


def _flatten(tree: Node | Leaf) -> tuple[list[Clause], list[Clause], str] | None:
    """Flat-query detection: single level of AND or OR over default-field
    leaves, optional default-field negatives. Returns None when nested."""

    def flat_leaves(n, want_field_free=True):
        if isinstance(n, Leaf):
            return [n] if (n.field == "" or not want_field_free) else None
        return None

    def group(n, op_hint):
        if isinstance(n, Leaf):
            # a bare field-scoped leaf ("lang:fr") must route to the tree
            # path — flattening it would score the VALUE as a content term
            # instead of applying the field mask (same guard flat_leaves has)
            if n.field != "":
                return None
            return ([n], op_hint or "and")
        if isinstance(n, Node) and n.op in ("and", "or"):
            leaves = []
            for c in n.children:
                got = flat_leaves(c)
                if got is None:
                    return None
                leaves.extend(got)
            return (leaves, n.op)
        return None

    neg_leaves: list[Leaf] = []
    pos_part: Node | Leaf | None = tree
    if isinstance(tree, Node) and tree.op == "pButNotQ":
        pos_part = tree.children[0]
        if pos_part is None:
            return None
        for q in tree.children[1:]:
            got = flat_leaves(q)
            if got is None:
                return None
            neg_leaves.extend(got)
    g = group(pos_part, None)
    if g is None:
        return None
    leaves, op = g
    pos: dict[tuple[str, bool], int] = {}
    for lf in leaves:
        key = (lf.term, lf.prefix)
        pos[key] = pos.get(key, 0) + 1
    return (
        [Clause(t, p, q) for (t, p), q in pos.items()],
        [Clause(lf.term, lf.prefix) for lf in neg_leaves],
        op,
    )


def parse_query(
    query: str,
    k: int = 100,
    scorer: str = "bm25",
    time_range: tuple[int, int] | None = None,
    constraints: list[Leaf] | None = None,
    stopwords: frozenset | None = None,
    stemmer: str | None = None,
) -> QuerySpec:
    tree = parse_tree(query, stopwords, stemmer)
    flat = _flatten(tree)
    spec = QuerySpec(
        k=k,
        scorer=scorer,
        time_range=time_range,
        constraints=list(constraints or []),
    )
    if flat is not None:
        spec.positive, spec.negative, spec.op = flat
    else:
        spec.tree = tree
    return spec
