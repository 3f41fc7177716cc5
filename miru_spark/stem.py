"""Porter stemmer — the optional stemming analyzer dialect.

Reference parity: TermAnalyzers.findAnalyzer wires Lucene's per-locale
stemming analyzers (miru-plugin/src/main/java/com/jivesoftware/os/miru/
plugin/query/TermAnalyzers.java:119-138); Lucene's EnglishAnalyzer applies a
Porter-family stemmer after stopword removal. This is a faithful pure-Python
implementation of the ORIGINAL published algorithm (M. F. Porter, "An
algorithm for suffix stripping", Program 14(3) 1980 — public knowledge),
applied IDENTICALLY at ingest and query time like the stopword set: one
deterministic analyzer, threaded through the Arrow tokenize kernel
(build._batch_doc_term_counts, shared by both pack routes), the query
parser, and the persistent-index fingerprint.

Default OFF: for a source-code corpus, stemming identifiers is wrong (the
LogMill-regex analyzer stays the default); the dialect exists for prose
fields, closing SURVEY §2.1's analyzer row. DuckDB's ``stem()`` lives in the
FTS extension (unavailable offline), so stemmed builds are pytest-gated
against golden vectors from the paper + a brute-force Python BM25 oracle,
not driver-gated.

Stemming is per-token and tokens repeat heavily: the Arrow kernel stems each
batch dictionary's DISTINCT tokens once, and ``stem_cached`` memoizes across
batches, so most calls are one dict lookup per distinct token.
"""

from __future__ import annotations

_VOWELS = frozenset("aeiou")


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """m in [C](VC)^m[V] — the number of VC sequences."""
    m = 0
    prev_v = False
    for i in range(len(stem)):
        v = not _is_cons(stem, i)
        if prev_v and not v:
            m += 1
        prev_v = v
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(stem: str) -> bool:
    return (
        len(stem) >= 2
        and stem[-1] == stem[-2]
        and _is_cons(stem, len(stem) - 1)
    )


def _ends_cvc(stem: str) -> bool:
    """*o: stem ends consonant-vowel-consonant, final consonant not w/x/y."""
    if len(stem) < 3:
        return False
    return (
        _is_cons(stem, len(stem) - 3)
        and not _is_cons(stem, len(stem) - 2)
        and _is_cons(stem, len(stem) - 1)
        and stem[-1] not in "wxy"
    )


_STEP2 = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
]

_STEP3 = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]

_STEP4 = [
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def stem(word: str) -> str:
    """Porter-stem one lowercase token. Words of length ≤ 2 pass through
    (the paper's implementation note)."""
    if len(word) <= 2:
        return word
    w = word

    # Step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # Step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        fired = False
        if w.endswith("ed") and _has_vowel(w[:-2]):
            w, fired = w[:-2], True
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            w, fired = w[:-3], True
        if fired:
            if w.endswith(("at", "bl", "iz")):
                w = w + "e"
            elif _ends_double_cons(w) and w[-1] not in "lsz":
                w = w[:-1]
            elif _measure(w) == 1 and _ends_cvc(w):
                w = w + "e"

    # Step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # Step 2
    for suf, rep in _STEP2:
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # Step 3
    for suf, rep in _STEP3:
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # Step 4
    for suf in _STEP4:
        if w.endswith(suf):
            base = w[: -len(suf)]
            if _measure(base) > 1:
                if suf == "ion" and (not base or base[-1] not in "st"):
                    break
                w = base
            break

    # Step 5a
    if w.endswith("e"):
        m = _measure(w[:-1])
        if m > 1 or (m == 1 and not _ends_cvc(w[:-1])):
            w = w[:-1]

    # Step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]

    return w


_CACHE: dict[str, str] = {}


def stem_cached(word: str) -> str:
    s = _CACHE.get(word)
    if s is None:
        if len(_CACHE) > 1_000_000:  # bound executor-resident memo
            _CACHE.clear()
        s = _CACHE[word] = stem(word)
    return s


def _german(word: str) -> str:
    from miru_spark.stem_de import stem_cached as _de

    return _de(word)


def _swedish(word: str) -> str:
    from miru_spark.stem_sv import stem_cached as _sv

    return _sv(word)


def _norwegian(word: str) -> str:
    from miru_spark.stem_no import stem_cached as _no

    return _no(word)


def _danish(word: str) -> str:
    from miru_spark.stem_da import stem_cached as _da

    return _da(word)


def _dutch(word: str) -> str:
    from miru_spark.stem_nl import stem_cached as _nl

    return _nl(word)


STEMMERS = {
    "porter": stem_cached,
    "german": _german,
    "swedish": _swedish,
    "norwegian": _norwegian,
    "danish": _danish,
    "dutch": _dutch,
}


def get_stemmer(name: str | None):
    """None → identity (default); 'porter' → the cached Porter stemmer."""
    if name is None:
        return None
    try:
        return STEMMERS[name]
    except KeyError:
        raise ValueError(f"unknown stemmer {name!r}; available: {sorted(STEMMERS)}")
