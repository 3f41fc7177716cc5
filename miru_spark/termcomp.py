"""Numeric term composition — lexicographic fixed-width encoding for numeric
aux fields (SURVEY.md §2.2 term composition).

The reference composes numeric field values into lexicographically ordered
term bytes so range filters run as term-RANGE scans of the field index:
``MiruTermComposer.Prefix.Type.numeric`` writes the int/long big-endian
behind the field prefix (m-plugin/index/MiruTermComposer.java:130-141), and
``makeUpperExclusive`` closes the range. Restatement here: the composite term
is ``field:`` + the value as 16 lowercase hex digits, zero-padded — for
nonnegative longs, string order ≡ numeric order, so
``term BETWEEN compose(lo) AND compose(hi)`` is exactly the reference's
rawRangeTerm scan. Negative values raise (documented delta: the reference's
byte-lex encoding covers the full signed range; every numeric field this
engine indexes — lengths, counts, ids, epoch times — is nonnegative).

Both sides of the gate share the encoding: ``numeric_composite_col`` runs
JVM-side at index build, ``numeric_composite_py`` composes query bounds.

Prefix clauses scan the same way: ``prefix_range`` is the term range
[prefix, ``upper_exclusive(prefix)``), so a prefix is literal (``_`` and
``%`` match themselves, unlike SQL ``LIKE``) and parquet footer statistics
prune the scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WIDTH = 16  # hex digits = 64 bits


def numeric_composite_py(field: str, value: int) -> str:
    v = int(value)
    if v < 0:
        raise ValueError(
            f"numeric term composition covers nonnegative values only "
            f"(got {field}={v}); see miru_spark.termcomp docstring"
        )
    return f"{field}:{v:0{WIDTH}x}"


def numeric_composite_col(field: str, col: Column) -> Column:
    """Composite term column; raises IN-PLAN on negative values (silently
    encoding them would break the lexicographic≡numeric invariant)."""
    v = col.cast("long")
    guarded = F.when(
        v < 0,
        F.raise_error(
            F.concat(
                F.lit(
                    f"numeric aux field '{field}' has a negative value: "
                ),
                v.cast("string"),
                F.lit(" — numeric term composition covers nonnegative longs"),
            )
        ).cast("long"),
    ).otherwise(v)
    return F.concat(F.lit(field + ":"), F.lpad(F.lower(F.hex(guarded)), WIDTH, "0"))


def upper_exclusive(prefix: str) -> str | None:
    """The least string above every string that starts with ``prefix`` —
    ``MiruTermComposer.makeUpperExclusive``: bump the last code point,
    dropping trailing maximal ones (U+10FFFF) and skipping surrogates, so
    the bound stays valid UTF-8 and code point order ≡ UTF-8 byte order.
    None when no string bounds them (an empty or all-maximal prefix)."""
    while prefix:
        c = ord(prefix[-1]) + 1
        if c == 0xD800:
            c = 0xE000
        if c <= 0x10FFFF:
            return prefix[:-1] + chr(c)
        prefix = prefix[:-1]
    return None


def prefix_range(col: Column, prefix: str) -> Column:
    """``col`` starts with ``prefix``, as the range predicate
    [prefix, upper_exclusive(prefix)), which parquet footer statistics
    prune. The driver's pyarrow reads take the same range as
    ``IndexFiles.read(lo=prefix, hi=upper_exclusive(prefix))``."""
    pred = col >= prefix
    upper = upper_exclusive(prefix)
    return pred if upper is None else pred & (col < upper)
