"""Deterministic synthetic source-code corpus (FIXTURES.md §1).

Schema is exactly BASELINE.json's input_hint:
    (repo:string, path:string, commit:string, lang:string, content:string)

Every row is a pure function of (seed, row index): we derive a per-row
numpy PCG64 generator seeded with (seed, i), so ids / shas / token draws are
bit-stable across runs, partition counts, and parallelism levels — the
property SURVEY.md §7 ("dense doc-id stability") requires for resume tests.

Generation is distributed: `spark.range(n)` → `mapInArrow` batches, each
batch synthesizing its own rows. No driver-side materialization, so the same
code generates the sf0.1 bench corpus and would generate a 10^12-row corpus
on a real cluster (partition count scales with `spark.range`'s parallelism).

Content mirrors the fixture spec: 50-2000 tokens drawn Zipf(s=1.1) from a
20k-identifier vocabulary + language keyword tables + operators, with hot
terms ("license", "copyright", "the", "import") injected into >60% of rows
to exercise hot-term skew (FIXTURES.md §5).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

SEED = 42
VOCAB_SIZE = 20_000

LANGS = ["java", "py", "js", "go", "md"]
LANG_WEIGHTS = np.array([0.3, 0.25, 0.2, 0.15, 0.1])
LANG_EXT = {"java": "java", "py": "py", "js": "js", "go": "go", "md": "md"}
LANG_KEYWORDS = {
    "java": ["public", "class", "static", "void", "import", "return", "new", "final"],
    "py": ["def", "import", "return", "class", "self", "none", "lambda", "yield"],
    "js": ["function", "const", "let", "return", "import", "export", "async", "await"],
    "go": ["func", "package", "import", "return", "defer", "chan", "go", "struct"],
    "md": ["the", "a", "and", "to", "of", "in", "is", "for"],
}
HOT_TERMS = ["license", "copyright", "the", "import"]
OPERATORS = ["=", "==", "->", "{", "}", "(", ")", ";", "+", "//"]


def _vocab() -> np.ndarray:
    """20k deterministic identifiers: ident_00000 .. plus camel/snake variants."""
    out = []
    for i in range(VOCAB_SIZE):
        base = f"ident{i:05d}"
        if i % 3 == 1:
            base = f"get{base.capitalize()}Value"
        elif i % 3 == 2:
            base = f"{base}_impl"
        out.append(base)
    return np.array(out, dtype=object)


_VOCAB = _vocab()
_KW_ARRS = {lang: np.array(kws, dtype=object) for lang, kws in LANG_KEYWORDS.items()}
_OPS_ARR = np.array(OPERATORS, dtype=object)
_HOT_ARR = np.array(HOT_TERMS, dtype=object)


def row_record(i: int, seed: int = SEED) -> dict[str, str]:
    """One corpus row — pure function of (seed, i). Token assembly is
    numpy-vectorized (fancy indexing over object arrays), no per-token loop."""
    rng = np.random.Generator(np.random.PCG64([seed, i]))
    repo = f"org{i % 7}/repo{i % 97}"
    lang = LANGS[int(rng.choice(len(LANGS), p=LANG_WEIGHTS))]
    # the row index rides the filename so (repo, path) is globally UNIQUE —
    # at 500k rows the old 10k-filename draw birthday-collided (~74 dups)
    # and duplicate natural keys are a data bug for an indexer keyed on
    # them (prepare_docs now rejects them loudly). The rng draw stays so
    # the other per-row draws keep their round-2 values.
    name = f"file{int(rng.integers(0, 10_000)):04d}_{i}"
    path = f"src/dir{int(rng.integers(0, 50)):02d}/{name}.{LANG_EXT[lang]}"
    commit = hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest()[:40]

    n_tokens = int(rng.integers(50, 2001))
    # Zipf(s=1.1) over the vocabulary; tail overflow wraps modulo VOCAB_SIZE
    # (clipping would dump ~37% of mass on one id and fake a hot term).
    zipf_ids = (rng.zipf(1.1, size=n_tokens) - 1) % VOCAB_SIZE
    toks = _VOCAB[zipf_ids]
    # sprinkle language keywords (~10% positions) and operators (~15%)
    kw = _KW_ARRS[lang]
    kw_pos = rng.integers(0, n_tokens, size=max(1, n_tokens // 10))
    toks[kw_pos] = kw[kw_pos % len(kw)]
    op_pos = rng.integers(0, n_tokens, size=max(1, n_tokens * 3 // 20))
    toks[op_pos] = _OPS_ARR[op_pos % len(_OPS_ARR)]
    # hot terms in >60% of rows (skew fixture)
    if rng.random() < 0.65:
        hp = rng.integers(0, n_tokens, size=len(_HOT_ARR))
        toks[hp] = _HOT_ARR
    # line breaks every 5-12 tokens: join once, then newline at stride points
    seps = np.full(n_tokens, " ", dtype=object)
    strides = rng.integers(5, 13, size=n_tokens // 5 + 2)
    breaks = np.cumsum(strides)
    breaks = breaks[breaks < n_tokens]
    seps[breaks] = "\n"
    pieces = np.empty(2 * n_tokens - 1, dtype=object)
    pieces[0::2] = toks
    pieces[1::2] = seps[1:]
    content = "".join(pieces.tolist())
    return {"repo": repo, "path": path, "commit": commit, "lang": lang, "content": content}


CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"


def corpus_df(spark, n_rows: int, seed: int = SEED, num_partitions: int | None = None):
    """Distributed deterministic corpus of n_rows as a Spark DataFrame."""
    num_partitions = num_partitions or max(1, min(n_rows // 250, 256))
    base = spark.range(0, n_rows, 1, num_partitions)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column("id").to_numpy()
            rows = [row_record(int(i), seed) for i in ids]
            yield pa.RecordBatch.from_pylist(rows)

    return base.mapInArrow(gen, CORPUS_SCHEMA)


def materialize_corpus(spark, n_rows: int, path: str, seed: int = SEED) -> str:
    """Generate and persist the corpus as parquet (generation cost isolated
    from index-build benchmarks)."""
    corpus_df(spark, n_rows, seed).write.mode("overwrite").parquet(path)
    return path


def corpus_pandas(n_rows: int, seed: int = SEED):
    """Driver-side corpus (for oracles / tiny tests)."""
    import pandas as pd

    return pd.DataFrame([row_record(i, seed) for i in range(n_rows)])
