"""Seeded inputs for the benchmark: the engine's synthetic source-code
corpus (``miru_spark.corpus``, FIXTURES.md §1) plus a dense ``doc_id``, and
the repair batches applied to it.

Every row is a pure function of (seed, doc_id) and every repair batch a
pure function of (seed, batch number). The fingerprint printed with each
result (rows, content bytes, digest of the per-row content sha256) makes
any change of the input visible, including one made by a change to the
generator itself.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from miru_spark.corpus import row_record


def _frame(rows: list[dict]) -> pd.DataFrame:
    df = pd.DataFrame(rows)
    df["doc_id"] = df["doc_id"].astype("int64")
    return df


def make_corpus(seed: int, n_rows: int) -> pd.DataFrame:
    """Rows 0..n_rows-1 of the corpus for ``seed``, with ``doc_id`` = row."""
    return _frame([{**row_record(i, seed), "doc_id": i} for i in range(n_rows)])


def probe_token(batch_no: int) -> str:
    """A token no generated content contains; each repaired or inserted doc
    of batch ``batch_no`` carries it, so a query for it must return exactly
    that batch."""
    return f"pbprobe{batch_no:04d}"


def repair_batch(
    seed: int, batch_no: int, corpus: pd.DataFrame, n_docs: int
) -> pd.DataFrame:
    """``n_docs`` rows: half replace the content of existing docs (repairs),
    half are new doc_ids (inserts). Their content is drawn from the corpus
    generator under a seed of the batch's own, and every row carries
    ``probe_token``."""
    rng = np.random.Generator(np.random.PCG64([seed, 1_000_003, batch_no]))
    batch_seed = ((batch_no + 1) << 32) | seed
    ids = corpus["doc_id"].to_numpy()
    n_rep = n_docs // 2
    repaired = [int(i) for i in rng.choice(ids, size=n_rep, replace=False)]
    next_id = int(ids.max()) + 1
    rows = []
    for i in repaired + list(range(next_id, next_id + n_docs - n_rep)):
        r = {**row_record(i, batch_seed), "doc_id": i}
        r["content"] = f"{r['content']} {probe_token(batch_no)}"
        rows.append(r)
    return _frame(rows)


def apply_batch(corpus: pd.DataFrame, batch: pd.DataFrame) -> pd.DataFrame:
    """The corpus after an upsert of ``batch`` (the oracle's view of it)."""
    kept = corpus[~corpus["doc_id"].isin(batch["doc_id"])]
    return pd.concat([kept, batch], ignore_index=True).sort_values("doc_id", ignore_index=True)


def fingerprint(corpus: pd.DataFrame) -> dict:
    """Rows, content bytes and a digest of the per-row content sha256 in
    doc_id order."""
    h = hashlib.sha256()
    n_bytes = 0
    for text in corpus.sort_values("doc_id")["content"]:
        b = text.encode("utf-8")
        n_bytes += len(b)
        h.update(hashlib.sha256(b).digest())
    return {"rows": len(corpus), "content_bytes": n_bytes, "digest": h.hexdigest()[:32]}
