"""Profile the block-max WAND kernel at a 1M-doc partition (VERDICT r2 #10).

No Spark: builds synthetic posting lists directly and times
wand._kernel_wand vs wand._kernel_taat on a 3-term low-selectivity OR —
the worst case for the Python pivot loop. Records evaluated-pivot counts
(the quantity block-max skipping bounds) and the cProfile split between the
pivot loop and numpy.

Run: python BENCH/profile_wand.py [n_docs] [> BENCH/wand_profile.json]
"""

from __future__ import annotations

import cProfile
import io
import json
import pstats
import sys
import time

import numpy as np

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from miru_spark import codec
from miru_spark.operators import wand as W


def make_term(rng, n_docs, df, qtf, clause, dl_arr):
    ids = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 20, size=df).astype(np.int64)
    # postings are self-contained: each carries its doc's dl + doc_key
    dls = dl_arr[ids].astype(np.int64)
    keys = ids.copy()
    bs = codec.BLOCK_SIZE
    n_blocks = (df + bs - 1) // bs
    ends = np.minimum(np.arange(1, n_blocks + 1) * bs, df) - 1
    block_last = ids[ends]
    block_max = np.maximum.reduceat(tfs, np.arange(0, df, bs))
    t = W._TermCtx(f"t{clause}", qtf, clause, float(df), float(tfs.sum()),
                   ids, tfs, dls, keys, block_last, block_max)
    return t


def main(n_docs: int = 1_000_000, k: int = 100) -> dict:
    rng = np.random.Generator(np.random.PCG64(7))
    dl_arr = rng.integers(50, 2000, size=n_docs).astype(np.float64)
    avgdl = float(dl_arr.mean())
    # 3-term low-selectivity OR: 20% / 15% / 10% of the partition
    dfs = [n_docs // 5, int(n_docs * 0.15), n_docs // 10]
    terms = [make_term(rng, n_docs, df, 1.0, i, dl_arr) for i, df in enumerate(dfs)]
    terms.sort(key=lambda t: t.term)

    out = {"n_docs": n_docs, "k": k, "dfs": dfs, "total_postings": int(sum(dfs))}

    t0 = time.perf_counter()
    docs_w, scores_w = W._kernel_wand(terms, "bm25", n_docs, avgdl, k)
    out["wand_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    docs_t, scores_t = W._kernel_taat(terms, "bm25", n_docs, avgdl)
    out["taat_sec"] = round(time.perf_counter() - t0, 3)

    # agreement on what each kernel's per-part cut keeps
    keep_w, keep_t = W._part_cut(scores_w, k), W._part_cut(scores_t, k)
    out["topk_agree"] = sorted(docs_w[keep_w].tolist()) == sorted(
        docs_t[keep_t].tolist()
    )

    # where does WAND's time go? (pivot loop vs numpy)
    pr = cProfile.Profile()
    pr.enable()
    W._kernel_wand(terms, "bm25", n_docs, avgdl, k)
    pr.disable()
    s = io.StringIO()
    st = pstats.Stats(pr, stream=s).sort_stats("cumulative")
    st.print_stats(12)
    out["profile_top"] = [
        line.strip() for line in s.getvalue().splitlines() if line.strip()
    ][4:16]
    return out


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    print(json.dumps(main(n), indent=2))
