"""Dump `.explain('formatted')` for every query touched in the r7
optimization round, from whichever tree this script runs in.

Usage: python scripts/dump_r7_plans.py <suffix> [out_dir] [sf_dir]
  suffix:  'before' (run from the round-start worktree) or 'after'
  out_dir: default /root/repo/plans/r07
  sf_dir:  default /root/testdata/sf0.1 (plan SHAPE does not depend on SF)

Writes <query>_<suffix>.txt per query. The in-memory index queries build a
fresh index first (untimed); iterative operators (dup_clusters' component
loop) have no single plan — their pair-pipeline plan is dumped and the loop
structure is described in OPTIMIZATION_r07.md instead.
"""

from __future__ import annotations

import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    suffix = sys.argv[1]
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/plans/r07"
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from miru_spark.filters import parse_query
    from miru_spark.operators import dedup, fulltext, models, similarity, textstats
    from miru_spark.operators.build import build_index
    from miru_spark.session import get_spark

    spark = get_spark(f"dump_r7_{suffix}", master="local[8]", shuffle_partitions=32)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")

    idx = build_index(docs, text_col="text", dense_id_col="doc_id", capacity=1024)
    fulltext.top_k(idx, "the", k=10).collect()  # warm the stats memo
    fulltext.top_k(idx, "spark join merge", k=100).collect()
    fulltext.top_k(idx, parse_query("spark AND (join OR merge) NOT window", k=100)).collect()

    feats = {"user": F.col("user_id"), "day": F.to_date(F.col("ts"))}
    queries = {
        "q_bm25_single": lambda: fulltext.top_k(idx, "spark", k=100),
        "q_bm25_and3": lambda: fulltext.top_k(idx, "spark join merge", k=100),
        "q_nested_bool": lambda: fulltext.top_k(
            idx, parse_query("spark AND (join OR merge) NOT window", k=100)),
        "q_langid": lambda: textstats.langid_lite(docs, "doc_id", "text"),
        "q_neardup_pairs": lambda: similarity.cosine_pairs(
            emb, "vec_id", "embedding", threshold=0.45),
        "q_lsh_pairs": lambda: similarity.lsh_cosine_pairs(
            emb, "vec_id", "embedding", threshold=0.45, n_planes=8, n_tables=8),
        "q_minhash_dedup": lambda: dedup.minhash_dedup_pairs(
            docs, "doc_id", "text", n=3, threshold=0.85),
        "q_cosine_topk": lambda: similarity.cosine_topk(
            emb, "vec_id", "embedding",
            [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]],
            50),
        "q_strut": lambda: models.strut_score(
            events, "event_id", feats,
            models.catwalk_model(events, F.col("event_type") == "error", feats),
            "unit_weighted", 100),
    }
    for name, fn in queries.items():
        plan = formatted(fn())
        plan = re.sub(r"\[codegen id : \d+\]", "", plan)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    idx.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
