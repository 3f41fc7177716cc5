"""Extra benchmarks for the optimization rounds (bench.py is FROZEN for
measurement; this file holds the guide-§1.4 instrumentation: per-item
isolation through the noop sink, repeat timing of single items, and plan
dumps). Usage:

    python bench_extra.py [item ...]            # time the named items
    python bench_extra.py --all                 # time every item
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q_neardup_pairs

Items mirror bench.py's suite one-for-one (same operator calls, same
arguments) so a bench_extra number is directly comparable to the frozen
bench's per-item number; the only difference is that each item here is run
in isolation with ``collect()`` exactly as bench.py does (the suite's items
all end in .collect()), plus optional noop-sink variants for the scan-heavy
ones.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def main() -> None:
    from miru_spark.session import get_spark
    from miru_spark.filters import parse_query
    from miru_spark.operators import analytics, dedup, fulltext, models, similarity, textstats
    from miru_spark.operators import wand as wand_ops
    from miru_spark.operators.build import build_index
    from pyspark.sql import functions as F

    os.environ.setdefault("SPARK_GRAFT_PREALLOC", "1")
    spark = get_spark("miru_spark_bench_extra", master=f"local[{CPUS}]")
    sc = spark.sparkContext

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    items: dict[str, object] = {}

    def build_docs():
        idx = build_index(docs, text_col="text", dense_id_col="doc_id", capacity=1024)
        idx.packed.count()
        idx.flat.count()
        idx.unpersist()

    items["build_documents"] = build_docs

    # queries need a live index: build once (untimed) like bench.py does
    idx = None

    def _idx():
        nonlocal idx
        if idx is None:
            idx = build_index(docs, text_col="text", dense_id_col="doc_id", capacity=1024)
            fulltext.top_k(idx, "the", k=10).collect()  # warm
        return idx

    items["q_bm25_single"] = lambda: fulltext.top_k(_idx(), "spark", k=100).collect()
    items["q_bm25_and3"] = lambda: fulltext.top_k(_idx(), "spark join merge", k=100).collect()
    items["q_bm25_or"] = lambda: fulltext.top_k(_idx(), "spark OR vector OR dup", k=100).collect()
    items["q_bm25_prefix"] = lambda: fulltext.top_k(_idx(), "s*", k=100).collect()
    items["q_tfidf"] = lambda: fulltext.top_k(
        _idx(), parse_query("spark OR join", k=100, scorer="miru_tfidf")).collect()
    items["q_nested_bool"] = lambda: fulltext.top_k(
        _idx(), parse_query("spark AND (join OR merge) NOT window", k=100)).collect()
    items["q_wand_or"] = lambda: wand_ops.wand_topk(
        _idx(), "spark OR vector OR dup", k=100).collect()

    items["q_waveform"] = lambda: analytics.waveform(events, "ts", "event_type", "hour").collect()
    items["q_trending"] = lambda: analytics.trending_peaks(
        events, "ts", "event_type", "day", delta=5.0).collect()
    items["q_strut"] = lambda: models.strut_score(
        events, "event_id",
        {"user": F.col("user_id"), "day": F.to_date(F.col("ts"))},
        models.catwalk_model(
            events, F.col("event_type") == "error",
            {"user": F.col("user_id"), "day": F.to_date(F.col("ts"))},
        ),
        "unit_weighted", 100).collect()

    items["q_minhash_dedup"] = lambda: dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", n=3, threshold=0.85).collect()
    items["q_dedup_clusters"] = lambda: dedup.dup_clusters(
        docs, "doc_id", "text", n=3, threshold=0.85).collect()
    items["q_langid"] = lambda: textstats.langid_lite(docs, "doc_id", "text").collect()

    def _qv():
        return [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]

    items["q_cosine_topk"] = lambda: similarity.cosine_topk(emb, "vec_id", "embedding", _qv(), 50).collect()
    items["q_lsh_pairs"] = lambda: similarity.lsh_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.45, n_planes=8, n_tables=8).collect()
    items["q_neardup_pairs"] = lambda: similarity.cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.45).collect()

    names = sys.argv[1:]
    if not names or names == ["--all"]:
        names = list(items)
    out: dict[str, dict] = {}
    for name in names:
        fn = items[name]
        samples = []
        for i in range(REPEATS):
            sc.setJobDescription(f"bench_extra:{name}#{i}")
            t0 = time.perf_counter()
            fn()
            samples.append(round(time.perf_counter() - t0, 3))
        sc.setJobDescription(None)
        out[name] = {"best": min(samples), "samples": samples}
        print(f"{name}: best={min(samples)} samples={samples}", file=sys.stderr)
    print(json.dumps({"sf_dir": SF_DIR, "cpus": int(CPUS), "items": out}))
    spark.stop()


if __name__ == "__main__":
    main()
