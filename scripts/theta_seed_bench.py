"""Measure the cross-partition θ-seed's effect on block-max WAND (VERDICT
r5 ask #2: identical results + measured wall change, recorded in BENCH).

Two measurement points, each interleaved A/B (seeded leg = pre-pass FORCED
on via cutoff 0; unseeded leg = cutoff above any query), best-of per leg,
result identity asserted row-for-row every round:

* the sf1.0 documents fixture (50k docs) — posting volume far BELOW the
  production cutoff (SPARK_GRAFT_WAND_SEED_MIN = 1M): quantifies the
  pre-pass overhead the cutoff exists to avoid.
* the 500k-row synthetic code corpus with a hot-term OR (the skew fixture's
  injected terms appear in a large fraction of rows) — posting volume ABOVE
  the cutoff, where the pre-pass fires in production: quantifies the
  pruning benefit of starting every partition at a live θ₀.

Writes BENCH/theta_seed_sf1.0.json. Requires /dev/shm/miru_gen_sf1.0
(scripts/scale_gate.py) and materializes the 500k corpus if missing.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/dev/shm/miru_gen_sf1.0"
ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 3


def bench_queries(wand_ops, idx, queries: dict[str, str], rounds: int) -> dict:
    default_min = wand_ops._SEED_MIN_POSTINGS

    def run(q: str, seeded: bool):
        wand_ops._SEED_MIN_POSTINGS = 0 if seeded else 1 << 60
        try:
            t = time.perf_counter()
            rows = wand_ops.wand_topk(idx, q, k=100, kernel="wand").collect()
            dt = time.perf_counter() - t
        finally:
            wand_ops._SEED_MIN_POSTINGS = default_min
        return dt, wand_ops._LAST_THETA0, [(r["doc"], r["score"]) for r in rows]

    for q in queries.values():  # warmup both paths
        run(q, True)
        run(q, False)

    out: dict[str, dict] = {}
    for name, q in queries.items():
        best = {"on": float("inf"), "off": float("inf")}
        samples = {"on": [], "off": []}
        theta_on = rows_on = None
        for _ in range(rounds):
            for leg, seeded in (("on", True), ("off", False)):
                dt, theta0, rows = run(q, seeded)
                samples[leg].append(round(dt, 3))
                best[leg] = min(best[leg], dt)
                if leg == "on":
                    theta_on, rows_on = theta0, rows
                else:
                    assert rows == rows_on, f"{name}: seeded != unseeded results"
        out[name] = {
            "query": q,
            "seeded_best_sec": round(best["on"], 3),
            "unseeded_best_sec": round(best["off"], 3),
            "speedup_off_over_on": round(best["off"] / best["on"], 3),
            "theta0": None if theta_on == float("-inf") else round(theta_on, 6),
            "samples_sec": samples,
            "results_identical": True,
        }
        print(json.dumps({name: out[name]}), file=sys.stderr)
    return out


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_PREALLOC", "1")
    from miru_spark.corpus import materialize_corpus
    from miru_spark.operators import wand as wand_ops
    from miru_spark.operators.build import build_index
    from miru_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("theta_seed_bench", master="local[32]")

    # --- point 1: sf1.0 documents (below the production cutoff) ---
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx_small = build_index(
        docs, text_col="text", dense_id_col="doc_id", capacity=4096,
        cache=True,
    )
    idx_small.packed.count()
    small = bench_queries(
        wand_ops, idx_small,
        {"or_wand": "spark OR vector OR dup",
         "ornot_wand": "(merge OR join) NOT window"},
        ROUNDS,
    )
    idx_small.unpersist()

    # --- point 2: 500k code corpus, hot-term OR (above the cutoff) ---
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    cpath = os.path.join(base, "miru_bench_corpus_500000.parquet")
    if not os.path.exists(cpath):
        materialize_corpus(spark, 500_000, cpath)
    src = spark.read.parquet(cpath)
    idx_big = build_index(
        src, text_col="content", natural_key=["repo", "path", "commit"],
        capacity=1024, cache=True, strategy="fused",
    )
    idx_big.packed.count()
    hot = [
        r["term"]
        for r in idx_big.stats.orderBy(F.desc("df")).limit(3).collect()
    ]
    total_df = sum(
        r["df"] for r in idx_big.stats.filter(F.col("term").isin(hot)).collect()
    )
    big = bench_queries(
        wand_ops, idx_big, {"hot_or_wand": " OR ".join(hot)}, ROUNDS
    )
    big["hot_or_wand"]["terms"] = hot
    big["hot_or_wand"]["total_df"] = int(total_df)
    big["hot_or_wand"]["fires_at_default_cutoff"] = bool(
        total_df >= int(os.environ.get("SPARK_GRAFT_WAND_SEED_MIN", "1000000"))
    )

    report = {
        "metric": "block-max WAND wall with vs without the cross-partition θ-seed pre-pass",
        "protocol": (
            f"interleaved A/B, {ROUNDS} rounds, best-of per leg; seeded leg "
            "forces the pre-pass (cutoff 0), unseeded disables it; identity "
            "asserted row-for-row every round; kernel pinned 'wand', k=100"
        ),
        "seed_min_postings_default": wand_ops._SEED_MIN_POSTINGS,
        "sf1_0_below_cutoff": small,
        "corpus_500k_above_cutoff": big,
    }
    path = os.path.join(REPO, "BENCH", "theta_seed_sf1.0.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
