"""BM25 top-k query latency percentiles — the metric BASELINE.json names
("BM25 top-k query p95 latency").

Protocol (also embedded in the output JSON so the number is self-described):

* corpus: the synthetic source-code corpus at ``--rows`` (input_hint shape),
  materialized on tmpfs, indexed once (capacity 1024, fused route; the
  persistent sort route with ``--loaded``) — the same build the headline
  bench measures.
* queries: the materialized reference query set
  ``BENCH/queries_code_20k.jsonl`` when rows == 20000 (50 queries: 20
  single-term, 15 AND, 5 OR, 5 AND-NOT, 5 prefix; bm25 + miru_tfidf mix per
  FIXTURES.md §2); for other row counts the same generator re-derives the
  set from the index's term stats (bit-stable per corpus).
* timing: one untimed warmup pass, then ``--passes`` passes over the whole
  set IN QID ORDER, each execution wall-clocked around ``.collect()``.
  Interleaving passes (instead of repeating one query back-to-back) spreads
  host contention across queries rather than biasing a single qid — the
  shared-box discipline every bench in this repo uses.
* reporting: p50/p95/p99 (numpy linear interpolation) per query CLASS over
  all class_size × passes samples, overall, and per-query p50/min. The
  per-class p95 is the headline; per-query minima approximate uncontended
  floors.

Usage: python scripts/p95_bench.py [--rows 20000] [--passes 12]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np

CLASSES = [
    ("single_common", range(0, 10)),
    ("single_rare", range(10, 20)),
    ("and", range(20, 35)),
    ("or", range(35, 40)),
    ("and_not", range(40, 45)),
    ("prefix", range(45, 50)),
]


def _class_of(qid: str) -> str:
    i = int(qid[1:])
    for name, rng in CLASSES:
        if i in rng:
            return name
    return "other"


def _pcts(xs: list[float]) -> dict:
    a = np.asarray(xs, dtype=np.float64) * 1000.0  # ms
    return {
        "n": len(xs),
        "p50_ms": round(float(np.percentile(a, 50)), 2),
        "p95_ms": round(float(np.percentile(a, 95)), 2),
        "p99_ms": round(float(np.percentile(a, 99)), 2),
        "min_ms": round(float(a.min()), 2),
        "max_ms": round(float(a.max()), 2),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=20000)
    ap.add_argument("--passes", type=int, default=12)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--loaded",
        action="store_true",
        help="query a PERSISTED index via load_index (term-pruned parquet "
        "scan — the production path) instead of the in-memory build; the "
        "index is built once on tmpfs and reused across runs",
    )
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_PREALLOC", "1")
    from miru_spark.corpus import corpus_df, materialize_corpus
    from miru_spark.filters import parse_query
    from miru_spark.operators import fulltext
    from miru_spark.operators.build import build_index
    from miru_spark.session import get_spark

    spark = get_spark("p95_bench", master=f"local[{args.cpus}]")
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    corpus_path = os.path.join(base, f"miru_bench_corpus_{args.rows}.parquet")
    if not os.path.exists(corpus_path):
        materialize_corpus(spark, args.rows, corpus_path)
    src = spark.read.parquet(corpus_path)

    # warm build path (JVM codegen / python workers) then the measured index
    warm = build_index(
        corpus_df(spark, 2000), text_col="content",
        natural_key=["repo", "path", "commit"], capacity=1024,
        cache=False, strategy="fused", pack_partitions=96,
    )
    warm.packed.count()
    warm.unpersist()
    t0 = time.perf_counter()
    if args.loaded:
        from miru_spark.index_store import build_persistent, load_index

        idx_dir = os.path.join(base, f"miru_p95_index_{args.rows}")
        if not os.path.exists(os.path.join(idx_dir, "manifest.json")):
            build_persistent(
                src, idx_dir, text_col="content",
                natural_key=["repo", "path", "commit"], capacity=1024,
            )
        idx = load_index(spark, idx_dir)
    else:
        idx = build_index(
            src, text_col="content", natural_key=["repo", "path", "commit"],
            capacity=1024, cache=True, strategy="fused",
        )
        idx.packed.count()
    build_sec = time.perf_counter() - t0

    qfile = os.path.join(REPO, "BENCH", "queries_code_20k.jsonl")
    if args.rows == 20000 and os.path.exists(qfile):
        with open(qfile) as f:
            queries = [json.loads(l) for l in f if l.strip()]
        qsource = "BENCH/queries_code_20k.jsonl (materialized reference set)"
    else:
        from miru_spark.queryset import generate_queries

        term_df = [(r["term"], int(r["df"])) for r in idx.stats.collect()]
        queries = generate_queries(term_df)
        qsource = f"queryset.generate_queries over the {args.rows}-row corpus stats"

    specs = [
        (q["qid"], parse_query(q["query"], k=q["k"], scorer=q["scorer"]))
        for q in queries
    ]

    # untimed warmup pass (caches, codegen, broadcast of query-term stats)
    for _, spec in specs:
        fulltext.top_k(idx, spec).collect()

    samples: dict[str, list[float]] = {qid: [] for qid, _ in specs}
    wall0 = time.perf_counter()
    for _ in range(args.passes):
        for qid, spec in specs:
            t = time.perf_counter()
            fulltext.top_k(idx, spec).collect()
            samples[qid].append(time.perf_counter() - t)
    wall = time.perf_counter() - wall0

    by_class: dict[str, list[float]] = {}
    for qid, xs in samples.items():
        by_class.setdefault(_class_of(qid), []).extend(xs)
    all_samples = [x for xs in samples.values() for x in xs]

    report = {
        "metric": "BM25 top-k query latency percentiles over the reference query set",
        "protocol": (
            f"{args.passes} passes over all {len(specs)} queries in qid order "
            "(interleaved so co-tenant contention spreads across queries), "
            "wall time per execution around .collect(); one untimed warmup "
            "pass first; percentiles = numpy linear interpolation over "
            "class_size x passes samples per class"
        ),
        "corpus_rows": args.rows,
        "index_mode": "loaded-persistent (term-pruned parquet scans)"
        if args.loaded
        else "in-memory build (cached packed relation)",
        "query_source": qsource,
        "cpus": int(args.cpus),
        "build_sec": round(build_sec, 2),
        "passes": args.passes,
        "wall_sec": round(wall, 2),
        "overall": _pcts(all_samples),
        "by_class": {k: _pcts(v) for k, v in sorted(by_class.items())},
        "per_query": {
            qid: {
                "p50_ms": round(float(np.percentile(np.array(xs) * 1e3, 50)), 2),
                "min_ms": round(min(xs) * 1e3, 2),
            }
            for qid, xs in samples.items()
        },
    }
    suffix = "_loaded" if args.loaded else ""
    out = args.out or os.path.join(REPO, "BENCH", f"p95_{args.rows}{suffix}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps({k: report[k] for k in ("overall", "by_class", "wall_sec")}))
    spark.stop()


if __name__ == "__main__":
    main()
