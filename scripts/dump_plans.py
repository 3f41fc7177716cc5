"""Dump the physical plans of the headline queries to BENCH/PLANS.md.

The 100 TB argument should be READABLE, not asserted in prose: this script
materializes `.explain("formatted")` for each headline operator over a
PERSISTED index (the production path — term-pruned parquet scans) plus the
in-memory flagship, and annotates the scale-critical properties the plan
tests pin (tests/test_salting_plans.py): pushed term filters, broadcast
joins only, no shuffle of corpus-sized relations on any query path.

Usage: python scripts/dump_plans.py [sf_dir] [out_md]
Defaults: /root/testdata/sf0.1, BENCH/PLANS.md.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_md = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "BENCH", "PLANS.md")

    from miru_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark("dump_plans", master=f"local[{nproc}]", shuffle_partitions=nproc)
    idx_dir = tempfile.mkdtemp(prefix="miru_plans_idx_")
    try:
        write_plans(spark, sf_dir, out_md, idx_dir)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        spark.stop()


def write_plans(spark, sf_dir: str, out_md: str, idx_dir: str) -> None:
    from pyspark.sql import functions as F

    from miru_spark.filters import parse_query
    from miru_spark.index_store import build_persistent, load_index
    from miru_spark.operators import fulltext, wand

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    build_persistent(
        docs, idx_dir, text_col="text", dense_id_col="doc_id",
        capacity=1024, wave_size=8, merge_partitions=8,
    )
    # dense-id scheme: doc_key == the dense id (prepare_docs does this at
    # build time; load_index keeps `docs` verbatim, so attach it here)
    idx = load_index(
        spark, idx_dir, docs.withColumn("doc_key", F.col("doc_id").cast("long"))
    )

    # past the bound: the decode budget lowered below the queries' Σdf, so
    # the per-part kernel runs in Spark instead of on the driver
    budget = wand._DECODE_POSTINGS_PER_TASK
    wand._DECODE_POSTINGS_PER_TASK = 4096
    try:
        and_past = fulltext.top_k(idx, "spark AND join", k=100)
        or_past = wand.wand_topk(idx, "spark OR vector OR dup", k=100)
    finally:
        wand._DECODE_POSTINGS_PER_TASK = budget

    sections: list[tuple[str, str, object]] = [
        (
            "BM25 AND, bounded (top_k on a loaded index: the per-part kernel on the driver)",
            "The query's Σdf fits wand._DECODE_POSTINGS_PER_TASK (262,144 "
            "postings), so wand.packed_topk reads the handle's packed files "
            "with pyarrow on the calling thread (row groups pruned by their "
            "footer term ranges), runs the per-part kernel (decode, "
            "rarest-first intersection, exact scores, per-part cut, HALF_UP "
            "round) and returns the ordered top-k as ONE LocalTableScan: "
            "collecting it runs no Spark job.",
            fulltext.top_k(idx, "spark AND join", k=100),
        ),
        (
            "BM25 AND, past the bound (the per-part kernel in Spark)",
            "Generated with the budget lowered to 4,096 postings, below the "
            "query's Σdf. `term IN (...)` reaches the parquet scan "
            "(PushedFilters); the rows are hashed by part into "
            "ceil(Σdf / budget) tasks, ONE mapInArrow runs the same kernel, "
            "and the JVM only orders and limits (TakeOrdered); no join, no "
            "aggregate, no block metadata read.",
            and_past,
        ),
        (
            "Nested boolean tree (single-scan evaluator)",
            "All leaf terms resolved into ONE union scan; per-leaf flags + "
            "score fold in a single aggregation — one shuffle for the whole "
            "tree.",
            fulltext.top_k(idx, parse_query("spark AND (join OR merge) NOT window", k=100)),
        ),
        (
            "Packed top-k kernel (wand_topk over packed postings, past the bound)",
            "Budget lowered as above. Term-pruned scan of packed rows "
            "(self-contained: tf+dl+doc_key per posting, no block metadata "
            "read) -> ONE mapInArrow kernel (decode, mask, dense-accumulator "
            "OR, per-part cut, round) -> TakeOrdered; no join, no aggregate, "
            "no doclens relation.",
            or_past,
        ),
        (
            "Gather (winners -> stored fields)",
            "The <=k winners are the broadcast BUILD side of an inner join "
            "against docs; vanished winners re-attach via a <=k-row anti "
            "join. No SortMergeJoin at any size (asserted with "
            "autoBroadcastJoinThreshold=-1).",
            fulltext.gather(
                idx, fulltext.top_k(idx, "spark AND join", k=20), ["lang", "source"]
            ),
        ),
        (
            "First/latest occurrence (zero-decode metadata path)",
            "Reads packed METADATA only (first_id + block_last tail); no "
            "posting decode, no Python in the plan until the 2 endpoint "
            "rows per (part, term).",
            fulltext.index_first_latest(idx),
        ),
    ]

    lines = [
        "# Physical plans of the headline queries (generated by scripts/dump_plans.py)",
        "",
        f"Persisted index over `{sf_dir}/documents.parquet`; plans are",
        "`.explain('formatted')` output. The properties named in each",
        "section are pinned by tests/test_salting_plans.py — this file just",
        "makes them readable.",
        "",
    ]
    for title, why, df in sections:
        plan = formatted(df)
        # keep plans reviewable: strip codegen ids and truncate huge IN lists
        plan = re.sub(r"\[codegen id : \d+\]", "", plan)
        lines += [f"## {title}", "", why, "", "```", plan.rstrip(), "```", ""]
    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_md} ({len(sections)} plans)")


if __name__ == "__main__":
    main()
