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

    sections: list[tuple[str, str, object]] = [
        (
            "BM25 AND (top_k on a loaded index: the packed top-k kernel)",
            "`term IN (...)` reaches the parquet scan (PushedFilters); a "
            "loaded index's flat top_k runs wand.packed_topk -> ONE "
            "mapInArrow kernel (decode, rarest-first intersection, exact "
            "scores, per-part cut) -> JVM round + TakeOrdered; no join, no "
            "aggregate, no exchange.",
            fulltext.top_k(idx, "spark AND join", k=100),
        ),
        (
            "Nested boolean tree (single-scan evaluator)",
            "All leaf terms resolved into ONE union scan; per-leaf flags + "
            "score fold in a single aggregation — one shuffle for the whole "
            "tree.",
            fulltext.top_k(idx, parse_query("spark AND (join OR merge) NOT window", k=100)),
        ),
        (
            "Packed top-k kernel (wand_topk over packed postings)",
            "Term-pruned scan of packed rows (self-contained: tf+dl+doc_key "
            "per posting, no block metadata read) -> ONE mapInArrow kernel "
            "(decode, mask, dense-accumulator OR, per-part cut) -> JVM round "
            "+ TakeOrdered; no join, no aggregate, no doclens relation.",
            wand.wand_topk(idx, "spark OR vector OR dup", k=100),
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
