"""timeRange PARTITION pruning — out-of-range doc-partitions are skipped
before the postings scan/decode (the reference's per-partition
time-intersect short circuit, FullTextCustomQuestion.java:62-67), with
results identical to the unpruned plan.
"""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from miru_spark.filters import parse_query
from miru_spark.index_store import build_persistent, load_index
from miru_spark.operators import fulltext
from miru_spark.operators import wand as wand_ops


@pytest.fixture(scope="module")
def loaded(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("seed") / "idx")
    build_persistent(
        documents, d, text_col="text", dense_id_col="doc_id", capacity=128,
        wave_size=2, merge_partitions=4,
    )
    return load_index(spark, d, documents)


def _rows(df):
    return [(int(r["doc"]), r["score"]) for r in df.collect()]


def test_part_ranges_populated(loaded):
    # 500 docs / capacity 128 → 4 parts, each with an observed key range
    assert loaded.part_ranges and len(loaded.part_ranges) >= 3
    for mn, mx in loaded.part_ranges.values():
        assert mn <= mx


def test_parts_for_time_range_intersects(loaded):
    all_parts = sorted(loaded.part_ranges)
    assert fulltext.parts_for_time_range(loaded, None) is None
    # a range inside one part's keys → exactly that part
    got = fulltext.parts_for_time_range(loaded, (100, 200))
    assert got and len(got) < len(all_parts)
    # the full key span → every part; a disjoint range → none
    lo = min(mn for mn, _ in loaded.part_ranges.values())
    hi = max(mx for _, mx in loaded.part_ranges.values())
    assert fulltext.parts_for_time_range(loaded, (lo, hi)) == all_parts
    assert fulltext.parts_for_time_range(loaded, (hi + 10, hi + 20)) == []


def test_timerange_prunes_scan_and_matches_unpruned(spark, loaded):
    spec = parse_query("spark OR join", k=50, time_range=(100, 400))
    pruned = fulltext.top_k(loaded, spec)
    # the part predicate reaches the packed parquet scan
    plan = pruned._jdf.queryExecution().toString()
    assert "In(part" in plan or "EqualTo(part" in plan, plan[:3000]
    # results identical with pruning info withheld (mask-only evaluation)
    blind = fulltext.top_k(dataclasses.replace(loaded, part_ranges=None), spec)
    assert _rows(pruned) == _rows(blind) and pruned.count() > 0
    # disjoint range → empty, on both paths
    empty_spec = parse_query("spark", k=10, time_range=(1 << 60, (1 << 60) + 5))
    assert fulltext.top_k(loaded, empty_spec).count() == 0


def test_wand_timerange_pruning_matches_dataframe_path(loaded):
    spec = parse_query("spark OR join", k=50, time_range=(100, 400))
    a = _rows(wand_ops.wand_topk(loaded, spec, kernel="wand"))
    b = _rows(fulltext.top_k(loaded, spec))
    assert a == b and len(a) > 0
    empty_spec = parse_query("spark OR join", k=10, time_range=(1 << 60, (1 << 60) + 5))
    assert wand_ops.wand_topk(loaded, empty_spec, kernel="wand").count() == 0

