"""Pack correctness and hot-term skew on the sort route (FIXTURES.md §5) +
physical-plan quality gates: filters must reach the parquet scan, small
sides must broadcast."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from miru_spark import codec
from miru_spark.operators import build as B


def _packed_rows(packed_df):
    return sorted(
        (
            r["part"], r["term"], r["df_part"], r["cum_tf_part"],
            bytes(r["ids"]), bytes(r["tfs"]), bytes(r["dls"]), bytes(r["keys"]),
            list(r["block_last"]), list(r["block_max_tf"]), r["first_id"],
        )
        for r in packed_df.collect()
    )


def _reference_packed(flat_pdf):
    """PACKED_SCHEMA rows from the scalar codec, one sorted (part, term)
    group at a time — no Spark, no vectorized pack."""
    rows = []
    ordered = flat_pdf.sort_values(["part", "term", "doc_id"])
    for (part, term), g in ordered.groupby(["part", "term"], sort=False):
        ids = g["doc_id"].to_numpy(np.int64)
        tfs = g["tf"].to_numpy(np.int64)
        block_last, block_max_tf = codec.block_metadata(ids, tfs)
        rows.append((
            int(part), term, len(ids), int(tfs.sum()),
            codec.delta_pack(ids), codec.tf_pack(tfs),
            codec.tf_pack(g["dl"].to_numpy(np.int64)),
            codec.delta_pack(g["doc_key"].to_numpy(np.int64)),
            block_last.tolist(), block_max_tf.tolist(), int(ids[0]),
        ))
    return sorted(rows)


@pytest.mark.parametrize("num_partitions", [1, 5])
def test_sort_pack_byte_identical_to_reference(spark, documents, num_partitions):
    """The streaming sort-based pack (run detection + carry across Arrow
    batches) must equal a per-list scalar packer byte for byte, block
    metadata included. capacity 256 → two parts, and lists long enough to
    span more than one block."""
    docs = B.prepare_docs(documents, "text", dense_id_col="doc_id", capacity=256)
    flat = B.flat_postings(docs, "text").cache()
    try:
        want = _reference_packed(flat.toPandas())
        assert max(r[2] for r in want) > codec.BLOCK_SIZE
        got = _packed_rows(B.packed_from_flat(flat, num_partitions=num_partitions))
        assert got == want
    finally:
        flat.unpersist()


def test_salting_changes_plan(spark, documents):
    """The sort route needs no salting stage: its pack plan has no salt
    column and no collect_list aggregate, and its one exchange hashes
    (part, term), so a hot term is already cut into per-part lists."""
    docs = B.prepare_docs(documents, "text", dense_id_col="doc_id", capacity=128)
    flat = B.flat_postings(docs, "text")
    packed = B.packed_from_flat(flat, num_partitions=5)
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "salt" not in plan, plan
    assert "collect_list" not in plan and "ObjectHashAggregate" not in plan, plan
    assert re.search(r"hashpartitioning\(part#\d+, term#\d+, 5", plan), plan


def test_hot_term_spreads_across_salt_buckets(spark, documents):
    """On the sort route the parts play the salt buckets' role: the
    highest-df term splits into ≥4 per-part lists (FIXTURES.md §5), which
    leave several pack tasks, and no list (hence no reducer's share of it)
    exceeds capacity."""
    capacity = 128
    docs = B.prepare_docs(documents, "text", dense_id_col="doc_id", capacity=capacity)
    flat = B.flat_postings(docs, "text").cache()
    try:
        packed = B.packed_from_flat(flat, num_partitions=5)
        hot = (
            flat.groupBy("term").count()
            .orderBy(F.desc("count"), "term").first()["term"]
        )
        rows = (
            packed.withColumn("task", F.spark_partition_id())
            .filter(F.col("term") == hot)
            .select("task", "df_part").collect()
        )
        assert len(rows) >= 4, rows
        assert len({r["task"] for r in rows}) >= 2, rows
        assert max(r["df_part"] for r in rows) <= capacity
    finally:
        flat.unpersist()


def test_term_filter_pushed_to_parquet_scan(spark, documents, tmp_path):
    """The query path's `term IN (...)` must reach the postings parquet scan
    (PushedFilters) — at 100 TB this is the difference between reading a few
    row groups and reading the index."""
    from miru_spark.index_store import build_persistent, load_index

    index_dir = str(tmp_path / "idx")
    build_persistent(
        documents, index_dir, text_col="text", dense_id_col="doc_id",
        capacity=128, wave_size=8, merge_partitions=4,
    )
    idx = load_index(spark, index_dir, documents)
    plan = (
        idx.packed.filter(F.col("term").isin(["spark", "join"]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "In(term" in plan, plan


def test_scorer_broadcasts_small_sides(doc_index):
    from miru_spark.filters import parse_query
    from miru_spark.operators.fulltext import score_candidates

    scored = score_candidates(doc_index, parse_query("spark AND join", k=10))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan  # the query-term relation broadcasts


def test_gather_broadcasts_winners_side(doc_index):
    """The post-LIMIT winners→docs gather must broadcast the ≤k winners as
    the BUILD side of every join — on a 100 TB docs table a shuffle join
    here would move the whole table to fetch k rows. Auto-broadcast is
    disabled for the assertion so a tiny fixture docs side can't mask a
    SortMergeJoin (the old right-outer hint was silently ignored: Spark
    cannot broadcast the preserved side of an outer join)."""
    from miru_spark.operators import fulltext

    spark = doc_index.docs.sparkSession
    winners = fulltext.top_k(doc_index, "spark AND join", k=20)
    gathered = fulltext.gather(doc_index, winners, ["lang", "source"])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = gathered._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        # every winner survives even without a matching doc row
        assert gathered.count() == winners.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_gather_preserves_winner_whose_doc_row_vanished(doc_index):
    # simulate a source row lost after indexing: a winner doc_key absent
    # from docs must still come back, with null gather fields
    from pyspark.sql import functions as F

    from miru_spark.operators import fulltext

    winners = fulltext.top_k(doc_index, "spark AND join", k=5)
    top = winners.collect()
    lost_key = top[0]["doc"]
    pruned = doc_index.docs.filter(F.col("doc_key") != int(lost_key))
    import copy

    idx2 = copy.copy(doc_index)
    idx2.docs = pruned
    gathered = fulltext.gather(idx2, winners, ["lang", "source"]).collect()
    assert len(gathered) == len(top)
    by_doc = {r["doc"]: r for r in gathered}
    assert by_doc[lost_key]["lang"] is None and by_doc[lost_key]["source"] is None
    others = [r for r in gathered if r["doc"] != lost_key]
    assert all(r["lang"] is not None for r in others)


def test_score_path_is_self_contained(doc_index):
    """Postings carry tf+dl+doc_key per row (FORMAT_VERSION 4): the scoring
    plan's ONLY join is the broadcast query-term relation — any shuffle
    join here would be the O(corpus) doclens relation creeping back in."""
    from miru_spark.filters import parse_query
    from miru_spark.operators.fulltext import score_candidates

    scored = score_candidates(doc_index, parse_query("spark AND join", k=10))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan


def test_wand_without_removal_skips_cogroup(doc_index):
    """No removal index -> the kernel plan is ONE Arrow map over the
    term-pruned postings (no cogroup, no pandas grouped map, no union with
    removal marker rows)."""
    from miru_spark.operators import wand as wand_ops

    assert doc_index.removed is None
    out = wand_ops.wand_topk(doc_index, "spark OR join", k=10, kernel="taat")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # (the cached build's own Arrow maps show in the in-memory relation)
    assert plan.count("MapInArrow score_parts") == 1, plan
    assert "Pandas" not in plan and "Union" not in plan, plan
