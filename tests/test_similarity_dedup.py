"""Recall/robustness gates for the approximate operators that the driver
checks rows-only (no SQL oracle): hyperplane-LSH cosine pairs, SimHash
pairs, and the short-document edge cases of the shingle pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from miru_spark.operators import dedup, similarity

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_lsh_pairs_nonempty_and_full_recall(spark, emb):
    # threshold 0.45 is calibrated to the fixture (14 true pairs at sf0.01);
    # with 4 planes × 24 tables the per-pair miss probability at cosine 0.45
    # is (1 - p^4)^24 with p = 1 - θ/π ≈ 0.702 → ~8e-3 at the threshold edge
    # and far lower for the actual pairs
    exact = similarity.cosine_pairs(emb, "vec_id", "embedding", threshold=0.45).toPandas()
    lsh = similarity.lsh_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.45, n_planes=4, n_tables=24
    ).toPandas()
    truth = set(zip(exact["vec_a"], exact["vec_b"]))
    got = set(zip(lsh["vec_a"], lsh["vec_b"]))
    assert len(truth) > 0, "vacuous gate: fixture has no pairs at this threshold"
    assert got <= truth  # exact verification ⇒ perfect precision
    assert len(got & truth) / len(truth) >= 0.9


def test_shingles_short_docs_no_crash(spark):
    # regression: docs with < n tokens used to crash F.slice with a
    # descending F.sequence; they must simply produce no shingles
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y"), (3, ""), (4, "one"), (5, "a b c")],
        "doc_id long, text string",
    )
    sh = dedup.shingles(df, "doc_id", "text", n=3).toPandas()
    assert set(sh["doc"]) == {1, 5}
    pairs = dedup.jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.1).toPandas()
    assert {(a, b) for a, b in zip(pairs["doc_a"], pairs["doc_b"])} == {(1, 5)}


def test_lsh_pairs_empty_and_single_row_inputs(spark):
    # with the fused path the default, degenerate inputs must return empty
    # cleanly (an explicit dim skips the empty-input dim probe, so the
    # n_rows >= 2 gate is what routes them away from the matrix broadcast)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.lsh_cosine_pairs(
        empty, "vec_id", "embedding", threshold=0.5, dim=8).count() == 0
    one = spark.createDataFrame([(1, [1.0] * 8)], "vec_id long, embedding array<float>")
    assert similarity.lsh_cosine_pairs(
        one, "vec_id", "embedding", threshold=0.5, dim=8).count() == 0


def test_cosine_scores_null_and_mismatched_dim_rows(spark):
    # the Arrow fold kernel must keep the Catalyst fold's null propagation:
    # null vectors AND vectors whose length differs from the query dim
    # score null instead of crashing the kernel's reshape
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0]), (4, [0.0, 1.0]), (5, [])],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec"]: r["cosine"] for r in
           similarity.cosine_scores(df, "vec_id", "embedding", [1.0, 0.0]).collect()}
    assert got[1] == 1.0 and got[4] == 0.0
    assert got[2] is None and got[3] is None and got[5] is None


def test_cosine_scores_rounds_a_seventh_decimal_tie_half_up(spark):
    # found by search over (k/128, sqrt(1-(k/128)^2)) against (1, 0): the
    # fold yields exactly 0.6015625, a 7th-decimal tie. The DuckDB oracle's
    # round and Spark's F.round give 0.601563; np.round (scale, then
    # half-even) gives 0.601562.
    df = spark.createDataFrame(
        [(1, [0.6015625, 0.7988257373130575])], "vec_id long, embedding array<double>"
    )
    got = similarity.cosine_scores(df, "vec_id", "embedding", [1.0, 0.0]).collect()
    assert got[0]["cosine"] == 0.601563
    top = similarity.cosine_topk(df, "vec_id", "embedding", [1.0, 0.0], k=1).collect()
    assert top[0]["cosine"] == 0.601563


def test_lsh_cosine_pairs_rounds_a_seventh_decimal_tie_half_up(spark):
    # the pair above, at a threshold equal to its HALF_UP-rounded cosine:
    # both verify kernels (fused and join) must keep it, with the oracle's
    # 0.601563, where np.round's 0.601562 fell below the threshold
    df = spark.createDataFrame(
        [(1, [0.6015625, 0.7988257373130575]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    for budget in (256 << 20, 0):  # fused verify, then the join path
        got = similarity.lsh_cosine_pairs(
            df, "vec_id", "embedding", 0.601563, n_planes=1,
            broadcast_verify_bytes=budget,
        ).collect()
        assert [(r["vec_a"], r["vec_b"], r["cosine"]) for r in got] == [(1, 2, 0.601563)]
        assert not similarity.lsh_cosine_pairs(
            df, "vec_id", "embedding", 0.6015631, n_planes=1,
            broadcast_verify_bytes=budget,
        ).collect()


def test_minhash_signatures_doc_grouped_guard_raises_on_split_runs(spark):
    # doc_grouped promises one contiguous run per doc; a split run must
    # fail loudly, not emit two partial signatures
    import pytest

    sh_bad = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (1, "cc")], "doc long, shingle string"
    ).coalesce(1)
    with pytest.raises(Exception, match="not doc-grouped"):
        dedup.minhash_signatures(sh_bad, doc_grouped=True).collect()
    # the sorting default merges the same input correctly
    assert sorted(r["doc"] for r in
                  dedup.minhash_signatures(sh_bad, doc_grouped=False).collect()) == [1, 2]


def test_minhash_signatures_doc_grouped_matches_sorted_path(spark, documents):
    # the exchange-free doc_grouped path (valid for shingles() output, whose
    # kernel emits each doc's rows as one contiguous run) must produce the
    # exact signatures of the repartition+sort path
    sh = dedup.shingles(documents, "doc_id", "text", n=3).cache()
    sorted_sig = dedup.minhash_signatures(sh, doc_grouped=False).collect()
    grouped_sig = dedup.minhash_signatures(sh, doc_grouped=True).collect()
    key = lambda rows: sorted((r["doc"], tuple(r["sig"])) for r in rows)
    assert key(sorted_sig) == key(grouped_sig)
    assert len(sorted_sig) > 0
    sh.unpersist()


def test_simhash_pairs_cover_exact_dups(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different content about spark dataframes and joins"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_pairs(df, "doc_id", "text", max_hamming=3).toPandas()
    assert (1, 2) in set(zip(pairs["doc_a"], pairs["doc_b"]))


def test_lsh_fused_verify_path_matches_join_path(spark, emb):
    # the partition-kernel (broadcast-matrix) verify path and the join path
    # must be bit-equal; a zero broadcast budget forces the join path
    kw = dict(threshold=0.45, n_planes=4, n_tables=24)
    fused = similarity.lsh_cosine_pairs(emb, "vec_id", "embedding", **kw).toPandas()
    joined = similarity.lsh_cosine_pairs(
        emb, "vec_id", "embedding", broadcast_verify_bytes=0, **kw
    ).toPandas()
    key = lambda df: sorted(map(tuple, df.itertuples(index=False)))
    assert key(fused) == key(joined)
    assert len(fused) > 0


def test_lsh_fused_verify_budgets_both_broadcast_matrices(spark, emb, monkeypatch):
    # the fused path broadcasts the row-major AND the row-normalized matrix
    # (2·n·dim·8 bytes): a budget that fits only one of them must take the
    # join path, with the fused path's answer
    n = emb.count()
    dim = emb.select(F.size("embedding")).first()[0]
    kw = dict(threshold=0.45, n_planes=4, n_tables=24)
    fused = similarity.lsh_cosine_pairs(emb, "vec_id", "embedding", **kw).toPandas()
    calls = []
    real = similarity._broadcast_matrix

    def recording(*a):
        calls.append(a)
        return real(*a)

    monkeypatch.setattr(similarity, "_broadcast_matrix", recording)
    joined = similarity.lsh_cosine_pairs(
        emb, "vec_id", "embedding", broadcast_verify_bytes=n * dim * 12, **kw
    ).toPandas()
    assert not calls, "budget below 2·n·dim·8 still broadcast the matrices"
    key = lambda df: sorted(map(tuple, df.itertuples(index=False)))
    assert key(joined) == key(fused)
    assert len(fused) > 0


def test_pair_operators_reject_ragged_and_null_vectors(spark):
    # 2+3+1+2 = 8 floats over 4 rows: divisible by n, so reshape(n, -1)
    # would silently build a wrong 4×2 matrix
    ragged = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [1.0]), (4, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    nulls = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    for df, msg in ((ragged, "length"), (nulls, "null vector")):
        with pytest.raises(ValueError, match=msg):
            similarity.cosine_pairs(df, "vec_id", "embedding", threshold=0.5)
        with pytest.raises(ValueError, match=msg):
            similarity.lsh_cosine_pairs(df, "vec_id", "embedding", threshold=0.5, dim=2)


def test_cosine_pairs_refuses_corpus_scale(spark, emb):
    # the all-pairs broadcast is the declared ORACLE path — the scale
    # contract is enforced, not just documented
    with pytest.raises(ValueError, match="lsh_cosine_pairs"):
        similarity.cosine_pairs(emb, "vec_id", "embedding", threshold=0.45, max_rows=10)


def test_similarity_rejects_non_integral_ids(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "sid string, embedding array<float>"
    )
    for fn in (
        lambda: similarity.cosine_pairs(df, "sid", "embedding", threshold=0.5),
        lambda: similarity.lsh_cosine_pairs(df, "sid", "embedding", threshold=0.5),
        lambda: similarity.ivf_cosine_topk(df, "sid", "embedding", [1.0, 0.0]),
    ):
        with pytest.raises(TypeError, match="integral"):
            fn()


def test_cosine_pairs_derives_dim(spark):
    # 8-dim vectors with no dim argument: the kernel must reshape correctly
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(4)]
    rows.append((9, [1.0] + [0.0] * 7))  # duplicate direction of vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = similarity.cosine_pairs(df, "vec_id", "embedding", threshold=0.9).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in got} == {(0, 9)}


def test_ivf_full_probe_bit_identical_to_exact(spark, emb):
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    exact = similarity.cosine_topk(emb, "vec_id", "embedding", qv, k=50).toPandas()
    full = similarity.ivf_cosine_topk(
        emb, "vec_id", "embedding", qv, k=50, n_centroids=16, nprobe=16
    ).toPandas()
    # nprobe == n_centroids degrades to exact — same ids, same rounded scores
    assert list(full["vec"]) == list(exact["vec"])
    assert list(full["cosine"]) == list(exact["cosine"])


def test_ivf_topk_recall_and_full_probe(spark, emb):
    exact = similarity.cosine_topk(
        emb, "vec_id", "embedding",
        [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]],
        k=50,
    ).toPandas()
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    truth = set(exact["vec"])
    # full probe (nprobe == n_centroids) scans everything → recall ≈ 1
    full = similarity.ivf_cosine_topk(
        emb, "vec_id", "embedding", qv, k=50, n_centroids=16, nprobe=16
    ).toPandas()
    assert len(set(full["vec"]) & truth) / len(truth) >= 0.95
    # nprobe=4 scans ~1/4 of the corpus and must keep useful recall
    part = similarity.ivf_cosine_topk(
        emb, "vec_id", "embedding", qv, k=50, n_centroids=16, nprobe=4
    ).toPandas()
    assert len(part) == 50
    assert len(set(part["vec"]) & truth) / len(truth) >= 0.4


def test_ivf_model_handle_skips_per_query_training(spark, emb, monkeypatch):
    # fit once -> the handle path must (a) never call _train_centroids and
    # (b) return results identical to the train-per-call path (same seed)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    inline = similarity.ivf_cosine_topk(
        emb, "vec_id", "embedding", qv, k=50, n_centroids=16, nprobe=4
    ).toPandas()
    model = similarity.ivf_fit(emb, "vec_id", "embedding", n_centroids=16)

    def _boom(*a, **kw):
        raise AssertionError("model path must not retrain per query")

    monkeypatch.setattr(similarity, "_train_centroids", _boom)
    via_model = similarity.ivf_cosine_topk(
        emb, "vec_id", "embedding", qv, k=50, nprobe=4, model=model
    ).toPandas()
    assert list(via_model["vec"]) == list(inline["vec"])
    assert list(via_model["cosine"]) == list(inline["cosine"])


def test_ivf_persisted_index_partition_pruned_search(spark, emb, tmp_path):
    # the on-disk inverted file: vectors parquet partitioned by centroid;
    # search must (a) be exact at full probe, (b) PRUNE partitions at the
    # scan for partial probe — the 10^9-vector shape
    idx_dir = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, "vec_id", "embedding", idx_dir, n_centroids=8)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    exact = similarity.cosine_topk(emb, "vec_id", "embedding", qv, k=50).toPandas()
    full = similarity.ivf_search(spark, idx_dir, qv, k=50, nprobe=8).toPandas()
    assert list(full["vec"]) == list(exact["vec"])
    assert list(full["cosine"]) == list(exact["cosine"])
    part = similarity.ivf_search(spark, idx_dir, qv, k=50, nprobe=2)
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid" in plan, plan[:1500]
    got = part.toPandas()
    assert len(got) == 50
    assert len(set(got["vec"]) & set(exact["vec"])) / 50 >= 0.3
    # wrong-dim query fails loudly
    with pytest.raises(ValueError, match="dim"):
        similarity.ivf_search(spark, idx_dir, [1.0, 2.0], k=5)


def test_connected_components_chain_and_jump(spark):
    # chain 1-2-3-7 must collapse to canonical 1 (pair emission alone
    # under-deletes chains); disjoint 10-11 keeps its own canonical —
    # on BOTH the driver union-find fast path (default) and the
    # distributed pointer-jump loop (driver_max_edges=0 forces it)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (7, 3)], "doc_a long, doc_b long"
    )
    expect = [(1, 1), (2, 1), (3, 1), (7, 1), (10, 10), (11, 10)]
    fast = dedup.connected_components(pairs)
    dist = dedup.connected_components(pairs, driver_max_edges=0)
    assert sorted(tuple(r) for r in fast.collect()) == expect
    assert sorted(tuple(r) for r in dist.collect()) == expect
    assert fast.schema == dist.schema


def test_connected_components_long_path_converges(spark):
    # a 64-node path graph: plain propagation would need 63 rounds;
    # pointer jumping must converge well inside max_iter=25 (distributed
    # path forced), and the driver fast path must agree exactly
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    got = dedup.connected_components(pairs, max_iter=25, driver_max_edges=0).collect()
    assert {r.canonical for r in got} == {0}
    assert len(got) == 64
    fast = dedup.connected_components(pairs, max_iter=25).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, got))


def test_dup_clusters_match_transitive_closure_of_pairs(spark, documents):
    docs = documents
    pairs = dedup.minhash_dedup_pairs(docs, "doc_id", "text", n=3, threshold=0.85).collect()
    # union-find closure of the verified pairs = expected clusters
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r.doc_a), find(r.doc_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = sorted((d, find(d)) for d in parent)
    got = sorted(
        tuple(r) for r in dedup.dup_clusters(docs, "doc_id", "text", n=3, threshold=0.85).collect()
    )
    assert got == expected
