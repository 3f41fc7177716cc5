"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) → DataFrame callable; ``oracle_sql()`` gives the equivalent
DuckDB SQL over the same parquet views. Column names and rounding are
synchronized between the two sides (see miru_spark/oracles.py docstring).

Approximate operators (MinHash-LSH with verification margin discussion,
SimHash, hyperplane-LSH cosine) that are not exactly SQL-expressible have
queries() entries without oracle entries → rows-only check; their recall vs
the exact operator is asserted in tests/.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import dataclasses

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miru_spark.filters import Leaf, parse_query
from miru_spark.operators import (
    analytics,
    dedup,
    fulltext,
    models,
    reco,
    similarity,
    streams,
    textstats,
)
from miru_spark.operators import wand as wand_ops
from miru_spark.operators.build import build_index
from miru_spark import oracles

_INDEX_CACHE: dict[str, object] = {}
_QUERY_VEC_CACHE: dict[str, list[float]] = {}


def _ship_package(spark: SparkSession) -> None:
    """Make miru_spark importable on executors regardless of caller cwd."""
    try:
        from miru_spark.session import package_zip

        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added, or driver-only plan


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_with_authz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents + a deterministic authz-label array (doc_id % 4: team_a /
    team_b / both / none) — the multi-tenant fixture for the authz-mask gate;
    the oracle mirrors the same modulus as a doc_id predicate."""
    m = F.col("doc_id") % 4
    return _docs(spark, sf_dir).withColumn(
        "authz",
        F.when(m == 0, F.array(F.lit("team_a")))
        .when(m == 1, F.array(F.lit("team_b")))
        .when(m == 2, F.array(F.lit("team_a"), F.lit("team_b")))
        .otherwise(F.array().cast("array<string>")),
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _index(spark: SparkSession, sf_dir: str):
    key = f"{id(spark)}:{sf_dir}"
    if key not in _INDEX_CACHE:
        _ship_package(spark)
        _INDEX_CACHE[key] = build_index(
            _docs_with_authz(spark, sf_dir),
            text_col="text",
            dense_id_col="doc_id",
            capacity=128,
            aux_fields=["lang", "source", "authz"],
            numeric_aux_fields=["n_chars"],
        )
    return _INDEX_CACHE[key]


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    if sf_dir not in _QUERY_VEC_CACHE:
        row = _emb(spark, sf_dir).filter(F.col("vec_id") == 0).collect()[0]
        _QUERY_VEC_CACHE[sf_dir] = [float(x) for x in row["embedding"]]
    return _QUERY_VEC_CACHE[sf_dir]


def _ivf_dir(spark: SparkSession, sf_dir: str) -> str:
    """A PERSISTED IVF index (centroid-partitioned parquet) built once per
    session — the production ANN shape: no per-query training or corpus
    count; probes are partition filters on the on-disk inverted file."""
    key = f"{id(spark)}:{sf_dir}:ivf"
    if key not in _INDEX_CACHE:
        import shutil
        import tempfile

        tag = os.path.basename(sf_dir.rstrip("/"))
        # content-keyed shared path (fixtures are deterministic per sf dir):
        # cross-run reuse instead of leaking one index per pid. Concurrent
        # builders race safely — each builds into a pid-scoped tmp dir and
        # atomically renames it in; the loser keeps the winner's complete
        # dir (a finished dir is never overwritten, so no read-while-write).
        # The key includes a digest of the embeddings fixture's file
        # names/sizes/mtimes (r6 ADVICE): two sf_dirs sharing a basename,
        # or a regenerated fixture at the same path, must NOT silently
        # reuse an index built from different embeddings.
        import hashlib

        emb_path = os.path.join(sf_dir, "embeddings.parquet")
        h = hashlib.sha256(os.path.abspath(sf_dir).encode())
        if os.path.isdir(emb_path):
            for fname in sorted(os.listdir(emb_path)):
                st = os.stat(os.path.join(emb_path, fname))
                h.update(f"{fname}:{st.st_size}:{st.st_mtime_ns}".encode())
        else:
            st = os.stat(emb_path)
            h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
        d = os.path.join(
            tempfile.gettempdir(), f"miru_ivf_{tag}_{h.hexdigest()[:12]}_c16v1"
        )
        if not os.path.isdir(d):
            tmp = f"{d}.tmp.{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            similarity.build_ivf_index(
                _emb(spark, sf_dir), "vec_id", "embedding", tmp, n_centroids=16
            )
            try:
                os.rename(tmp, d)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)  # lost the race
        _INDEX_CACHE[key] = d
    return _INDEX_CACHE[key]


def _sip_dedup_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the streaming WAL sip-dedup operator (applyInPandasWithState)
    end-to-end over a deterministic two-batch replayed stream derived from
    the events table, and return the emitted rows as a DataFrame.

    Fixture: key = user_id, version = event_id DIV 10 (coarse, so replays
    collide). Batch 1 = events with event_id < 5000; batch 2 = ALL events
    (a full WAL replay). The per-key state must suppress every batch-2 row
    whose version doesn't exceed the key's batch-1 maximum — exactly
    MiruSipTracker's seen-set semantics, SQL-expressible for the oracle.
    (Each WAL batch is cut with a filtered DISTRIBUTED write — coalesce(1)
    routes the rows through one executor task so each batch is a single
    file, but nothing is ever materialized on the driver.)"""
    key = f"{id(spark)}:{sf_dir}:sipdedup"
    if key not in _INDEX_CACHE:
        import shutil
        import tempfile

        from miru_spark.streaming.windowed import streaming_sip_dedup

        work = tempfile.mkdtemp(prefix="miru_sip_")
        src = os.path.join(work, "wal")
        os.makedirs(src)
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            F.col("user_id").cast("long"),
            (F.col("event_id") / 10).cast("long").alias("ver"),
            F.col("event_id").cast("long"),
        )
        batches = [
            ("0_batch1", F.col("event_id") < 5000),
            ("1_batch2", F.lit(True)),
        ]
        for i, (name, flt) in enumerate(batches):
            stage = os.path.join(work, f"stage_{name}")
            (
                ev.filter(flt)
                .select("user_id", "ver")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part = [f for f in os.listdir(stage) if f.endswith(".parquet")]
            assert len(part) == 1, part  # coalesce(1) ⇒ exactly one data file
            p = os.path.join(src, f"{name}.parquet")
            os.rename(os.path.join(stage, part[0]), p)
            shutil.rmtree(stage, ignore_errors=True)
            os.utime(p, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
        stream = (
            spark.readStream.schema("user_id long, ver long")
            .option("maxFilesPerTrigger", "1")  # one micro-batch per WAL file
            .parquet(src)
        )
        qname = f"sipdedup_{abs(hash(key)) % 10**9}"
        q = (
            streaming_sip_dedup(stream, "user_id", "ver")
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            # fail LOUDLY: falling through would collect (and cache!) a
            # partially-populated memory table as the gate answer
            q.stop()
            raise RuntimeError("streaming sip-dedup did not finish within 600s")
        rows = [(int(r["user_id"]), int(r["ver"])) for r in spark.table(qname).collect()]
        shutil.rmtree(work, ignore_errors=True)
        _INDEX_CACHE[key] = spark.createDataFrame(
            rows, "stream long, version long"
        ).cache()
    return _INDEX_CACHE[key]


def _streaming_waveform_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the streaming Analytics waveform (watermarked tumbling-window
    count) end-to-end over a deterministic two-batch replayed stream of the
    events table and return the final windowed counts as a DataFrame.

    Same availableNow harness as _sip_dedup_result: the WAL is cut into two
    parquet files (even/odd event_id — so every window receives rows in
    BOTH micro-batches and the streaming state must merge partial counts
    across triggers), maxFilesPerTrigger=1 forces one micro-batch per file,
    and the memory sink in complete mode holds the final window state. The
    oracle is the plain batch tumbling-window count over the same rows."""
    key = f"{id(spark)}:{sf_dir}:swave"
    if key not in _INDEX_CACHE:
        import shutil
        import tempfile

        from miru_spark.streaming.windowed import streaming_waveform

        work = tempfile.mkdtemp(prefix="miru_swave_")
        src = os.path.join(work, "wal")
        os.makedirs(src)
        ev = _events(spark, sf_dir).select(
            F.col("ts").cast("timestamp").alias("ts"), "event_type", "event_id"
        )
        batches = [
            ("0_batch1", F.col("event_id") % 2 == 0),
            ("1_batch2", F.col("event_id") % 2 != 0),
        ]
        for i, (name, flt) in enumerate(batches):
            stage = os.path.join(work, f"stage_{name}")
            (
                ev.filter(flt)
                .select("ts", "event_type")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part = [f for f in os.listdir(stage) if f.endswith(".parquet")]
            assert len(part) == 1, part
            p = os.path.join(src, f"{name}.parquet")
            os.rename(os.path.join(stage, part[0]), p)
            shutil.rmtree(stage, ignore_errors=True)
            os.utime(p, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
        wf = streaming_waveform(
            spark,
            src,
            "ts timestamp, event_type string",
            reader_options={"maxFilesPerTrigger": "1"},
        )
        qname = f"swave_{abs(hash(key)) % 10**9}"
        q = (
            wf.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("streaming waveform did not finish within 600s")
        rows = [
            (r["group_value"], r["bucket"], int(r["n"]))
            for r in spark.table(qname).collect()
        ]
        shutil.rmtree(work, ignore_errors=True)
        _INDEX_CACHE[key] = spark.createDataFrame(
            rows, "group_value string, bucket timestamp, n long"
        ).cache()
    return _INDEX_CACHE[key]


def _multimodal_decode_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode, gated: a deterministic BMP+WAV payload per
    document (multimodal.synth_media_table — distributed, Arrow-batched)
    flows through decode_images and decode_audio; the gated columns are
    closed-form functions of doc_id the SQL oracle recomputes, including
    two values that only exist if the PIXEL/SAMPLE paths actually ran:
    gray_lo/gray_hi (per-pixel grayscale min/max from the decoded BMP pixel
    array) and zero_cross/peak (sign changes and |max| over the decoded
    PCM samples). Float parity: the same double-op order both sides, cast
    through float32 (the operators' declared schema), round(6) both sides."""
    from miru_spark.operators import multimodal as mm

    media = mm.synth_media_table(_docs(spark, sf_dir).select("doc_id"), "doc_id")
    imgs = mm.decode_images(media, "item", "img").select(
        "item",
        F.col("n_bytes").alias("img_bytes"),
        "width",
        "height",
        F.round(F.element_at(F.col("features"), 5).cast("double"), 6).alias("gray_lo"),
        F.round(F.element_at(F.col("features"), 6).cast("double"), 6).alias("gray_hi"),
    )
    auds = mm.decode_audio(media, "item", "wav").select(
        "item",
        F.col("n_bytes").alias("wav_bytes"),
        "sample_rate",
        "n_samples",
        "zero_cross",
        F.round(F.col("peak").cast("double"), 6).alias("peak"),
    )
    return imgs.join(auds, "item")


def _loaded_index(spark: SparkSession, sf_dir: str):
    """A PERSISTED index built via index_store.build_persistent and reopened
    with load_index — the lazy/loaded query path (term-pruned packed decode,
    metadata first/latest, forward-index gather). Resumable: a rerun over
    the same fingerprint skips completed waves."""
    key = f"{id(spark)}:{sf_dir}:loaded"
    if key not in _INDEX_CACHE:
        import tempfile

        from miru_spark.index_store import build_persistent, load_index

        _ship_package(spark)
        tag = os.path.basename(sf_dir.rstrip("/"))
        idx_dir = os.path.join(tempfile.gettempdir(), f"miru_idx_{tag}")
        build_persistent(
            _docs(spark, sf_dir),
            idx_dir,
            text_col="text",
            dense_id_col="doc_id",
            capacity=128,
            wave_size=16,
        )
        _INDEX_CACHE[key] = load_index(spark, idx_dir)
    return _INDEX_CACHE[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 conjunction top-k + stored-field gather on sf0.001."""
    idx = _index(spark, "/root/testdata/sf0.001")
    winners = fulltext.top_k(idx, "spark AND join", k=20, scorer="bm25")
    return fulltext.gather(idx, winners, ["lang", "source", "n_chars"])


# ---------------------------------------------------------------------------
# Full-text query set (FIXTURES.md §2 shape: single/AND/OR/NOT/prefix, both
# scorers). k=100 > matching-doc count at sf0.01 is fine — LIMIT still binds.
#
# The driver gates at most 50 queries() entries, so the set below is pruned
# to EXACTLY 50 unique operators (round-2 lesson: 4 overflow queries went
# ungated). Retired redundant variants — still covered by tests/ and by the
# surviving entries exercising the same code path: bm25_single_rare /
# bm25_and2 / bm25_and_prefix (same flat paths as single_common / and3 /
# prefix), fulltext_bm25_or + tfidf_or (flat-OR path gated via
# fulltext_bm25_timerange's "spark OR join"), bm25_and3_wand (AND kernel
# gated in tests/test_wand.py; or_wand + ornot_wand keep the packed
# top-k kernel gated), uniques_users (same count_distinct primitive as
# distinct_count_error_users), aggregate_counts_by_type (strict subset of
# aggregate_counts_full).
# ---------------------------------------------------------------------------
_FULLTEXT = {
    "fulltext_bm25_single_common": ("spark", "bm25"),
    "fulltext_bm25_and3": ("spark join merge", "bm25"),
    "fulltext_bm25_andnot": ("merge NOT window", "bm25"),
    "fulltext_bm25_prefix": ("s*", "bm25"),
    # round-5 retirement: fulltext_tfidf_single — the miru_tfidf scorer stays
    # covered by tests/test_fulltext.py (exact-formula vs DuckDB) and the
    # bench q_tfidf item; its slot gates the streaming sip-dedup operator.
}

# nested / field-scoped / masked query set (round 2): every spec carries a
# filter TREE, a named-field mask, a timeRange, a constraintsFilter, or the
# TIME strategy — the FullTextQuery surface the reference exposes
# (FullTextQuery.java:13-52, MiruFieldFilter.java:14-27).
#
# Round-4 retirements (the 50-slot gate is zero-sum; freed slots gate the
# authz/unread/IVF/numeric-range/removal surface, all pytest-covered too):
# fulltext_bool_precedence (parser precedence is pytest-gated;
# fulltext_nested_bool keeps the tree path), index_first_latest +
# gather_terms_spark (their _loaded twins exercise strictly more — the
# metadata/forward-artifact paths), aggregate_counts_page (keyset subset of
# aggregate_counts_full), distincts_event_types (the distinct-values
# primitive also underlies distinct_count + every groupBy gate;
# distincts_field_lang keeps Distincts gated via the aux dictionary).
_FULLTEXT_SPECS = {
    # parens + pButNotQ wrap (LuceneBackedQueryParser.java:111-144)
    "fulltext_nested_bool": dict(q="spark AND (join OR merge) NOT window"),
    # named-field mask AND scored content term (MiruFieldFilter)
    "fulltext_field_lang": dict(q="lang:fr AND spark"),
    # round-5 retirement: fulltext_field_or (OR across field mask + scored
    # term) — the aux-leaf OR path stays exercised by fulltext_nested_bool's
    # tree evaluator + tests/test_fulltext.py; its slot gates stream_inbox.
    # FullTextQuery.timeRange — inclusive doc_key range
    "fulltext_bm25_timerange": dict(q="spark OR join", time_range=(100, 400)),
    # FullTextQuery.constraintsFilter — extra ANDed field mask
    "fulltext_constraints": dict(q="spark", constraints=[Leaf("src7", "source")]),
    # TIME strategy over the answer set (FullText.collectTime)
    "fulltext_time_topk": dict(q="spark AND join", scorer="time", k=50),
    # numeric term composition: `field:[lo TO hi]` range mask as a
    # lexicographic term-range scan (MiruTermComposer.Prefix.Type.numeric)
    "fulltext_numeric_range": dict(q="spark AND n_chars:[200 TO 400]"),
}


def _ft_query(q: str, scorer: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fulltext.top_k(_index(spark, sf_dir), parse_query(q, k=100, scorer=scorer))

    return run


def _ft_spec_query(q: str, scorer: str = "bm25", k: int = 100, time_range=None, constraints=None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        spec = parse_query(q, k=k, scorer=scorer, time_range=time_range, constraints=constraints)
        return fulltext.top_k(_index(spark, sf_dir), spec)

    return run


def _ft_wand_query(q: str, scorer: str = "bm25", k: int = 100):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # wand_topk on the in-memory handle: these entries GATE the packed
        # top-k kernel (wand.packed_topk), which the handle's top_k does not run
        return wand_ops.wand_topk(_index(spark, sf_dir), q, k=k, scorer=scorer)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, (qs, scorer) in _FULLTEXT.items():
        q[name] = _ft_query(qs, scorer)
    for name, kw in _FULLTEXT_SPECS.items():
        q[name] = _ft_spec_query(**kw)
    # OR queries through the packed top-k kernel path — gates the
    # packed-postings engine (incl. OR+NOT pre-admission negation) against
    # the same oracles as the DataFrame path
    q["fulltext_bm25_or_wand"] = _ft_wand_query("spark OR vector OR dup")
    # "(a OR b) NOT c" flattens to the OR+negatives spec — the packed
    # kernel path with pre-admission negation (bare "a OR b NOT c" would
    # nest as a OR (b NOT c) under the precedence grammar)
    q["fulltext_bm25_ornot_wand"] = _ft_wand_query("(merge OR join) NOT window")
    # aux field dictionary scan (Distincts.java:96-99 over a named field)
    q["distincts_field_lang"] = lambda s, d: (
        _index(s, d).aux.filter(F.col("term").startswith("lang:")).select("term").distinct()
    )

    # index-structure queries
    q["term_stats"] = lambda s, d: (
        _index(s, d).stats.orderBy(F.desc("df"), F.asc("term")).limit(100)
    )
    q["corpus_stats"] = lambda s, d: _index(s, d).lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )
    q["content_sha"] = lambda s, d: _index(s, d).docs.select(
        F.col("doc_key").alias("doc"), F.col("content_sha").alias("sha")
    )

    # first/latest + gather on a PERSISTED index loaded from disk (proves the
    # no-decode metadata path and the forward-index gather — round-2's
    # scale-killer full unpack; the in-memory twins retired round 4, these
    # exercise strictly more)
    q["index_first_latest_loaded"] = lambda s, d: fulltext.index_first_latest(
        _loaded_index(s, d)
    )
    q["gather_terms_loaded"] = lambda s, d: fulltext.gather_terms(
        _loaded_index(s, d), "spark"
    )

    # multi-tenant stream surface (round 4): the authz mask ANDed into a
    # scored query (MiruAuthzIndex composite-OR), the removal index
    # subtracted from the answer (MiruRemovalIndex), and the unread
    # tracker's inbox-minus-read-mask (MiruUnreadTrackingIndex.applyRead)
    def _authz_query(s, d):
        spec = parse_query("spark", k=100)
        spec.authz = ["team_a"]
        return fulltext.top_k(_index(s, d), spec)

    q["fulltext_authz"] = _authz_query

    def _removal_query(s, d):
        idx = _index(s, d)
        rm = idx.docs.filter(F.col("doc_key") % 7 == 0).select("part", "doc_id")
        return fulltext.top_k(
            dataclasses.replace(idx, removed=rm), "spark OR join", k=100
        )

    q["fulltext_removal"] = _removal_query
    # MiruInboxIndex: the per-stream inbox doc set (streams.inbox is also the
    # base relation of stream_unread; gated in its own right, round 5)
    q["stream_inbox"] = lambda s, d: streams.inbox(_events(s, d), "user_id", 1, "event_id")
    # streaming WAL sip dedup (MiruSipTracker) — availableNow two-batch
    # replay through applyInPandasWithState; see _sip_dedup_result
    q["streaming_sip_dedup"] = _sip_dedup_result
    q["stream_unread"] = lambda s, d: streams.unread(
        _events(s, d),
        "user_id",
        1,
        "event_id",
        read_docs=_events(s, d)
        .filter(F.col("event_id") % 2 == 0)
        .select(F.col("event_id").alias("doc")),
    )
    # IVF ANN over the PERSISTED centroid-partitioned index (round 5: swapped
    # from the in-memory per-call variant, which re-trained centroids per
    # query — wrong at production scale). nprobe == n_centroids degrades to
    # exact brute force (bit-identical ordered-fold cosine — asserted in
    # tests), so the ANN index is oracle-gateable; partial-probe recall and
    # the PartitionFilters pruning assertion are pytest-gated.
    q["ivf_search_topk"] = lambda s, d: similarity.ivf_search(
        s, _ivf_dir(s, d), _query_vec(s, d), k=50, nprobe=16
    )

    # training-data operators that fell outside round 2's gated window —
    # inserted early so the whole similarity/langid surface stays checked
    q["text_langid"] = lambda s, d: textstats.langid_lite(_docs(s, d), "doc_id", "text")
    q["embedding_cosine_topk"] = lambda s, d: similarity.cosine_topk(
        _emb(s, d), "vec_id", "embedding", _query_vec(s, d), k=50
    )
    # retired r5: embedding_neardup_pairs (exact all-pairs cosine) — the lsh
    # row below now carries the SAME cosine_pairs_sql oracle and its verify
    # replays the same ordered fold, so the output check is identical; the
    # cosine_pairs code path (crossJoin guard + kernel) stays pytest-covered
    # in tests/test_similarity_dedup.py. Slot reused for dedup_cluster_canonical.
    # threshold 0.45 is set from the fixture's actual cosine distribution
    # (max pairwise 0.51; 14 pairs ≥0.45 at sf0.01) so the gate checks a
    # NON-EMPTY truth set — 0.95 matched nothing and proved nothing.
    # 4 planes × 48 tables: recall measured 1.0 on every fixture SF up to
    # sf1.0 (probe in round 5) — with the ordered-fold verify the output is
    # hash-identical to exact cosine_pairs, so the row is oracle-gated.
    q["embedding_lsh_pairs"] = lambda s, d: similarity.lsh_cosine_pairs(
        _emb(s, d), "vec_id", "embedding", threshold=0.45, n_planes=4, n_tables=48
    )

    # valueBits index family (MiruFieldType.valueBits / MiruIndexValueBits):
    # Σ value per group reconstructed from the bit-sliced posting lists
    q["value_bits_sum"] = lambda s, d: analytics.value_bits_sum(
        _events(s, d), "event_type", "user_id"
    )
    # Anomaly.metricingAvg (Anomaly.java:36-99): long-division bucket
    # averages via the bit-sliced sum, zero-raw buckets linearly interpolated
    q["anomaly_metricing_avg"] = lambda s, d: analytics.anomaly_metricing_avg(
        _events(s, d), "ts", "user_id", F.col("event_type") == "error", "hour"
    )

    # context operators (SURVEY.md §2.5) over events / lineitem
    # round-6 retirement: time_range_mask — the time-range path stays gated
    # on the index side by fulltext_bm25_timerange (spec mask + WAND
    # pre-admission + manifest part pruning) and the relational
    # between-predicate is pytest-held (tests/test_analytics_models.py::
    # test_time_range_mask_equals_direct_filter); its slot gates the
    # streaming waveform operator (streaming_waveform_hourly).
    q["distinct_count_error_users"] = lambda s, d: analytics.distinct_count(
        _events(s, d), "user_id", F.col("event_type") == "error"
    )
    # full AggregateCounts surface: latest/oldest doc gather per group
    # (AggregateCounts.java:260-299); keyset pagination pytest-covered
    q["aggregate_counts_full"] = lambda s, d: analytics.aggregate_counts(
        _events(s, d), "event_type", "ts", doc_col="event_id"
    )
    # paired-latest index (MiruIndexPairedLatest): latest doc per (a, b)
    q["paired_latest_type_user"] = lambda s, d: analytics.paired_latest(
        _events(s, d), "event_type", "user_id", "event_id"
    )
    # round-6 retirement: bloom_contains_true_pairs — the no-false-negative
    # property (plus a false-positive-rate sanity bound the gate never
    # checked) is pytest-held in tests/test_analytics_models.py::
    # test_bloom_index_*; its slot gates the REAL multimodal decode path
    # (multimodal_decode_stats).
    q["analytics_waveform_hourly"] = lambda s, d: analytics.waveform(
        _events(s, d), "ts", "event_type", "hour"
    )
    # streaming waveform (round 6): the same tumbling-window count computed
    # INCREMENTALLY over a two-micro-batch replayed stream — gates the
    # watermarked windowed-aggregation state merge (see _streaming_waveform_result)
    q["streaming_waveform_hourly"] = _streaming_waveform_result
    # multimodal decode (round 6): real BMP pixel + WAV sample decode over a
    # deterministic distributed fixture (see _multimodal_decode_result)
    q["multimodal_decode_stats"] = _multimodal_decode_result
    q["metrics_daily"] = lambda s, d: analytics.metrics(_events(s, d), "ts", "value", "day")
    q["anomaly_error_rate_daily"] = lambda s, d: analytics.anomaly_ratio(
        _events(s, d), "ts", "value", F.col("event_type") == "error", "day"
    )
    q["trending_peaks_daily"] = lambda s, d: analytics.trending_peaks(
        _events(s, d), "ts", "event_type", "day", delta=5.0
    )
    q["stumptown_last50_errors"] = lambda s, d: analytics.last_n(
        _events(s, d),
        ["ts", "event_id"],
        50,
        F.col("event_type") == "error",
        ["event_id", "ts", "user_id", "value"],
    )
    # Catwalk model build + Strut model score (the reference's ML surface,
    # Catwalk.java:65-212 / Strut.java:82-248) over the events stream:
    # label = error events; features = the acting user, the event day, and a
    # MULTI-VALUED tag array (MiruAggregateUtil.permutate — one feature
    # instance per distinct array value, round 4)
    q["catwalk_model"] = lambda s, d: models.catwalk_model(
        _events(s, d),
        F.col("event_type") == "error",
        {
            "user": F.col("user_id"),
            "day": F.to_date(F.col("ts")),
            "tag": F.array(
                F.col("event_type"),
                F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")),
            ),
        },
    )
    q["strut_score"] = lambda s, d: models.strut_score(
        _events(s, d),
        "event_id",
        {"user": F.col("user_id"), "day": F.to_date(F.col("ts"))},
        models.catwalk_model(
            _events(s, d),
            F.col("event_type") == "error",
            {"user": F.col("user_id"), "day": F.to_date(F.col("ts"))},
        ),
        strategy="unit_weighted",
        k=100,
    )
    q["reco_collaborative"] = lambda s, d: reco.collaborative_filter(
        s.read.parquet(f"{d}/lineitem.parquet")
        .join(
            s.read.parquet(f"{d}/orders.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("o_custkey", "l_partkey"),
        "o_custkey",
        "l_partkey",
        user_id=1,
        k=20,
    )

    # training-data operators over documents / embeddings
    q["dedup_exact_groups"] = lambda s, d: dedup.exact_dup_groups(_docs(s, d), "doc_id", "text")
    q["dedup_jaccard_pairs"] = lambda s, d: dedup.jaccard_pairs(
        _docs(s, d), "doc_id", "text", n=3, threshold=0.8
    )
    q["dedup_minhash_lsh_pairs"] = lambda s, d: dedup.minhash_dedup_pairs(
        _docs(s, d), "doc_id", "text", n=3, threshold=0.85
    )
    q["dedup_simhash_pairs"] = lambda s, d: dedup.simhash_pairs(
        _docs(s, d), "doc_id", "text", max_hamming=3
    )
    # near-dup CLUSTERS (the operator a dedup pipeline actually consumes):
    # minhash-verified pairs → iterative connected components (pointer-
    # jumping label propagation); canonical = min doc of the component
    q["dedup_cluster_canonical"] = lambda s, d: dedup.dup_clusters(
        _docs(s, d), "doc_id", "text", n=3, threshold=0.85
    )
    q["text_quality"] = lambda s, d: textstats.quality(_docs(s, d), "doc_id", "text")
    q["text_token_counts"] = lambda s, d: textstats.token_counts(_docs(s, d), "doc_id", "text")
    q["doc_fingerprint"] = lambda s, d: textstats.fingerprint(_docs(s, d), "doc_id", "text")
    assert len(q) == 50, f"driver gates 50 queries; got {len(q)}"
    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    for name, (qs, scorer) in _FULLTEXT.items():
        o[name] = oracles.fulltext_topk_sql(parse_query(qs, k=100, scorer=scorer))
    for name, kw in _FULLTEXT_SPECS.items():
        spec = parse_query(
            kw["q"],
            k=kw.get("k", 100),
            scorer=kw.get("scorer", "bm25"),
            time_range=kw.get("time_range"),
            constraints=kw.get("constraints"),
        )
        o[name] = oracles.filtered_topk_sql(spec)
    o["fulltext_bm25_or_wand"] = oracles.fulltext_topk_sql(
        parse_query("spark OR vector OR dup", k=100)
    )
    o["fulltext_bm25_ornot_wand"] = oracles.fulltext_topk_sql(
        parse_query("(merge OR join) NOT window", k=100)
    )
    o["distincts_field_lang"] = (
        "SELECT DISTINCT 'lang:' || lower(lang) AS term FROM documents"
    )

    # authz mask: the fixture's labels are doc_id % 4 (team_a on 0 and 2) —
    # the oracle ANDs that predicate into the same scored query
    o["fulltext_authz"] = oracles.fulltext_topk_sql(
        parse_query("spark", k=100), extra_pred="doc_id % 4 IN (0, 2)"
    )
    # removal index: tombstones = doc_key % 7 == 0, subtracted pre-LIMIT
    o["fulltext_removal"] = oracles.fulltext_topk_sql(
        parse_query("spark OR join", k=100), extra_pred="doc_id % 7 <> 0"
    )
    o["stream_inbox"] = """
SELECT DISTINCT event_id AS doc FROM events WHERE user_id = 1
"""
    # the sip-dedup emission set: batch-1 distinct (key, version) pairs plus
    # batch-2 pairs whose version exceeds the key's batch-1 max (replays and
    # stale versions suppressed by the per-key state) — see _sip_dedup_result
    o["streaming_sip_dedup"] = """
WITH src AS (SELECT user_id, event_id // 10 AS ver, event_id FROM events),
b1 AS (SELECT DISTINCT user_id, ver FROM src WHERE event_id < 5000),
m AS (SELECT user_id, max(ver) AS mx FROM b1 GROUP BY 1),
b2 AS (SELECT DISTINCT user_id, ver FROM src),
out2 AS (
  SELECT b2.user_id, b2.ver FROM b2 LEFT JOIN m ON b2.user_id = m.user_id
  WHERE b2.ver > coalesce(m.mx, -1)
)
SELECT user_id AS stream, ver AS version FROM b1
UNION ALL
SELECT user_id AS stream, ver AS version FROM out2
"""
    o["stream_unread"] = """
SELECT DISTINCT event_id AS doc FROM events
WHERE user_id = 1 AND event_id % 2 <> 0
"""
    # nprobe == n_centroids ⇒ exact (bit-identical ordered-fold scores)
    o["ivf_search_topk"] = oracles.cosine_topk_sql(query_vec_id=0, k=50)

    o["term_stats"] = oracles.term_stats_sql(limit=100)
    o["corpus_stats"] = oracles.doc_stats_sql()
    o["content_sha"] = "SELECT doc_id AS doc, sha256(text) AS sha FROM documents"

    o["index_first_latest_loaded"] = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_'']+'), x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term FROM toks GROUP BY doc_id, term)
SELECT term, min(doc_id) AS first_doc, max(doc_id) AS latest_doc, count(*) AS df
FROM tf GROUP BY term
"""
    o["gather_terms_loaded"] = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_'']+'), x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term FROM toks GROUP BY doc_id, term),
matched AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'spark')
SELECT term, count(*) AS n_docs
FROM tf WHERE doc_id IN (SELECT doc_id FROM matched)
GROUP BY term
"""
    o["value_bits_sum"] = oracles.value_bits_sum_sql("events", "event_type", "user_id")
    o["anomaly_metricing_avg"] = oracles.anomaly_metricing_sql(
        "events", "ts", "user_id", "event_type = 'error'", "hour"
    )
    o["distinct_count_error_users"] = oracles.distinct_count_sql(
        "events", "user_id", "event_type = 'error'"
    )
    # composite HUGEINT key = (ts, doc) lexicographic tie-break (DuckDB's
    # max_by takes no struct ordering; margin covers event_id < 1e8)
    _by = "CAST(epoch_us(ts) AS HUGEINT) * 100000000 + event_id"
    o["aggregate_counts_full"] = f"""
SELECT event_type AS group_value, count(*) AS n,
       min(ts) AS oldest_ts, max(ts) AS latest_ts,
       max_by(event_id, {_by}) AS latest_doc,
       min_by(event_id, {_by}) AS oldest_doc
FROM events GROUP BY 1
"""
    o["paired_latest_type_user"] = """
SELECT event_type AS a, user_id AS b, max(event_id) AS latest_doc
FROM events GROUP BY 1, 2
"""
    o["analytics_waveform_hourly"] = oracles.waveform_sql("events", "ts", "event_type", "hour")
    # the streaming waveform must equal the batch tumbling-window count over
    # the same rows (the two WAL batches partition the events table exactly)
    o["streaming_waveform_hourly"] = oracles.waveform_sql("events", "ts", "event_type", "hour")
    # every gated decode column is a closed-form function of doc_id (the
    # synth_media_table fixture contract); gray_* and peak replay the decode
    # arithmetic in the same double-op order through a float32 cast
    o["multimodal_decode_stats"] = """
WITH p AS (
  SELECT doc_id AS item,
         4 + doc_id % 13 AS w,
         4 + (doc_id * 7) % 11 AS h,
         doc_id % 256 AS r, (doc_id * 7) % 256 AS g, (doc_id * 13) % 256 AS b,
         50 + doc_id % 64 AS n,
         0.25 + (doc_id % 4) * 0.1 AS amp
  FROM documents
)
SELECT item,
       54 + ((w * 3 + 3) // 4) * 4 * h AS img_bytes,
       w AS width, h AS height,
       round(CAST(CAST((r / 255.0 + g / 255.0 + b / 255.0) / 3.0 AS FLOAT) AS DOUBLE), 6) AS gray_lo,
       round(CAST(CAST((r / 255.0 + g / 255.0 + b / 255.0) / 3.0 AS FLOAT) AS DOUBLE), 6) AS gray_hi,
       44 + 2 * n AS wav_bytes,
       8000 + (item % 4) * 4000 AS sample_rate,
       n AS n_samples,
       n - 1 AS zero_cross,
       round(CAST(CAST(trunc(amp * 32767.0) / 32768.0 AS FLOAT) AS DOUBLE), 6) AS peak
FROM p
"""
    o["metrics_daily"] = oracles.metrics_sql("events", "ts", "value", "day")
    o["anomaly_error_rate_daily"] = oracles.anomaly_ratio_sql(
        "events", "ts", "event_type = 'error'", "day"
    )
    o["trending_peaks_daily"] = oracles.trending_peaks_sql("events", "ts", "event_type", "day", delta=5.0)
    o["stumptown_last50_errors"] = oracles.last_n_sql(
        "events",
        ["ts", "event_id"],
        50,
        "event_type = 'error'",
        ["event_id", "ts", "user_id", "value"],
    )
    _feat = {"user": "user_id", "day": "date_trunc('day', ts)"}
    o["catwalk_model"] = oracles.catwalk_model_sql(
        "events",
        "event_type = 'error'",
        _feat,
        array_features={"tag": "[event_type, 'u' || CAST(user_id % 10 AS VARCHAR)]"},
    )
    o["strut_score"] = oracles.strut_score_sql(
        "events", "event_id", "event_type = 'error'", _feat, "unit_weighted", 100
    )
    o["reco_collaborative"] = oracles.collaborative_filter_sql(user_id=1, k=20)

    o["dedup_exact_groups"] = oracles.exact_dup_groups_sql()
    o["dedup_jaccard_pairs"] = oracles.jaccard_pairs_sql(n=3, threshold=0.8)
    # dedup_minhash_lsh_pairs: exact-verified output equals the exact jaccard
    # pairs at the same threshold up to negligible LSH miss probability
    # ((1-j^4)^32 ≈ 6e-11 at j=0.85) — safe to oracle-gate.
    o["dedup_minhash_lsh_pairs"] = oracles.jaccard_pairs_sql(n=3, threshold=0.85)
    # dedup_simhash_pairs: md5-based simhash is integer-exact replayable in
    # SQL — full-strength hash oracle (votes, pigeonhole blocking, hamming).
    o["dedup_simhash_pairs"] = oracles.simhash_pairs_sql(max_hamming=3)
    # embedding_lsh_pairs: exact-verified candidates with recall measured 1.0
    # on the fixtures (deterministic seed) + ordered-fold float parity →
    # output equals the exact cosine-pairs oracle.
    o["embedding_lsh_pairs"] = oracles.cosine_pairs_sql(threshold=0.45)
    # dedup_cluster_canonical: recursive-CTE transitive closure over the
    # exact jaccard pair graph (minhash pairs == exact pairs, already gated)
    o["dedup_cluster_canonical"] = oracles.dup_clusters_sql(n=3, threshold=0.85)
    o["text_quality"] = oracles.quality_sql()
    o["text_token_counts"] = oracles.token_counts_sql()
    o["doc_fingerprint"] = oracles.fingerprint_sql()
    o["text_langid"] = oracles.langid_lite_sql()
    o["embedding_cosine_topk"] = oracles.cosine_topk_sql(query_vec_id=0, k=50)
    return o
