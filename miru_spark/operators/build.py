"""Inverted-index construction (SURVEY.md §2.3, §3.1).

Pipeline (idiomatic Spark; the Python lives in Arrow-batched kernels):

    docs        = source rows + (part, doc_id, doc_key, content_sha)
    flat        = Arrow tokenize + per-doc tf count, map-side      [tf, dl]
    packed      = delta+varint binary + block-max metadata, by one of two
                  routes: 'sort' (flat → repartition(part, term) + sort →
                  streaming pack, packed_from_flat) or 'fused' (tokenize and
                  pack per doc-partition in one task, packed_fused)
    term_stats  = groupBy(term).agg(Σdf, Σtf)     [global BM25/TF-IDF stats]
    doclens     = (part, doc_id, dl)              [BM25 norms]

Both routes tokenize through ``_batch_doc_term_counts`` and emit the same
``PACKED_SCHEMA`` rows byte for byte.

Reference parity:
  * partition-local dense doc ids — MiruPartitionedActivity.index
    (miru-api/.../activity/MiruPartitionedActivity.java:58), rollover at
    capacity (miru-writer/.../MiruPartitionCursor.java:25-27);
  * posting-list construction with per-doc tf —
    MiruIndexPrimaryFields.compose (miru-service/.../stream/
    MiruIndexPrimaryFields.java:37-96, HashMultiset tf at :62-74);
  * global Σtf cell per term (docId=-1) — LabFieldIndex.mergeCardinalities
    (miru-service/.../index/lab/LabFieldIndex.java:510-535) → our
    ``term_stats.cum_tf``;
  * delta→merge — LargestFirstMergeChits recast as a shuffle-sort merge.

Scale notes (100 TB / 1000 executors):
  * the pack exchange hashes (part, term): one posting list never spans
    reducers, a hot term's per-part lists hash to different reducers, and
    one list is bounded by ``capacity`` (per-part df) — that is the skew
    bound, so no salting stage is needed to cap a reducer's input;
  * the pack is a streaming external sort, never a JVM array per list;
  * term_stats aggregates ≤ n_parts rows per term (partial agg), never raw
    postings — no skew;
  * no driver-side loops; the only Python is the Arrow-batched kernels.
"""

from __future__ import annotations

from dataclasses import dataclass
from dataclasses import field as dataclass_field
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from miru_spark import codec
from miru_spark.schema import resolve_fields
from miru_spark.tokenize import content_sha_col

DEFAULT_CAPACITY = 1_000_000  # docs per partition (Miru: "millions", README.md:12)

# fused-kernel buffered bytes per posting: int64 intern code + int32 doc_id +
# int32 tf, plus amortized intern-dict/chunk-list overhead
_FUSED_BYTES_PER_POSTING = 17
# estimated unique terms per doc: sizes the fused buffer for ordinary prose
_FUSED_EST_TERMS_PER_DOC = 256


def _mem_to_bytes(s: str) -> int:
    s = s.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def fused_capacity_limit(spark) -> int:
    """Largest safe ``capacity`` for strategy='fused' on this session.

    The fused kernel buffers ALL postings of a task's doc-partitions in
    memory (Miru's own sizing rule: one partition's delta index fits the
    heap). Budget = half the per-core memory; need ≈ capacity ×
    _FUSED_EST_TERMS_PER_DOC × _FUSED_BYTES_PER_POSTING."""
    conf = spark.sparkContext.getConf()
    mem = conf.get("spark.executor.memory", None) or conf.get("spark.driver.memory", "1g")
    cores = max(1, spark.sparkContext.defaultParallelism)
    budget = _mem_to_bytes(mem) // cores // 2
    return max(1, budget // (_FUSED_EST_TERMS_PER_DOC * _FUSED_BYTES_PER_POSTING))


def prepare_docs(
    df: DataFrame,
    text_col: str = "content",
    dense_id_col: str | None = None,
    natural_key: list[str] | None = None,
    capacity: int = DEFAULT_CAPACITY,
    n_parts: int | None = None,
    tracker: list | None = None,
) -> DataFrame:
    """Attach (part, doc_id, doc_key, dl, tokens, content_sha) to source rows.

    Two deterministic id schemes (doc ids must be a pure function of the data
    — SURVEY.md §7 "Dense doc-id stability"):

    * ``dense_id_col``: an existing dense id (e.g. testdata ``doc_id``) maps
      to Miru's time-ordered rollover: part = id // capacity,
      doc_id = id % capacity (miru-writer/.../AmzaPartitionIdProvider.java:132-189).
    * ``natural_key``: hash-partition on the key, dense rank within the
      partition ordered by the key — stable under any scheduling.
    """
    if dense_id_col is None and natural_key is None:
        raise ValueError("need dense_id_col or natural_key")
    out = df.withColumn("content_sha", content_sha_col(text_col))
    if dense_id_col is not None:
        # doc_key first: dense_id_col may itself be named "doc_id" and would
        # be shadowed by the partition-local doc_id we add next.
        out = out.withColumn("doc_key", F.col(dense_id_col).cast("long"))
        gid = F.col("doc_key")
        out = out.withColumn("part", (gid / capacity).cast("int")).withColumn(
            "doc_id", (gid % capacity).cast("int")
        )
    else:
        # null-safe composed key: concat_ws silently DROPS nulls (so
        # ('a', NULL) and ('a',) would collide, and a plain equi-join on the
        # raw columns loses NULL-keyed rows outright — NULL != NULL). The
        # \x00-prefixed marker cannot collide with a real token/aux value.
        nk = F.concat_ws(
            "\x00",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in natural_key],
        )
        if n_parts is None:
            # partition count must be a function of DATA SIZE, never cluster
            # width — otherwise doc ids (and the whole index layout) change
            # with executor count, breaking resume and rank-identity.
            n_parts = max(1, -(-df.count() // capacity))
        # id assignment runs on a KEY-ONLY projection (column pruning reaches
        # the scan), then joins back — the per-part row_number window must
        # never carry `content`: shuffling+sorting full rows through the
        # window was the one anti-scaling build phase (12.7s → 25.7s going
        # 8→32 threads at 100k rows), and the window's parallelism is capped
        # at n_parts while the join shuffle is full-width.
        ids = df.select(nk.alias("_nk")).withColumn(
            "part", F.pmod(F.xxhash64(F.col("_nk")), F.lit(n_parts)).cast("int")
        )
        w = Window.partitionBy("part").orderBy("_nk")
        ids = ids.withColumn("doc_id", (F.row_number().over(w) - 1).cast("int"))
        # duplicate natural keys would join back d→d² rows with conflicting
        # doc_keys — under the _nk ordering duplicates are window-adjacent,
        # so the check is a lag comparison FOLDED INTO doc_key (raise_error
        # branch): it costs nothing extra (no separate scan/action — the
        # previous eager count() added a full key pass per build) and cannot
        # be pruned away because every consumer selects doc_key.
        dup = F.coalesce(F.lag("_nk").over(w) == F.col("_nk"), F.lit(False))
        # doc_key = part << 32 | doc_id: collision-free regardless of hash
        # skew (a part whose row_number overruns `capacity` would collide
        # with the next part under part*capacity+doc_id — silent doc-identity
        # corruption in gather/tie-break/dedup). 32-bit shift is safe: doc_id
        # is int, part < 2^31.
        ids = ids.withColumn(
            "doc_key",
            F.when(
                dup,
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"natural_key {natural_key} is not unique: duplicate key "
                        ),
                        F.col("_nk"),
                        F.lit(
                            " — deduplicate the source (or add a disambiguating "
                            "column); duplicate keys would assign conflicting "
                            "doc identities"
                        ),
                    )
                ).cast("long"),
            ).otherwise(F.shiftleft(F.col("part").cast("long"), 32) + F.col("doc_id")),
        )
        # tiny (keys + ids) — cache so the window runs once across both join
        # consumers; tracked for IndexHandle.unpersist().
        ids = ids.cache()
        if tracker is not None:
            tracker.append(ids)
        out = out.withColumn("_nk", nk).join(ids, "_nk").drop("_nk")
    return out


def _batch_doc_term_counts(texts, stop: frozenset | None, stem):
    """Vectorized per-doc term-frequency counting for one Arrow batch.

    pyarrow.compute does the tokenize (RE2 split of the lowered text — the
    same dialect the langid kernel uses, token-equal to re.findall of the
    complement class) and the term interning (dictionary_encode); the
    per-(doc, term) counts come from one stable sort + run-length pass.
    Returns (row_idx int64[], codes int64[], tfs int32[], dict_terms) where
    row_idx indexes the batch's rows (docs with zero surviving tokens are
    simply absent), codes index dict_terms (batch-local intern), and the
    (row_idx, codes) pairs are unique.

    Stopwords drop raw tokens; ``stem`` (a per-token callable, applied after
    the stopword filter) then runs once per DISTINCT token of the batch
    dictionary, and the codes are remapped onto the re-encoded stems before
    the count — so tokens that stem alike merge into one (doc, term) tf."""
    import pyarrow.compute as pc

    from miru_spark.tokenize import TOKEN_SPLIT_RE

    toks = pc.split_pattern_regex(
        pc.utf8_lower(pc.fill_null(texts, "")), TOKEN_SPLIT_RE
    )
    offsets = toks.offsets.to_numpy().astype(np.int64)
    offsets = offsets - offsets[0]
    flat = toks.flatten()
    row_of_token = np.repeat(
        np.arange(len(offsets) - 1, dtype=np.int64), np.diff(offsets)
    )
    keep = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
    if stop:
        keep &= ~pc.is_in(
            flat, value_set=pa.array(sorted(stop), pa.string())
        ).to_numpy(zero_copy_only=False)
    if not keep.any():
        return (
            np.empty(0, np.int64), np.empty(0, np.int64),
            np.empty(0, np.int32), pa.array([], pa.string()),
        )
    flat = flat.filter(pa.array(keep))
    row_of_token = row_of_token[keep]
    enc = flat.dictionary_encode()
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    dict_arr = enc.dictionary
    if stem is not None:
        stems = pa.array([stem(t) for t in dict_arr.to_pylist()], pa.string())
        enc = stems.dictionary_encode()
        codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)[codes]
        dict_arr = enc.dictionary
    k = len(dict_arr)
    key = row_of_token * k + codes
    order = np.argsort(key, kind="stable")
    sk = key[order]
    starts = np.concatenate(([0], np.flatnonzero(sk[1:] != sk[:-1]) + 1))
    tfs = np.diff(np.concatenate((starts, [len(sk)]))).astype(np.int32)
    uniq = sk[starts]
    return uniq // k, uniq % k, tfs, dict_arr


def flat_postings(
    docs: DataFrame, text_col: str = "content", stopwords: frozenset | None = None,
    stemmer: str | None = None,
) -> DataFrame:
    """(part, term, doc_id, tf, dl, doc_key) — the uncompressed logical
    posting relation. dl (the doc's token count after the analyzer dialects)
    and doc_key are denormalized onto every posting row so the query path
    never joins the corpus-sized doclens relation (see PACKED_SCHEMA note).

    One Arrow-batched pass: tokenize + per-doc tf count happen map-side in
    the same task (the reference's per-batch HashMultiset compose,
    MiruIndexPrimaryFields.java:62-74) — NO explode and NO (part,term,doc_id)
    shuffle. This beats the pure-Catalyst split+explode+groupBy by ~4× at
    bench scale: JVM regex split on large code files is the bottleneck, and
    17M exploded rows never need to exist.

    Token semantics are identical to tokenize.tokens_col (asserted in tests):
    re.findall("[a-z0-9_']+", lower) ≡ split-on-complement + drop-empties.
    Stopwords and the stemmer apply inside the same kernel
    (_batch_doc_term_counts), so analyzed builds stay vectorized too.
    """
    from miru_spark.stem import get_stemmer

    stop = stopwords or None
    st = get_stemmer(stemmer)

    def _tok(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            parts = batch.column("part").to_numpy(zero_copy_only=False)
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            keys = batch.column("doc_key").to_numpy(zero_copy_only=False)
            ridx, codes, tfs, dict_arr = _batch_doc_term_counts(
                batch.column(text_col), stop, st
            )
            if len(ridx) == 0:
                continue
            doc_starts = np.concatenate(
                ([0], np.flatnonzero(ridx[1:] != ridx[:-1]) + 1)
            )
            run_lens = np.diff(np.concatenate((doc_starts, [len(ridx)])))
            dl_doc = np.add.reduceat(tfs.astype(np.int64), doc_starts)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(parts[ridx].astype(np.int32)),
                    dict_arr.take(pa.array(codes)),
                    pa.array(doc_ids[ridx].astype(np.int32)),
                    pa.array(tfs),
                    pa.array(np.repeat(dl_doc, run_lens).astype(np.int32)),
                    pa.array(keys[ridx].astype(np.int64)),
                ],
                names=["part", "term", "doc_id", "tf", "dl", "doc_key"],
            )

    return docs.select("part", "doc_id", "doc_key", F.col(text_col)).mapInArrow(
        _tok, "part int, term string, doc_id int, tf int, dl int, doc_key long"
    )


PACKED_SCHEMA = (
    "part int, term string, df_part long, cum_tf_part long, "
    "ids binary, tfs binary, dls binary, keys binary, "
    "block_last array<long>, block_max_tf array<long>, first_id int"
)
# first_id = first doc id of the posting list (the last one is
# element_at(block_last, -1)) — lets first/latest-occurrence queries
# (MiruIndexLatest / setIfEmpty) run off packed METADATA with zero posting
# decode, exactly like the reference's incrementally-maintained latest/first
# bitmaps (miru-service/.../stream/MiruIndexLatest.java).
#
# dls / keys = per-posting doc length (plain varint) and doc_key (delta
# varint — keys ascend with doc_id under every id scheme, including repair
# waves whose doc_id is a row_number ordered by doc_key). Denormalizing the
# two per-doc attributes into the posting rows makes the postings relation
# SELF-CONTAINED for scoring: the query path never joins the O(corpus)
# doclens relation (Lucene's norms-in-segment layout; the reference reads
# norms from partition-local arrays, never a cross-partition join). Storage
# cost ≈ the tfs column again; the per-query saving is an O(corpus) shuffle.

# sentinel term whose posting row carries the partition's forward dl array
# (ids = doc ids, tfs = doc lengths) — the reference's special-cell trick
# (global cardinality under docId=-1, LabFieldIndex.java:510-535) applied to
# the doc-length norm. '\x00' cannot appear in a token ([a-z0-9_']+) or an
# aux composite term, so the namespace is collision-free.
DL_TERM = "\x00dl"


def _binary_from_parts(byte_buf: np.ndarray, row_nbytes: np.ndarray) -> pa.Array:
    """Zero-copy Arrow binary column from one contiguous byte buffer +
    per-row byte counts."""
    n = len(row_nbytes)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(row_nbytes, out=offsets[1:])
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(byte_buf.tobytes())]
    )


def _pack_arrays(
    offsets: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    keys: np.ndarray,
):
    """Vectorized pack of n posting lists given list offsets into flattened
    (doc_ids, tfs, dls, keys). Returns Arrow arrays (ids, tfs, dls, keys,
    block_last, block_max_tf). No per-row Python — the loops live inside
    numpy/varint byte positions. ids and keys are delta-encoded (both ascend
    within a run); tfs and dls are plain varint."""
    n = len(offsets) - 1
    total = int(offsets[-1])
    lens = np.diff(offsets)

    # delta encoding with per-row reset at list starts
    def _delta(vals: np.ndarray) -> np.ndarray:
        deltas = np.empty(total, dtype=np.uint64)
        if total:
            deltas[1:] = np.diff(vals).astype(np.uint64)
            starts = offsets[:-1][lens > 0]
            deltas[starts] = vals[starts].astype(np.uint64)
        return deltas

    id_bytes, id_nb = codec.varint_encode(_delta(doc_ids))
    key_bytes, key_nb = codec.varint_encode(_delta(keys))
    tf_bytes, tf_nb = codec.varint_encode(np.ascontiguousarray(tfs, dtype=np.uint64))
    dl_bytes, dl_nb = codec.varint_encode(np.ascontiguousarray(dls, dtype=np.uint64))
    # per-row byte counts = sum of per-value byte counts within the row
    def _row_bytes(nb: np.ndarray) -> np.ndarray:
        if total == 0:
            return np.zeros(n, dtype=np.int64)
        csum = np.zeros(total + 1, dtype=np.int64)
        np.cumsum(nb, out=csum[1:])
        return csum[offsets[1:]] - csum[offsets[:-1]]

    ids_col = _binary_from_parts(id_bytes, _row_bytes(id_nb))
    tfs_col = _binary_from_parts(tf_bytes, _row_bytes(tf_nb))
    dls_col = _binary_from_parts(dl_bytes, _row_bytes(dl_nb))
    keys_col = _binary_from_parts(key_bytes, _row_bytes(key_nb))

    # block-max metadata, vectorized across all rows
    bs = codec.BLOCK_SIZE
    n_blocks = (lens + bs - 1) // bs
    n_blocks = np.maximum(n_blocks, 0)
    total_blocks = int(n_blocks.sum())
    blk_offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_blocks, out=blk_offsets[1:])
    if total_blocks:
        blk_row = np.repeat(np.arange(n, dtype=np.int64), n_blocks)
        blk_idx_in_row = np.arange(total_blocks, dtype=np.int64) - blk_offsets[blk_row]
        blk_starts = offsets[blk_row] + blk_idx_in_row * bs
        blk_ends = np.minimum(blk_starts + bs - 1, offsets[blk_row + 1] - 1)
        block_last_vals = doc_ids[blk_ends].astype(np.int64)
        block_max_vals = np.maximum.reduceat(
            np.ascontiguousarray(tfs, dtype=np.int64), blk_starts
        )
    else:
        block_last_vals = np.empty(0, dtype=np.int64)
        block_max_vals = np.empty(0, dtype=np.int64)
    bl_col = pa.ListArray.from_arrays(blk_offsets, pa.array(block_last_vals, pa.int64()))
    bm_col = pa.ListArray.from_arrays(blk_offsets, pa.array(block_max_vals, pa.int64()))
    return ids_col, tfs_col, dls_col, keys_col, bl_col, bm_col


def packed_from_flat(flat: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Sort-based posting construction: flat → packed in ONE pass, no
    collect_list.

    ``repartition(part, term) + sortWithinPartitions(part, term, doc_id)``
    delivers each (part, term) posting list as a contiguous sorted run;
    a streaming mapInArrow detects run boundaries (pyarrow compute), packs
    every complete run vectorized, and carries the partition-trailing run
    across Arrow batches. A groupBy + collect_list pack materializes every
    posting list as a JVM array and was measured to stop scaling beyond
    ~50k docs from allocation/GC pressure; this route never does. This is
    the LSM-merge of the reference (delta segments merged sorted,
    LabInvertedIndex.setIndex) as a shuffle-sort.
    """
    spark = flat.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism * 2
    src = flat.repartition(n, "part", "term").sortWithinPartitions(
        "part", "term", "doc_id"
    )

    def _pack_runs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        carry: dict | None = None  # trailing (possibly incomplete) run

        def emit(parts_col, terms_col, offsets, doc_ids, tfs, dls, keys):
            # parts_col/terms_col are Arrow arrays of ONE entry per run —
            # terms never round-trip through Python (a 10M-row to_pylist()
            # per task dominated the pack pass before)
            lens = np.diff(offsets)
            ids_col, tfs_col, dls_col, keys_col, bl_col, bm_col = _pack_arrays(
                offsets.astype(np.int64), doc_ids, tfs, dls, keys
            )
            return pa.RecordBatch.from_arrays(
                [
                    parts_col,
                    terms_col,
                    pa.array(lens.astype(np.int64)),
                    pa.array(np.add.reduceat(tfs.astype(np.int64), offsets[:-1])
                             if len(doc_ids) else np.empty(0, np.int64)),
                    ids_col, tfs_col, dls_col, keys_col, bl_col, bm_col,
                    pa.array(doc_ids[offsets[:-1]].astype(np.int32)
                             if len(doc_ids) else np.empty(0, np.int32)),
                ],
                names=["part", "term", "df_part", "cum_tf_part",
                       "ids", "tfs", "dls", "keys",
                       "block_last", "block_max_tf", "first_id"],
            )

        def emit_carry(c):
            c_ids = np.concatenate(c["ids"])
            c_tfs = np.concatenate(c["tfs"])
            c_dls = np.concatenate(c["dls"])
            c_keys = np.concatenate(c["keys"])
            return emit(
                pa.array([c["part"]], pa.int32()),
                pa.array([c["term"]], pa.string()),
                np.array([0, len(c_ids)], np.int64), c_ids, c_tfs, c_dls, c_keys,
            )

        for batch in batches:
            parts = batch.column("part").to_numpy(zero_copy_only=False)
            terms_arr = batch.column("term")
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            tfs = batch.column("tf").to_numpy(zero_copy_only=False)
            dls = batch.column("dl").to_numpy(zero_copy_only=False)
            keys = batch.column("doc_key").to_numpy(zero_copy_only=False)
            m = len(parts)
            if m == 0:
                continue
            # run boundaries: change in part OR term
            t_change = pc.not_equal(terms_arr.slice(1), terms_arr.slice(0, m - 1))
            p_change = parts[1:] != parts[:-1]
            change = np.asarray(t_change.to_numpy(zero_copy_only=False), dtype=bool) | p_change
            starts = np.concatenate(([0], np.flatnonzero(change) + 1)).astype(np.int64)
            # merge carry with first run when the key continues
            if carry is not None:
                if carry["part"] == parts[0] and carry["term"] == terms_arr[0].as_py():
                    first_end = starts[1] if len(starts) > 1 else m
                    carry["ids"].append(doc_ids[:first_end])
                    carry["tfs"].append(tfs[:first_end])
                    carry["dls"].append(dls[:first_end])
                    carry["keys"].append(keys[:first_end])
                    if len(starts) == 1:
                        continue  # whole batch continues the carried run
                    starts = starts[1:]
                yield emit_carry(carry)
                carry = None
            # last run is always carried (next batch may continue it)
            last_start = int(starts[-1])
            carry = {
                "part": int(parts[last_start]),
                "term": terms_arr[last_start].as_py(),
                "ids": [doc_ids[last_start:]],
                "tfs": [tfs[last_start:]],
                "dls": [dls[last_start:]],
                "keys": [keys[last_start:]],
            }
            if len(starts) > 1:
                # complete runs span [starts[0], last_start); boundaries are
                # exactly `starts` (whose final element IS last_start)
                s0 = int(starts[0])
                rel = (starts - s0).astype(np.int64)
                run_starts = starts[:-1]
                yield emit(
                    pa.array(parts[run_starts], pa.int32()),
                    pc.take(terms_arr, pa.array(run_starts)),
                    rel,
                    doc_ids[s0:last_start],
                    tfs[s0:last_start],
                    dls[s0:last_start],
                    keys[s0:last_start],
                )
        if carry is not None:
            yield emit_carry(carry)

    return src.mapInArrow(_pack_runs, PACKED_SCHEMA)


def packed_fused(
    docs: DataFrame,
    text_col: str = "content",
    num_tasks: int | None = None,
    stopwords: frozenset | None = None,
    stemmer: str | None = None,
) -> DataFrame:
    """Tokenize AND pack in ONE task per doc-partition group — no flat
    shuffle at all.

    This is the reference's actual shape: MiruIndexer builds each partition's
    inverted index locally (miru-service/.../stream/MiruIndexer.java:47-126,
    per-field compose within the partition); nothing about posting-list
    construction ever crosses partitions. Spark restatement: ONE shuffle of
    content hash-partitioned by ``part``, then per task: Arrow-batched
    tokenize+tf (the flat_postings kernel), term interning, one lexsort per
    part, vectorized delta+varint pack. The 10M-row (part,term,doc_id,tf)
    shuffle + external string sort of the 'sort' strategy disappears.

    Per-task state is O(postings of its parts) — bounded by ``capacity``
    exactly like the reference's per-partition in-memory delta index; size
    ``capacity`` so one partition's postings fit an executor (Miru's own
    sizing rule). Output rows are byte-identical to packed_from_flat's (ids
    sorted per (part, term)), with or without stopwords and a stemmer; only
    row order differs.
    """
    from miru_spark.stem import get_stemmer

    stop = stopwords or None
    st = get_stemmer(stemmer)
    spark = docs.sparkSession
    n = num_tasks or spark.sparkContext.defaultParallelism * 2
    src = docs.select("part", "doc_id", "doc_key", F.col(text_col)).repartition(n, "part")

    def _tok_pack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # per part: term interner + chunked (code, doc_id, tf, key) buffers
        interns: dict[int, dict[str, int]] = {}
        bufs: dict[int, list[tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]]] = {}
        for batch in batches:
            parts = batch.column("part").to_numpy(zero_copy_only=False)
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            keys_in = batch.column("doc_key").to_numpy(zero_copy_only=False)
            # vectorized tokenize+count; the per-part intern maps only each
            # batch-dictionary term once (not every posting). Output bytes
            # are unchanged: intern order only feeds code_rank, and the
            # final per-part lexsort is by term STRING — any intern order
            # yields the same packed rows.
            ridx, codes, tfs, dict_arr = _batch_doc_term_counts(
                batch.column(text_col), stop, st
            )
            if len(ridx) == 0:
                continue
            dict_terms = dict_arr.to_pylist()
            lut = np.empty(len(dict_terms), dtype=np.int64)
            p_rows = parts[ridx]
            for p in np.unique(p_rows):
                m = p_rows == p
                intern = interns.setdefault(int(p), {})
                for c in np.unique(codes[m]):
                    lut[c] = intern.setdefault(dict_terms[c], len(intern))
                bufs.setdefault(int(p), []).append(
                    (
                        lut[codes[m]],
                        doc_ids[ridx][m].astype(np.int32),
                        tfs[m],
                        keys_in[ridx][m].astype(np.int64),
                    )
                )
        for p in sorted(bufs):
            codes = np.concatenate([c for c, _, _, _ in bufs[p]])
            docs_ = np.concatenate([d for _, d, _, _ in bufs[p]])
            tfs_ = np.concatenate([t for _, _, t, _ in bufs[p]])
            keys_ = np.concatenate([k for _, _, _, k in bufs[p]])
            # forward dl array as a sentinel posting row (docId=-1 cell
            # analog): dl per doc = Σtf, ids ascending by construction
            dl_arr = np.bincount(docs_, weights=tfs_).astype(np.int64)
            dl_ids = np.flatnonzero(dl_arr).astype(np.int32)
            dl_tfs = dl_arr[dl_ids].astype(np.int32)
            # per-doc key lookup (dense in doc_id within the part)
            key_map = np.zeros(int(docs_.max()) + 1, dtype=np.int64)
            key_map[docs_] = keys_
            dl_keys = key_map[dl_ids]
            dl_off = np.array([0, len(dl_ids)], dtype=np.int64)
            d_ids, d_tfs, d_dls, d_keys, d_bl, d_bm = _pack_arrays(
                dl_off, dl_ids, dl_tfs, dl_tfs, dl_keys
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.array([p], dtype=np.int32)),
                    pa.array([DL_TERM], pa.string()),
                    pa.array(np.array([len(dl_ids)], dtype=np.int64)),
                    pa.array(np.array([int(dl_tfs.sum())], dtype=np.int64)),
                    d_ids, d_tfs, d_dls, d_keys, d_bl, d_bm,
                    pa.array(dl_ids[:1].astype(np.int32)
                             if len(dl_ids) else np.array([0], np.int32)),
                ],
                names=["part", "term", "df_part", "cum_tf_part",
                       "ids", "tfs", "dls", "keys",
                       "block_last", "block_max_tf", "first_id"],
            )
            terms = np.array(list(interns[p].keys()))
            # sort by (term STRING, doc_id): order must match the shuffle-sort
            # strategy byte-for-byte, and intern codes are arrival-ordered
            code_rank = np.empty(len(terms), dtype=np.int64)
            code_rank[np.argsort(terms, kind="stable")] = np.arange(len(terms))
            order = np.lexsort((docs_, code_rank[codes]))
            codes, docs_, tfs_, keys_ = codes[order], docs_[order], tfs_[order], keys_[order]
            dls_ = dl_arr[docs_].astype(np.int32)
            ranked = code_rank[codes]
            starts = np.concatenate(([0], np.flatnonzero(ranked[1:] != ranked[:-1]) + 1))
            offsets = np.concatenate((starts, [len(codes)])).astype(np.int64)
            lens = np.diff(offsets)
            ids_col, tfs_col, dls_col, keys_col, bl_col, bm_col = _pack_arrays(
                offsets, docs_, tfs_, dls_, keys_
            )
            sorted_terms = terms[np.argsort(terms, kind="stable")]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.full(len(lens), p, dtype=np.int32)),
                    pa.array(sorted_terms[ranked[starts]], pa.string()),
                    pa.array(lens.astype(np.int64)),
                    pa.array(np.add.reduceat(tfs_.astype(np.int64), offsets[:-1])),
                    ids_col, tfs_col, dls_col, keys_col, bl_col, bm_col,
                    pa.array(docs_[offsets[:-1]].astype(np.int32)),
                ],
                names=["part", "term", "df_part", "cum_tf_part",
                       "ids", "tfs", "dls", "keys",
                       "block_last", "block_max_tf", "first_id"],
            )

    return src.mapInArrow(_tok_pack, PACKED_SCHEMA)


def unpack_postings(packed: DataFrame) -> DataFrame:
    """Inverse of the pack kernels → flat (part, term, doc_id, tf, dl, doc_key)."""

    def _unpack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            parts = batch.column("part").to_numpy(zero_copy_only=False)
            terms = batch.column("term").to_pylist()
            ids_col = batch.column("ids").to_pylist()
            tfs_col = batch.column("tfs").to_pylist()
            dls_col = batch.column("dls").to_pylist()
            keys_col = batch.column("keys").to_pylist()
            out_part, out_term, out_doc, out_tf = [], [], [], []
            out_dl, out_key = [], []
            for p, term, ib, tb, db, kb in zip(
                parts, terms, ids_col, tfs_col, dls_col, keys_col
            ):
                d = codec.delta_unpack(ib)
                t = codec.tf_unpack(tb)
                out_part.append(np.full(len(d), p, dtype=np.int32))
                out_term.extend([term] * len(d))
                out_doc.append(d.astype(np.int32))
                out_tf.append(t.astype(np.int32))
                out_dl.append(codec.tf_unpack(db).astype(np.int32))
                out_key.append(codec.delta_unpack(kb).astype(np.int64))
            if out_part:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_part)),
                        pa.array(out_term, pa.string()),
                        pa.array(np.concatenate(out_doc)),
                        pa.array(np.concatenate(out_tf)),
                        pa.array(np.concatenate(out_dl)),
                        pa.array(np.concatenate(out_key)),
                    ],
                    names=["part", "term", "doc_id", "tf", "dl", "doc_key"],
                )

    return packed.select("part", "term", "ids", "tfs", "dls", "keys").mapInArrow(
        _unpack, "part int, term string, doc_id int, tf int, dl int, doc_key long"
    )


def term_stats(segments: DataFrame) -> DataFrame:
    """Global per-term stats: df (# docs) and cum_tf (Σtf, the reference's
    docId=-1 global cardinality cell, LabFieldIndex.java:510-535)."""
    return segments.groupBy("term").agg(
        F.sum("df_part").alias("df"), F.sum("cum_tf_part").alias("cum_tf")
    )


def doc_meta(docs: DataFrame, postings: DataFrame) -> DataFrame:
    """(part, doc_id, doc_key, dl, content_sha) — dl (BM25 norm) is Σtf per
    doc over ``postings``, any (part, doc_id, tf) relation: the flat
    postings or a persisted forward/ wave, so content is never tokenized
    again for it. Docs with no postings get dl 0."""
    dl_df = postings.groupBy("part", "doc_id").agg(F.sum("tf").alias("dl"))
    return (
        docs.select("part", "doc_id", "doc_key", "content_sha")
        .join(dl_df, ["part", "doc_id"], "left")
        .withColumn("dl", F.coalesce(F.col("dl"), F.lit(0)).cast("long"))
    )


@dataclass
class CorpusStats:
    n_docs: int
    avgdl: float


def corpus_stats(docs: DataFrame) -> CorpusStats:
    row = docs.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return CorpusStats(n_docs=int(row["n"]), avgdl=float(row["avgdl"]))


@dataclass
class IndexHandle:
    """In-memory handle over the built index artifacts."""

    docs: DataFrame          # source + (part, doc_id, doc_key, dl, tokens, content_sha)
    flat: DataFrame          # (part, term, doc_id, tf, dl, doc_key) — self-contained for scoring
    packed: DataFrame        # delta+varint blocks
    stats: DataFrame         # (term, df, cum_tf)
    # (part, doc_id, doc_key, dl) — OFF the hot query path since postings
    # carry dl/doc_key themselves; consulted only by the doc-universe
    # fallback (pure-negation trees), TIME-with-tree, and first/latest.
    lens: DataFrame
    corpus: CorpusStats
    # loaded-from-disk index: ``flat`` is unpack_postings(packed), a Python
    # map Catalyst can NOT push term predicates through — query paths must
    # filter ``packed`` (parquet, term-sorted files → row-group pruning)
    # BEFORE unpacking. See fulltext.postings_for_terms.
    lazy: bool = False
    # auxiliary single-term field postings (part, term, doc_id) with
    # composite terms "field:value" — Miru's per-field indexes / composed
    # terms (MiruTermComposer.compose, m-plugin/index/MiruTermComposer.java:
    # 35-83). Kept separate from the scored content postings so BM25 stats
    # (df/cum_tf/dl) see only real tokens.
    aux: DataFrame | None = None
    # forward index (part, doc_id, term, tf) — the reference's activity/row
    # index (m-plugin/index/MiruActivityIndex.java) persisted by
    # index_store.build_persistent; gather-class operators read it instead
    # of decoding the whole postings relation on a loaded index.
    forward: DataFrame | None = None
    # removal index (part, doc_id): tombstoned docs ANDed OUT of every query
    # answer — MiruRemovalIndex / MiruIndexer.remove (m-plugin/index/
    # MiruRemovalIndex.java; m-service/stream/MiruIndexer.java:128-162); the
    # reference ANDs the complement via buildIndexMask
    # (m-plugin/bitmap/MiruBitmaps.java:133-139). Postings stay immutable;
    # only the mask changes — corrected/deleted documents disappear from
    # results without a rebuild.
    removed: DataFrame | None = None
    # stopword dialect the index was built with (TermAnalyzers.useStopWords
    # analog) — query parsing MUST apply the same set (top_k/wand_topk pass
    # it to parse_query automatically for string queries)
    stopwords: frozenset | None = None
    # stemming dialect ('porter' or None) — the TermAnalyzers per-locale
    # stemming analyzer analog (miru_spark.stem); applied identically at
    # ingest and query parse
    stemmer: str | None = None
    # per-part (min_doc_key, max_doc_key) from the build manifest (persisted
    # indexes only) — the reference's per-partition time-intersect short
    # circuit (FullTextCustomQuestion.java:62-67): a timeRange query skips
    # parts whose key range can't intersect BEFORE the postings scan.
    part_ranges: dict | None = None
    # driver-resident memo of (term -> (df, cum_tf) | None-for-absent) and
    # (prefix, max_expansion) -> [terms] lookups — the reference keeps field
    # stats resident per open partition (LAB field-index cardinality cells),
    # and a handle is an immutable snapshot of one index generation (upsert/
    # compact produce a NEW handle via load_index), so memoization cannot go
    # stale. Saves the per-query stats-scan Spark job for warm terms; see
    # fulltext.term_stats / fulltext._expand_prefix.
    term_stats_cache: dict | None = None
    prefix_cache: dict | None = None
    # a loaded index's committed stats directories (the merged stats*/ and
    # each listed stats_delta/wave=K): term_stats and _expand_prefix read
    # and fold them on the driver, with no Spark job. ``stats_dataset`` is
    # the pyarrow dataset over their files, opened at the first lookup.
    # None on an in-memory build, whose lookups filter ``stats``.
    stats_dirs: list | None = None
    stats_dataset: object | None = None
    # every relation this build cached/persisted — freed by unpersist() so
    # repeated builds in one session don't accumulate BlockManager entries
    cached: list = dataclass_field(default_factory=list)

    def unpersist(self, blocking: bool = False) -> None:
        for df in self.cached:
            df.unpersist(blocking)
        self.cached.clear()


def aux_postings(
    docs: DataFrame, aux_fields: list[str], numeric_fields: list[str] | None = None
) -> DataFrame:
    """(part, doc_id, doc_key, term) single-term field postings with composite
    terms ``field:value`` — the reference's per-field primary indexes with
    composed term bytes (MiruTermComposer.compose prefix encoding,
    m-plugin/index/MiruTermComposer.java:35-83; singleTerm field type,
    m-api/activity/schema/MiruFieldDefinition.java:59-113). The ':' separator
    cannot occur in a content token ([a-z0-9_']+), so the namespaces never
    collide. No tokenization, no tf — one row per (doc, field). doc_key rides
    each row so the single-scan tree evaluator never joins doclens.

    ``numeric_fields`` compose via the lexicographic fixed-width numeric
    encoding (miru_spark.termcomp; MiruTermComposer.Prefix.Type.numeric) so
    ``field:[lo TO hi]`` range filters run as term-range scans."""
    from pyspark.sql.types import ArrayType

    from miru_spark.termcomp import numeric_composite_col

    parts = []
    for f in numeric_fields or []:
        parts.append(
            docs.select(
                "part", "doc_id", "doc_key",
                numeric_composite_col(f, F.col(f)).alias("term"),
            )
        )
    for f in aux_fields:
        if isinstance(docs.schema[f].dataType, ArrayType):
            # multi-valued aux field (multiTerm / authz label arrays): one
            # composite-term row per value — the reference's per-label authz
            # posting lists (m-plugin/index/MiruAuthzIndex.java) and
            # multiTerm primary indexes share this shape
            parts.append(
                docs.select(
                    "part", "doc_id", "doc_key", F.explode(F.col(f)).alias("_v")
                ).select(
                    "part",
                    "doc_id",
                    "doc_key",
                    F.concat(F.lit(f + ":"), F.lower(F.col("_v").cast("string"))).alias("term"),
                )
            )
        else:
            parts.append(
                docs.select(
                    "part",
                    "doc_id",
                    "doc_key",
                    F.concat(F.lit(f + ":"), F.lower(F.col(f).cast("string"))).alias("term"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_index(
    docs_source: DataFrame,
    text_col: str = "content",
    dense_id_col: str | None = None,
    natural_key: list[str] | None = None,
    capacity: int = DEFAULT_CAPACITY,
    cache: bool = True,
    spread: int | None = None,
    strategy: str = "sort",
    aux_fields: list[str] | None = None,
    numeric_aux_fields: list[str] | None = None,
    pack_partitions: int | None = None,
    schema=None,
    stopwords: frozenset | None = None,
    stemmer: str | None = None,
) -> IndexHandle:
    """``strategy``: 'sort' (default — shuffle-sort streaming pack,
    packed_from_flat) or 'fused' (per-partition tokenize+pack in one task,
    packed_fused; capacity-guarded). Both produce byte-identical packed rows;
    any other value raises ValueError.

    ``spread``: explicit input repartition width for the tokenize stage.
    None → 3× defaultParallelism; 0 → keep the source layout. A numbered
    repartition is exempt from AQE partition coalescing, which otherwise
    shrinks the (CPU-bound, Python-side) tokenize stage to a handful of
    tasks on small-file inputs — measured 3.5× on the bench corpus. At
    cluster scale with wide inputs, pass spread=0.

    ``schema``: a miru_spark.schema.MiruSchema — when given it DRIVES field
    selection (text_col = the cardinality field, aux_fields = indexed
    single-term fields) and validates that every schema field exists in the
    source, mirroring the reference's registered-schema contract."""
    if strategy not in ("sort", "fused"):
        raise ValueError(f"unknown strategy {strategy!r}; expected 'sort' or 'fused'")
    text_col, aux_fields, numeric_aux_fields = resolve_fields(
        schema, docs_source.columns, text_col, aux_fields, numeric_aux_fields
    )
    sc = docs_source.sparkSession.sparkContext
    n_parts = None
    if natural_key is not None:
        # count on the raw source (metadata-only on parquet)
        n_parts = max(1, -(-docs_source.count() // capacity))
    if spread is None:
        spread = sc.defaultParallelism * 3
    cached: list = []
    docs = prepare_docs(
        docs_source, text_col, dense_id_col, natural_key, capacity, n_parts, tracker=cached
    )
    # CONTENT IS NEVER CACHED. Caching the id-assigned source (round-1
    # design) pushed ~0.5 GB of strings through the single local-mode
    # BlockManager and anti-scaled 8→32 threads; the same columnar cache
    # write is pure overhead on a real cluster too (content is consumed
    # exactly once, by the tokenize pass). Instead: the tiny id relation is
    # cached inside prepare_docs, the doc-meta pass reads a content-free
    # projection (sha computed at the scan, column pruned immediately), and
    # the only content movement is ONE shuffle into the tokenize stage.
    slim = docs.select("part", "doc_id", "doc_key", "content_sha")
    lazy = False
    if strategy == "fused":
        # fail fast when the per-task posting buffer cannot fit: the fused
        # kernel holds one doc-partition's postings in memory (the
        # reference's own sizing rule), so capacity × postings/doc must fit
        # the per-core budget — an OOM mid-build is strictly worse than
        # this error. The 'sort' strategy has no such coupling.
        cap_limit = fused_capacity_limit(docs_source.sparkSession)
        if capacity > cap_limit:
            raise ValueError(
                f"strategy='fused' buffers one partition's postings per task: "
                f"capacity={capacity} exceeds the safe limit ~{cap_limit} for "
                f"this session's memory/cores. Lower capacity, raise executor "
                f"memory, or use strategy='sort' (unbounded shuffle-sort path)."
            )
        # per-partition fused tokenize+pack (the MiruIndexer shape): one
        # content shuffle by part, zero posting shuffles. dl comes from the
        # sentinel DL_TERM posting row emitted by the kernel; flat is a
        # decode view over cached packed, and queries term-prune the packed
        # relation first (lazy=True).
        packed_all = packed_fused(docs, text_col, pack_partitions, stopwords, stemmer)
        # packed_all feeds ≥3 consumers (postings filter → stats/queries,
        # the DL sentinel → doc lengths, corpus-stats action) — persist it
        # REGARDLESS of the cache flag or the whole tokenize+pack kernel
        # re-executes per consumer. It is compact (delta+varint binaries);
        # MEMORY_AND_DISK so the cache=False cluster path spills rather than
        # recomputes.
        from pyspark import StorageLevel

        packed_all = packed_all.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(packed_all)
        if cache:
            slim = slim.cache()
            cached.append(slim)
        # the DL_TERM sentinel rows carry the forward dl array; real
        # postings exclude them (queries term-filter anyway, but full-scan
        # ops like gather must not see the sentinel)
        packed = packed_all.filter(F.col("term") != DL_TERM)
        dl_rows = unpack_postings(
            packed_all.filter(F.col("term") == DL_TERM)
        ).select("part", "doc_id", F.col("tf").cast("long").alias("dl"))
        flat = unpack_postings(packed)
        meta = slim.join(dl_rows, ["part", "doc_id"], "left").withColumn(
            "dl", F.coalesce(F.col("dl"), F.lit(0))
        )
        lazy = True
    else:
        # spread the tokenize input AFTER id assignment: AQE coalescing
        # otherwise leaves the CPU-bound Arrow tokenize stage with as few
        # tasks as the source has files. A numbered repartition is
        # AQE-coalesce-exempt. Measured 3.5× at local[32].
        tok_src = docs.repartition(spread) if spread else docs
        flat = flat_postings(tok_src, text_col, stopwords, stemmer)
        if cache:
            slim = slim.cache()
            flat = flat.cache()
            cached.extend([slim, flat])
        meta = doc_meta(slim, flat)
        # sort-based merge: shuffle-sort delivers each posting list as a
        # contiguous run, packed streaming — no JVM array materialization,
        # hot terms handled by the external sort. pack partition count
        # should derive from DATA VOLUME at cluster scale (callers size it);
        # default falls back to cluster width
        packed = packed_from_flat(flat, pack_partitions)
        if cache:
            # packed is compact (delta+varint binaries); caching it keeps
            # term_stats and the WAND query path from re-running the
            # shuffle-sort pack
            packed = packed.cache()
            cached.append(packed)
    stats = term_stats(packed.select("term", "df_part", "cum_tf_part"))
    if cache:
        stats = stats.cache()
        cached.append(stats)
    # corpus stats WITHOUT aggregating the per-doc meta relation: n_docs is
    # the (cached) id-relation count, and Σdl ≡ Σtf over the postings (a
    # doc's length is the sum of its term frequencies by construction), so
    # avg(dl) = Σtf / n computed as one map-side-combinable sum instead of
    # the flat groupBy(part, doc_id) + left-join the meta aggregate paid.
    # Integer totals are exact (< 2^53) and both the JVM's avg and Python's
    # float division produce the correctly-rounded IEEE quotient of the
    # same two integers, so the BM25 avgdl is bit-identical.
    n_docs = docs.count()
    if strategy == "fused":
        total_dl = dl_rows.agg(F.sum("dl")).collect()[0][0]
    else:
        total_dl = flat.agg(F.sum(F.col("tf").cast("long"))).collect()[0][0]
    return IndexHandle(
        docs=docs,
        flat=flat,
        packed=packed,
        stats=stats,
        lens=meta.select("part", "doc_id", "doc_key", "dl"),
        corpus=CorpusStats(n_docs=int(n_docs), avgdl=float(total_dl) / n_docs),
        aux=(
            aux_postings(docs, aux_fields or [], numeric_aux_fields)
            if (aux_fields or numeric_aux_fields)
            else None
        ),
        lazy=lazy,
        stopwords=stopwords,
        stemmer=stemmer,
        cached=cached,
    )
