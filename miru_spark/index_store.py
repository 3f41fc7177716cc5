"""Persistent index layout + resumable build (SURVEY.md §7 step 6).

Layout under ``index_dir``:

    manifest.json            checkpoint/lineage (miru_spark.checkpoint) —
                             the SINGLE commit point for every mutation
                             (atomic tmp+rename save); artifacts a crashed
                             mutation left behind are invisible because
                             loads read only manifest-listed waves/batches
    segments/wave=K/         packed posting segments for that wave's parts
                             (parquet, sorted by term within files so the
                             query-time `term IN (...)` prunes row groups)
    postings/                merged term-range layout (compaction bumps a
                             generation: postings_gN/, tracked in manifest)
    stats/                   global (term, df, cum_tf) as 4 ascending term
                             ranges, each file sorted by term (stats_gN/
                             after compaction); repair deltas live in
                             stats_delta/wave=K. The query path's term
                             and prefix lookups read and fold them on the
                             driver with pyarrow (fulltext.term_stats),
                             footer term ranges pruning the row groups.
                             Old unsorted stats answer the same, only
                             without the pruning.
    doclens/wave=K/          (part, doc_id, doc_key, dl, content_sha)
    forward/wave=K/          forward index (part, doc_id, term, tf) — the
                             reference's activity/row index
                             (m-plugin/index/MiruActivityIndex.java), sorted
                             by (part, doc_id) so gather-class operators
                             semi-join it instead of decoding all postings
    aux/                     field postings; repair deltas in aux_delta/wave=K
    removed/batch_*/         tombstone instance batches, manifest-listed

Build = waves of doc-partitions. One writer (``_write_wave``) serves the
build and the repair: from one flat posting relation it writes segments/
(shuffle-sort pack) and forward/ (doc-sorted flat rows) — flat is not
persisted, so each of the two writes runs the tokenize kernel; doclens/ is
Σtf over the forward wave just written (JVM-only, no further tokenize, no
decode of the segments); then the manifest commits the wave. A final
merge stage range-partitions all segments by term (the north_rule's
range-partitioned merge; hot terms span multiple (part) rows so the range
partitioner splits them across output files — and in-wave, one posting list
is bounded by ``capacity``). A killed build resumes at wave granularity
without recomputing finished waves.

Repair/append (``upsert_docs``) is O(delta), mirroring the reference's
in-memory delta + chit-budget merge (miru-service/.../partition/
MiruMergeChits.java:8-16, LargestFirstMergeChits.java:20-90): the repair
wave lands as a DELTA segment that ``load_index`` unions into the postings
relation (same term-sorted parquet, so `term IN` pruning still pushes into
both branches), its per-term stat adjustments land in stats_delta/, and
``compact()`` folds deltas into the merged layout under an explicit
largest-first posting budget — never as a side effect of a repair.

Each rule of that cycle has one private function: ``_ready_manifest``
gates remove/upsert/compact/load (ready, this ``FORMAT_VERSION``);
``_write_merged`` writes the merged postings/stats/aux for the build's merge
stage and ``compact``; ``_with_deltas`` unions a merged relation with its
listed delta waves and ``_fold_stats`` folds the stats, for ``load_index``
and ``compact``; ``_generation_dirs`` lists the compaction generations that
a fresh build and ``compact`` sweep.

Every read names its directories — manifest-listed waves, never a
``wave=*`` glob — and declares its artifact's schema (``_SCHEMAS``), so no
read opens a footer to infer one. ``load_index`` also lists, unopened, the
files the driver reads with pyarrow (``index_files.IndexFiles``): the
stats, the packed postings and the removal batches.
"""

from __future__ import annotations

import glob as _glob
import json
import math
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from miru_spark.checkpoint import Manifest
from miru_spark.index_files import IndexFiles
from miru_spark.operators import build as B
from miru_spark.schema import resolve_fields
from miru_spark.session import local_frame

# Bumped whenever the on-disk layout changes (e.g. the first_id packed column,
# per-wave forward flags; v3: removed/ stores (part, doc_id, doc_key) instances
# so version repair can tombstone the OLD instance of a doc_key without
# masking its replacement; v4: per-posting dls/keys packed columns make the
# postings self-contained for scoring; v5: delta-wave repair — manifest-listed
# delta segments + stats_delta/aux_delta folded at load, removal batches
# manifest-listed, per-part doc_key ranges for timeRange partition pruning,
# generation-named compaction output). Part of the fingerprint, so an index
# written by older code forces a clean rebuild instead of mixing schemas
# across waves; _ready_manifest refuses older dirs outright.
FORMAT_VERSION = 5

_BASE_DIRS = {"postings": "postings", "stats": "stats", "aux": "aux"}


def _ready_manifest(index_dir: str) -> tuple[dict, frozenset | None, str | None]:
    """(manifest, stopwords, stemmer) of a built index. Refuses an index
    whose build has not committed ``ready`` and one of another
    ``format_version``: older layouts lack columns like packed.first_id,
    and mixing them corrupts queries silently."""
    with open(os.path.join(index_dir, "manifest.json")) as f:
        mdata = json.load(f)
    if not mdata["stages"].get("ready"):
        raise ValueError(f"index at {index_dir} is not ready — build (or resume) it first")
    fp = mdata.get("fingerprint", {})
    if fp.get("format_version") != FORMAT_VERSION:
        raise ValueError(
            f"index at {index_dir} has format_version={fp.get('format_version')} "
            f"(need {FORMAT_VERSION}) — rebuild it"
        )
    stopwords = frozenset(fp["stopwords"].split(",")) if fp.get("stopwords") else None
    return mdata, stopwords, fp.get("stemmer") or None


def _generation_dirs(index_dir: str) -> list[str]:
    """Every compaction generation on disk: postings_gN/, stats_gN/, aux_gN/."""
    return [p for base in _BASE_DIRS for p in _glob.glob(f"{index_dir}/{base}_g*")]


def _dirs(mdata: dict) -> dict:
    """Live merged-artifact directory names (compaction bumps generations)."""
    return dict(mdata.get("dirs", _BASE_DIRS))


def _delta_waves(mdata: dict) -> list[int]:
    return [int(k) for k in mdata.get("delta_waves", [])]


def _committed_waves(mdata: dict) -> list[int]:
    return sorted(int(k) for k in mdata["waves"])


# Each artifact's declared schema, by the directory that holds it (a delta
# directory holds its merged artifact's rows). Every read declares its
# schema, so none opens a footer to infer one (~80 ms a relation);
# _ready_manifest refuses the older layouts a declared schema would not fit.
_SCHEMAS = {
    "postings": B.PACKED_SCHEMA,
    "stats": "term string, df long, cum_tf long",
    "aux": "part int, doc_id int, doc_key long, term string",
    "doclens": "part int, doc_id int, doc_key long, content_sha string, dl long",
    "forward": "part int, doc_id int, term string, tf int",
    "removed": "part int, doc_id int, doc_key long",
}
_SCHEMAS.update(segments=_SCHEMAS["postings"], stats_delta=_SCHEMAS["stats"],
                aux_delta=_SCHEMAS["aux"])


def _read(spark: SparkSession, sub: str, *paths: str) -> DataFrame:
    """The parquet directories ``paths`` of artifact ``sub`` as one scan,
    with its declared schema."""
    return spark.read.schema(_SCHEMAS[sub]).parquet(*paths)


def _files(sub: str, paths: list[str]) -> IndexFiles:
    """The parquet files under ``paths`` of artifact ``sub``, for the
    driver's pyarrow reads (hidden and ``_`` files skipped, as Spark does)."""
    files = [
        os.path.join(p, f) for p in paths for f in sorted(os.listdir(p))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    return IndexFiles(files, to_arrow_schema(StructType.fromDDL(_SCHEMAS[sub])))


def _read_committed(spark: SparkSession, index_dir: str, sub: str, waves: list[int]) -> DataFrame:
    """{sub}/wave=K for manifest-COMMITTED waves only, in one scan —
    directories a crashed (uncommitted) mutation left behind are invisible
    to readers."""
    return _read(spark, sub, *(f"{index_dir}/{sub}/wave={k}" for k in waves))


def _delta_paths(index_dir: str, base: str, delta_sub: str, waves: list[int],
                 optional: bool = False) -> list[str]:
    """``base`` and ``{delta_sub}/wave=K`` for each listed K. A listed
    wave's directory must exist unless ``optional`` (aux_delta/)."""
    deltas = [f"{index_dir}/{delta_sub}/wave={k}" for k in waves]
    return [f"{index_dir}/{base}"] + [p for p in deltas if not optional or os.path.isdir(p)]


def _with_deltas(
    spark: SparkSession, index_dir: str, base: str, delta_sub: str, waves: list[int],
    optional: bool = False,
) -> DataFrame:
    """The merged relation ``base`` ∪ ``{delta_sub}/wave=K`` for each listed
    K: one scan per wave, unioned in order. Delta segments share the merged
    term-sorted layout, so `term IN` pushes into every branch."""
    paths = _delta_paths(index_dir, base, delta_sub, waves, optional)
    out = _read(spark, delta_sub, paths[0])
    for p in paths[1:]:
        out = out.unionByName(_read(spark, delta_sub, p))
    return out


def _fold_stats(stats: DataFrame) -> DataFrame:
    """One (term, df, cum_tf) row per term of merged stats ∪ their deltas:
    exact integer sums; a term whose every posting was repaired away drops."""
    return (
        stats.groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cum_tf").alias("cum_tf"))
        .filter(F.col("df") > 0)
    )


def _write_merged(
    index_dir: str, suffix: str, postings: DataFrame, stats: DataFrame,
    aux: DataFrame | None, merge_partitions: int | None,
) -> None:
    """Write postings{suffix}/, stats{suffix}/ and (given aux rows)
    aux{suffix}/: postings range-partitioned by (term, part) and sorted, so
    each file holds one ascending term range that `term IN` prunes; stats
    as 4 sorted term ranges, so a driver-side lookup opens only the files
    whose range covers its terms; aux by term range. Idempotent overwrites,
    invisible until the caller's manifest commit."""
    n_merge = merge_partitions or max(4, postings.sparkSession.sparkContext.defaultParallelism)
    (
        postings.repartitionByRange(n_merge, "term", "part")
        .sortWithinPartitions("term", "part")
        .write.mode("overwrite")
        .parquet(f"{index_dir}/postings{suffix}")
    )
    if aux is not None:
        (
            aux.repartitionByRange(max(2, n_merge // 4), "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(f"{index_dir}/aux{suffix}")
        )
    # last: its range sample must not shift the RDD-id-seeded split points
    # of the postings and aux written above
    (
        stats.repartitionByRange(4, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(f"{index_dir}/stats{suffix}")
    )


def _write_wave(
    index_dir: str,
    wave_id: int,
    wave_docs: DataFrame,
    spread: int,
    text_col: str,
    stopwords: frozenset | None,
    stemmer: str | None,
) -> dict:
    """Write one wave's segments/, forward/ and doclens/ from ONE flat
    posting relation and return its per-part lineage counters (segments and
    postings per part, plus docs and the part's doc_key range for timeRange
    pruning). ``spread`` as in build_index (0 keeps the layout of
    ``wave_docs``). Every write is an idempotent per-wave overwrite that
    stays invisible until the caller's manifest commit."""
    spark = wave_docs.sparkSession
    tokenize_src = wave_docs.repartition(spread) if spread else wave_docs
    flat = B.flat_postings(tokenize_src, text_col, stopwords, stemmer)
    (
        B.packed_from_flat(flat)
        .repartition("part")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(f"{index_dir}/segments/wave={wave_id}")
    )
    # doc-sorted so gather's semi-join prunes files; only the 4 forward
    # columns — dl/doc_key stay in the postings
    (
        flat.select("part", "doc_id", "term", "tf")
        .repartition("part")
        .sortWithinPartitions("part", "doc_id", "term")
        .write.mode("overwrite")
        .parquet(f"{index_dir}/forward/wave={wave_id}")
    )
    # dl = Σtf over the forward rows just written: a JVM-only aggregate,
    # no third tokenize of the content
    B.doc_meta(
        wave_docs, spark.read.parquet(f"{index_dir}/forward/wave={wave_id}")
    ).write.mode("overwrite").parquet(f"{index_dir}/doclens/wave={wave_id}")
    counters = {
        str(r["part"]): {"n_segments": r["n_segments"], "n_postings": r["n_postings"]}
        for r in spark.read.parquet(f"{index_dir}/segments/wave={wave_id}")
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_segments"), F.sum("df_part").alias("n_postings"))
        .collect()
    }
    for r in (
        wave_docs.groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_key").alias("mn"),
            F.max("doc_key").alias("mx"),
        )
        .collect()
    ):
        c = counters.setdefault(str(r["part"]), {})
        c["n_docs"] = r["n"]
        c["min_key"] = int(r["mn"])
        c["max_key"] = int(r["mx"])
    return counters


@dataclass
class BuildReport:
    n_parts: int
    n_waves: int
    waves_run: int
    waves_skipped: int
    n_docs: int


def build_persistent(
    docs_source: DataFrame,
    index_dir: str,
    text_col: str = "content",
    dense_id_col: str | None = None,
    natural_key: list[str] | None = None,
    capacity: int = B.DEFAULT_CAPACITY,
    wave_size: int = 8,
    merge_partitions: int | None = None,
    fail_after_wave: int | None = None,
    spread: int | None = None,
    aux_fields: list[str] | None = None,
    numeric_aux_fields: list[str] | None = None,
    schema=None,
    stopwords: frozenset | None = None,
    stemmer: str | None = None,
) -> BuildReport:
    """Resumable build of the persistent index. ``fail_after_wave`` injects a
    crash after that wave's commit (kill-resume tests only). ``spread`` as in
    build_index (tokenize-stage parallelism; 0 keeps the source layout).
    ``schema`` (miru_spark.schema.MiruSchema) drives text/aux field selection
    as in build_index."""
    text_col, aux_fields, numeric_aux_fields = resolve_fields(
        schema, docs_source.columns, text_col, aux_fields, numeric_aux_fields
    )
    spark = docs_source.sparkSession
    n_parts = None
    if natural_key is not None:
        n_parts = max(1, -(-docs_source.count() // capacity))
    if spread is None:
        spread = spark.sparkContext.defaultParallelism * 3
    docs = B.prepare_docs(
        docs_source, text_col, dense_id_col, natural_key, capacity, n_parts
    ).cache()
    try:
        # content digest in the fingerprint: an order-insensitive sum of per-row
        # sha CRCs, so a same-row-count build over CHANGED content restarts from
        # scratch instead of silently skipping completed waves and serving a
        # stale index. One extra agg over the already-cached docs.
        frow = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.col("content_sha"))).alias("sha_sum"),
        ).collect()[0]
        n_docs = int(frow["n"])
        fingerprint = {
            "format_version": FORMAT_VERSION,
            "n_docs": n_docs,
            "content_digest": int(frow["sha_sum"] or 0),
            "capacity": capacity,
            "text_col": text_col,
            "id": dense_id_col or ",".join(natural_key or []),
            "aux": ",".join(aux_fields or []),
            "num_aux": ",".join(numeric_aux_fields or []),
            "stopwords": ",".join(sorted(stopwords or [])),
            "stemmer": stemmer or "",
        }
        manifest = Manifest.load_or_create(index_dir, fingerprint)
        if not manifest.data["waves"]:
            # fresh manifest (new build OR fingerprint-mismatch restart): delete
            # any stale wave/stage directories from a previous fingerprint so
            # a listed wave=K directory can never hold old data
            for sub in (
                "segments", "doclens", "forward", "postings", "stats", "aux",
                "removed", "aux_delta", "stats_delta",
            ):
                p = f"{index_dir}/{sub}"
                if os.path.isdir(p):
                    shutil.rmtree(p)
            for p in _generation_dirs(index_dir):
                shutil.rmtree(p, ignore_errors=True)

        parts = sorted(r["part"] for r in docs.select("part").distinct().collect())
        n_waves = math.ceil(len(parts) / wave_size)
        waves_run = waves_skipped = 0

        for wave_id in range(n_waves):
            if manifest.wave_done(wave_id):
                waves_skipped += 1
                continue
            wave_parts = parts[wave_id * wave_size : (wave_id + 1) * wave_size]
            wave_docs = docs.filter(F.col("part").isin(wave_parts))
            counters = _write_wave(
                index_dir, wave_id, wave_docs, spread, text_col, stopwords, stemmer
            )
            manifest.commit_wave(wave_id, wave_parts, counters)
            waves_run += 1
            if fail_after_wave is not None and wave_id >= fail_after_wave:
                raise RuntimeError(f"injected failure after wave {wave_id}")

        # merge stage: global term-range layout + stats (idempotent overwrite)
        if not manifest.stage_done("ready") or waves_run:
            committed = _committed_waves(manifest.data)
            all_segments = _read_committed(spark, index_dir, "segments", committed)
            aux = None
            if aux_fields or numeric_aux_fields:
                aux = B.aux_postings(docs, aux_fields or [], numeric_aux_fields)
            _write_merged(
                index_dir, "", all_segments, B.term_stats(all_segments), aux, merge_partitions
            )
            all_lens = _read_committed(spark, index_dir, "doclens", committed)
            row = all_lens.agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("dl").alias("avgdl"),
                F.sum("dl").alias("sum_dl"),
            ).collect()[0]
            manifest.commit_stage("segments")
            manifest.commit_stage("stats")
            manifest.commit_stage(
                "ready",
                n_docs=int(row["n"]),
                avgdl=float(row["avgdl"]),
                # exact integer Σdl: repair updates n_docs/avgdl INCREMENTALLY
                # (O(delta)); dl sums are < 2^53 so the double avg is exact
                sum_dl=int(row["sum_dl"] or 0),
                n_parts=len(parts),
            )
        return BuildReport(
            n_parts=len(parts),
            n_waves=n_waves,
            waves_run=waves_run,
            waves_skipped=waves_skipped,
            n_docs=n_docs,
        )
    finally:
        docs.unpersist()


def remove_docs(spark: SparkSession, index_dir: str, doc_keys: list[int]) -> int:
    """Tombstone documents of a persisted index by doc_key — the reference's
    MiruIndexer.remove / MiruRemovalIndex (m-service/stream/MiruIndexer.java:
    128-162): posting segments stay IMMUTABLE; queries AND the removal
    complement (buildIndexMask, m-plugin/bitmap/MiruBitmaps.java:133-139).
    Each call writes one manifest-listed batch directory; the manifest save
    is the atomic commit (a crash beforehand leaves an invisible orphan
    directory that the next batch simply overwrites). Idempotent at read
    time (the mask is a set); a fingerprint-mismatch rebuild wipes
    ``removed/`` because a rebuilt index assigns fresh doc identities."""
    mdata, _, _ = _ready_manifest(index_dir)
    keys = local_frame(spark, [(int(k),) for k in doc_keys], "doc_key long")
    # tombstones are INSTANCES (part, doc_id, doc_key), resolved against the
    # committed doc-length relation: after a version repair the same doc_key
    # has a live replacement instance, and removing the key then tombstones
    # BOTH (delete-after-repair = doc fully gone)
    inst = (
        _read_committed(spark, index_dir, "doclens", _committed_waves(mdata))
        .select("part", "doc_id", "doc_key")
        .join(F.broadcast(keys), "doc_key", "left_semi")
    )
    batches = list(mdata.get("removal_batches", []))
    name = f"batch_{len(batches)}"
    inst.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/removed/{name}")
    mdata.setdefault("removal_batches", []).append(name)
    Manifest(path=os.path.join(index_dir, "manifest.json"), data=mdata).save()
    return len(doc_keys)


def upsert_docs(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    doc_key_col: str | None = None,
    fail_before_commit: bool = False,
) -> dict:
    """Version repair on a persisted index — MiruIndexer.set for a doc that
    arrives with a higher version (m-service/stream/MiruIndexer.java:128-162):
    the old content must vanish from every answer and the new content must
    index, while posting segments stay IMMUTABLE.

    O(delta) restatement (the reference's in-memory delta + merge-chit shape,
    LargestFirstMergeChits.java:20-90): (1) write a REPAIR WAVE of fresh
    (part, doc_id) identities carrying the SAME doc_key with the new content
    (parts numbered beyond every existing part so identities never collide),
    (2) stage the old instances' tombstones as a removal batch, (3) write the
    wave's per-term stat DELTA (new contributions minus the tombstoned
    instances' contributions, from the partition-pruned forward index — the
    repair set is small, so never a corpus rescan). Nothing under the merged
    ``postings/`` or ``stats/`` is touched — ``load_index`` unions the delta
    wave in, and ``compact()`` folds deltas under an explicit budget.

    Crash atomicity: every artifact is an idempotent per-wave overwrite or an
    unlisted batch dir; the ONE manifest save at the end is the commit point.
    A crash before it leaves the index serving the pre-repair state exactly;
    a retry overwrites the orphan wave. ``fail_before_commit`` injects that
    crash (tests only). After repair, query results equal a fresh build over
    the repaired corpus (asserted in tests/test_resume.py) — with one
    documented exception (r6 ADVICE): n_docs/avgdl derive incrementally
    from stage_info, so docs tombstoned by a PRIOR ``remove_docs`` stay
    counted in the global idf/avgdl cells until ``compact()``. This matches
    the reference's unadjusted global cardinality cells (LabFieldIndex
    keeps the docId=-1 cell un-decremented on removal); a
    remove-then-upsert sequence therefore scores with the pre-removal
    corpus constants, not a fresh-build's.

    ``doc_key_col`` defaults to the build's dense id column; a natural-key
    index must pass resolved doc_keys explicitly. Unknown doc_keys are pure
    inserts (the reference's set-with-no-prior). Repair batches are expected
    ≪ capacity (the reference repairs doc-at-a-time); the old-instance set is
    collected driver-side to pin the pre-repair instance listing."""
    mdata, stopwords, stemmer = _ready_manifest(index_dir)
    fp = mdata["fingerprint"]
    text_col = fp["text_col"]
    capacity = int(fp["capacity"])
    aux_fields = [c for c in fp.get("aux", "").split(",") if c]
    num_aux = [c for c in fp.get("num_aux", "").split(",") if c]
    key_col = doc_key_col or fp["id"]
    if not key_col or "," in key_col:
        raise ValueError(
            "natural-key index: pass doc_key_col with pre-resolved doc_keys"
        )

    from pyspark.sql import Window

    rep = new_docs.withColumn("content_sha", B.content_sha_col(text_col)).withColumn(
        "doc_key", F.col(key_col).cast("long")
    )
    n_rep = rep.count()
    if n_rep == 0:
        return {"repaired": 0, "inserted": 0, "wave": None}
    if rep.select("doc_key").distinct().count() != n_rep:
        raise ValueError("upsert batch has duplicate doc_keys")

    committed = _committed_waves(mdata)
    wave_id = max(committed) + 1
    # committed-only doclens: a crashed upsert's orphan wave is invisible, so
    # a retry resolves the SAME old instances it did the first time
    lens_old = _read_committed(spark, index_dir, "doclens", committed)
    old_inst = (
        lens_old.select("part", "doc_id", "doc_key", "dl")
        .join(F.broadcast(rep.select("doc_key")), "doc_key", "left_semi")
        .collect()
    )
    # fresh part numbers come from the MANIFEST (no extra scan): parts are
    # wave-exclusive, so max over all committed counters is the ceiling
    max_part = max(
        (int(p) for w in mdata["waves"].values() for p in w["counters"]), default=0
    )
    repair_base = max_part + 1

    # validate EVERY precondition before the first write — cheap fail-fast
    # (no write below is destructive pre-commit, but a doomed repair
    # shouldn't burn cluster time either)
    if aux_fields or num_aux:
        missing = [c for c in aux_fields + num_aux if c not in rep.columns]
        if missing:
            raise ValueError(f"upsert docs missing indexed aux fields: {missing}")
    info = dict(mdata.get("stage_info", {}).get("ready", {}))
    if "sum_dl" not in info:  # pragma: no cover — v5 builds always record it
        r = lens_old.agg(F.sum("dl").alias("s")).collect()[0]
        info["sum_dl"] = int(r["s"] or 0)

    n_rep_parts = max(1, -(-n_rep // capacity))
    rep = rep.withColumn(
        "part",
        (F.lit(repair_base) + F.pmod(F.xxhash64("doc_key"), F.lit(n_rep_parts))).cast("int"),
    )
    w = Window.partitionBy("part").orderBy("doc_key")
    rep = rep.withColumn("doc_id", (F.row_number().over(w) - 1).cast("int")).cache()

    # ---- wave artifacts: idempotent per-wave overwrites, all UNCOMMITTED
    # until the single manifest save below
    counters = _write_wave(index_dir, wave_id, rep, 0, text_col, stopwords, stemmer)
    for c in counters.values():
        c["repair"] = True
    if aux_fields or num_aux:
        # a DELTA dir (not an append into aux/): overwrite-idempotent on
        # retry, invisible until commit; load_index unions it in
        B.aux_postings(rep, aux_fields, num_aux).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/aux_delta/wave={wave_id}")

    # tombstones for the old instances, staged as an unlisted batch
    rm_batch = f"batch_r{wave_id}"
    if old_inst:
        local_frame(
            spark,
            [(r["part"], r["doc_id"], r["doc_key"]) for r in old_inst],
            "part int, doc_id int, doc_key long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/removed/{rm_batch}")

    # per-term stat DELTA: the wave's contributions minus the tombstoned
    # instances' (df, Σtf), the latter from the forward index restricted to
    # the old instances' parts (partition-pruned semi-join — O(delta)).
    # Without the subtraction the repaired terms double-count and BM25
    # diverges from a fresh build. Plain remove_docs deliberately does NOT
    # adjust stats (the reference keeps global cells; the removal oracle
    # models that); repair must, because the replacement re-contributes.
    delta_stats = B.term_stats(spark.read.parquet(f"{index_dir}/segments/wave={wave_id}"))
    if old_inst:
        old_parts = sorted({r["part"] for r in old_inst})
        old_df = local_frame(
            spark, [(r["part"], r["doc_id"]) for r in old_inst], "part int, doc_id int"
        )
        rm_flat = (
            _read_committed(spark, index_dir, "forward", committed)
            .filter(F.col("part").isin(old_parts))
            .join(F.broadcast(old_df), ["part", "doc_id"], "left_semi")
        )
        rm_stats = rm_flat.groupBy("term").agg(
            F.count(F.lit(1)).alias("df_rm"), F.sum("tf").alias("cum_tf_rm")
        )
        delta_stats = (
            delta_stats.join(rm_stats, "term", "full_outer")
            .select(
                "term",
                (F.coalesce("df", F.lit(0)) - F.coalesce("df_rm", F.lit(0)))
                .cast("long")
                .alias("df"),
                (F.coalesce("cum_tf", F.lit(0)) - F.coalesce("cum_tf_rm", F.lit(0)))
                .cast("long")
                .alias("cum_tf"),
            )
        )
    delta_stats.coalesce(1).write.mode("overwrite").parquet(
        f"{index_dir}/stats_delta/wave={wave_id}"
    )

    # ---- incremental corpus stats: O(delta), never a doclens rescan.
    # dl sums are exact integers (< 2^53), so avgdl = Σdl / n is the same
    # double a fresh build's F.avg would produce.
    wrow = (
        spark.read.parquet(f"{index_dir}/doclens/wave={wave_id}")
        .agg(F.sum("dl").alias("s"))
        .collect()[0]
    )
    rm_dl = sum(int(r["dl"]) for r in old_inst)
    n_new = int(info["n_docs"]) - len(old_inst) + n_rep
    sum_dl_new = int(info["sum_dl"]) - rm_dl + int(wrow["s"] or 0)
    if n_new <= 0:
        raise ValueError("repair would leave an empty corpus")

    rep.unpersist()

    if fail_before_commit:
        raise RuntimeError("injected failure before upsert commit")

    # ---- THE commit point: one atomic manifest save flips everything live
    import time as _time

    mdata["waves"][str(wave_id)] = {
        "parts": sorted(int(p) for p in counters),
        "counters": counters,
        "committed_at": _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime()),
    }
    mdata.setdefault("delta_waves", []).append(wave_id)
    if old_inst:
        mdata.setdefault("removal_batches", []).append(rm_batch)
    mdata.setdefault("stage_info", {})["ready"] = {
        "n_docs": n_new,
        "avgdl": sum_dl_new / n_new,
        "sum_dl": sum_dl_new,
        "n_parts": int(info.get("n_parts", 0)) + n_rep_parts,
    }
    Manifest(path=os.path.join(index_dir, "manifest.json"), data=mdata).save()
    return {
        "repaired": len(old_inst),
        "inserted": n_rep - len({r["doc_key"] for r in old_inst}),
        "wave": wave_id,
    }


def compact(
    spark: SparkSession,
    index_dir: str,
    max_postings: int | None = None,
    merge_partitions: int | None = None,
) -> dict:
    """Fold repair delta waves into the merged postings/stats/aux layout —
    the reference's budgeted merge (MiruMergeChits.java:8-16 +
    LargestFirstMergeChits.java:20-90): LARGEST delta first, stop once the
    merged-posting budget (``max_postings``, None = unlimited) is spent; at
    least one delta merges per call so progress is guaranteed.

    Query results are IDENTICAL before and after (asserted in tests): the
    merge only moves rows between the base and delta branches of the load
    union, and stats deltas fold by exact integer addition. Aux rows of
    tombstoned instances are dropped here (they were already masked at query
    time — compaction is where the ghost rows die).

    Crash atomicity: output lands in fresh generation-named dirs
    (postings_gN/…); the single manifest save flips the live dir pointers +
    the remaining delta list, then the old generation is deleted
    best-effort. A crash anywhere leaves the old manifest pointing at the
    old, untouched generation; orphan staging dirs are swept on retry."""
    mdata, _, _ = _ready_manifest(index_dir)
    deltas = _delta_waves(mdata)
    if not deltas:
        return {"merged": [], "remaining": [], "gen": mdata.get("gen", 0)}
    dirs = _dirs(mdata)

    # sweep staging orphans from crashed compactions (dirs not pointed at)
    live = set(dirs.values())
    for p in _generation_dirs(index_dir):
        if os.path.basename(p) not in live:
            shutil.rmtree(p, ignore_errors=True)
    # also reclaim the un-suffixed generation-0 dirs: a crash between the
    # FIRST compaction's manifest commit and its old-dir delete leaves
    # base postings/stats/aux orphaned, and the generation glob above
    # never matches them (r6 ADVICE — disk leak only, reads stay correct)
    for base in _BASE_DIRS:
        if dirs.get(base, base) != base and os.path.isdir(f"{index_dir}/{base}"):
            shutil.rmtree(f"{index_dir}/{base}", ignore_errors=True)

    # largest-first under the chit budget
    sizes = {
        k: sum(int(c.get("n_postings", 0)) for c in mdata["waves"][str(k)]["counters"].values())
        for k in deltas
    }
    selected: list[int] = []
    budget = max_postings
    for k in sorted(deltas, key=lambda k: -sizes[k]):
        if selected and budget is not None and budget < sizes[k]:
            continue
        selected.append(k)
        if budget is not None:
            budget -= sizes[k]
    remaining = [k for k in deltas if k not in selected]

    gen = int(mdata.get("gen", 0)) + 1
    new_dirs = {"postings": f"postings_g{gen}", "stats": f"stats_g{gen}", "aux": dirs["aux"]}
    new_aux = None
    if os.path.isdir(f"{index_dir}/{dirs['aux']}"):
        new_aux = _with_deltas(spark, index_dir, dirs["aux"], "aux_delta", selected, optional=True)
        # drop tombstoned instances' ghost aux rows (ADVICE r5): they are
        # masked at query time anyway — compaction reclaims the space
        batches = mdata.get("removal_batches", [])
        if batches:
            rm = _read_removed(spark, index_dir, batches)
            new_aux = new_aux.join(rm, ["part", "doc_id"], "left_anti")
        new_dirs["aux"] = f"aux_g{gen}"
    _write_merged(
        index_dir, f"_g{gen}",
        _with_deltas(spark, index_dir, dirs["postings"], "segments", selected),
        _fold_stats(_with_deltas(spark, index_dir, dirs["stats"], "stats_delta", selected)),
        new_aux, merge_partitions,
    )

    # THE commit point
    old_dirs = [d for k, d in dirs.items() if new_dirs[k] != d]
    mdata["dirs"] = new_dirs
    mdata["gen"] = gen
    mdata["delta_waves"] = remaining
    Manifest(path=os.path.join(index_dir, "manifest.json"), data=mdata).save()
    for d in old_dirs:
        shutil.rmtree(f"{index_dir}/{d}", ignore_errors=True)
    for k in selected:  # merged deltas are dead weight now
        shutil.rmtree(f"{index_dir}/stats_delta/wave={k}", ignore_errors=True)
        shutil.rmtree(f"{index_dir}/aux_delta/wave={k}", ignore_errors=True)
    return {"merged": sorted(selected), "remaining": remaining, "gen": gen}


def _read_removed(spark: SparkSession, index_dir: str, batches: list[str]) -> DataFrame:
    """(part, doc_id) of every tombstoned instance. A plain union, not a
    distinct: every reader is an anti-join or the packed kernel's id set,
    where a repeat changes nothing, and a distinct would put an exchange
    into every query plan of a repaired index."""
    out = None
    for b in batches:
        df = _read(spark, "removed", f"{index_dir}/removed/{b}").select("part", "doc_id")
        out = df if out is None else out.unionByName(df)
    return out


def load_index(spark: SparkSession, index_dir: str, docs: DataFrame | None = None) -> B.IndexHandle:
    """Open a persisted index as an IndexHandle (flat view decoded lazily).

    Readers see only manifest-COMMITTED state: waves, removal batches and
    delta waves are read from the directories the manifest lists — so an
    index with a crashed (uncommitted) mutation loads exactly as if the
    mutation never started. Every relation declares its schema, so the
    load opens no parquet file. Delta waves (un-compacted repairs) union
    into the postings/stats/aux relations; `term IN` pruning pushes into
    every branch because delta segments share the term-sorted parquet
    layout. The files the driver reads (stats, packed postings, removal
    batches) are listed on the handle, unopened."""
    mdata, stopwords, stemmer = _ready_manifest(index_dir)
    info = mdata.get("stage_info", {}).get("ready", {})
    committed = _committed_waves(mdata)
    deltas = _delta_waves(mdata)
    dirs = _dirs(mdata)

    packed = _with_deltas(spark, index_dir, dirs["postings"], "segments", deltas)
    stats = _with_deltas(spark, index_dir, dirs["stats"], "stats_delta", deltas)
    if deltas:
        stats = _fold_stats(stats)

    lens = _read_committed(spark, index_dir, "doclens", committed)

    aux = None
    if os.path.isdir(os.path.join(index_dir, dirs["aux"])):
        aux = _with_deltas(spark, index_dir, dirs["aux"], "aux_delta", deltas, optional=True)
    # every committed wave wrote forward/, so the committed glob is complete
    forward = _read_committed(spark, index_dir, "forward", committed)
    removed = removed_files = None
    batches = mdata.get("removal_batches", [])
    if batches:
        removed = _read_removed(spark, index_dir, batches)
        removed_files = _files("removed", [f"{index_dir}/removed/{b}" for b in batches])

    # per-part doc_key ranges (timeRange partition pruning) from the wave
    # counters — repair instances keep their ORIGINAL doc_key in a fresh
    # part, so ranges must come from observed keys, never part<<32 structure
    part_ranges: dict[int, tuple[int, int]] = {}
    for w in mdata["waves"].values():
        for p, c in w["counters"].items():
            if "min_key" in c:
                part_ranges[int(p)] = (int(c["min_key"]), int(c["max_key"]))

    return B.IndexHandle(
        docs=docs,
        flat=B.unpack_postings(packed),
        packed=packed,
        stats=stats,
        # the query path's term lookups and bounded top-k read these on the
        # driver (fulltext.term_stats, wand.packed_topk); the relations
        # serve every other reader
        stats_files=_files("stats", _delta_paths(index_dir, dirs["stats"], "stats_delta", deltas)),
        packed_files=_files("segments", _delta_paths(index_dir, dirs["postings"], "segments", deltas)),
        removed_files=removed_files,
        lens=lens.select("part", "doc_id", "doc_key", "dl"),
        corpus=B.CorpusStats(n_docs=int(info["n_docs"]), avgdl=float(info["avgdl"])),
        lazy=True,
        aux=aux,
        forward=forward,
        removed=removed,
        stopwords=stopwords,
        stemmer=stemmer,
        part_ranges=part_ranges or None,
    )
