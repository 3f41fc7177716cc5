"""Full-text top-k query over the inverted index (SURVEY.md §2.4, §3.2).

Two scorers, both with the reference's tie-break (score desc, doc id desc —
miru-stream-plugins/.../fulltext/FullTextAnswer.java:80-89):

* ``bm25`` — Okapi BM25 (k1=1.2, b=0.75), idf = ln(1 + (N-df+0.5)/(df+0.5)).
  The north_rule's primary scorer.
* ``miru_tfidf`` — the reference's exact formula: per query term,
  multiplier = qtf / Σtf(global); score_d = Σ multiplier * tf(t,d)
  (miru-stream-plugins/.../fulltext/FullText.java:118-127, 188-199; Σtf is
  the docId=-1 global cardinality cell, LabFieldIndex.java:474-476).
* ``time`` — the TIME strategy: newest k docs, score 0.0
  (FullText.collectTime, FullText.java:222-251).

Determinism: per-doc scores are summed in ascending term order via
``aggregate(array_sort(collect_list(struct(term, contrib))))`` so float
results are bit-stable across partition counts and match the DuckDB oracle's
``list_aggregate(list(c ORDER BY term), 'sum')`` op-for-op. Emitted scores
are rounded to 6 decimals (``F.round``, HALF_UP) and the rounded value is
the sort key.

Planning runs no Spark job on a loaded index: the term dictionary — each
query term's (df, cum_tf) and each prefix clause's expansion — is read on
the driver from the stats files (pyarrow, pruned by their footer term
ranges; delta waves folded as at load) and memoized per handle
(``term_stats`` / ``_expand_prefix``). A prefix is literal: the term range
[prefix, upper_exclusive(prefix)), not a SQL ``LIKE``.

Plan shape at scale: the only big-table touch is the postings scan with the
query terms pushed down (`term IN (...)` reaches the parquet reader). A
LOADED index's flat BM25 / tf-idf query without constraint or authz masks
then runs one Arrow kernel per part (``wand.packed_topk``, shared with
``wand_topk``): the scan — plus the removal index's rows — reaches the
kernel in one task while Σdf fits ``_DECODE_POSTINGS_PER_TASK``, else hashed
by part; the kernel decodes, masks, sums each doc's contributions in the
same ascending order and cuts each part to its top-k, and the JVM rounds
and takes the ordered LIMIT — no join, no aggregate. Every other query —
in-memory indexes, trees, masks, TIME — folds relationally: the query-term
table, per-term stats folded in, is a driver-built Arrow ``LocalRelation``
(``session.local_frame``) on the build side of a broadcast join, so shipping
it runs no Python worker. The winners→docs gather join happens after LIMIT
(lazy materialization, FullText.java:204-217).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miru_spark.filters import (
    Clause,
    Leaf,
    Node,
    QuerySpec,
    collect_scoring_leaves,
    parse_query,
)
from miru_spark.operators.build import IndexHandle
from miru_spark.session import local_frame
from miru_spark.termcomp import prefix_range

K1 = 1.2
B = 0.75


def parts_for_time_range(index: IndexHandle, time_range) -> list[int] | None:
    """Doc-partitions whose doc_key range intersects [lo, hi] — the
    reference's per-partition time-intersect short circuit
    (FullTextCustomQuestion.java:62-67): non-intersecting partitions are
    skipped BEFORE the postings scan/decode. Ranges come from the build
    manifest's observed per-part key min/max (repair instances keep their
    original doc_key in a fresh part, so structure can't be assumed).
    Returns None when no pruning info applies (no range, in-memory index)."""
    if time_range is None or not index.part_ranges:
        return None
    lo, hi = int(time_range[0]), int(time_range[1])
    return sorted(
        p for p, (mn, mx) in index.part_ranges.items() if mx >= lo and mn <= hi
    )


def _part_pruned(df: DataFrame, parts: list[int] | None) -> DataFrame:
    if parts is None:
        return df
    if not parts:
        return df.filter(F.lit(False))
    return df.filter(F.col("part").isin(parts))


def postings_for_terms(
    index: IndexHandle, terms: list[str], parts: list[int] | None = None
) -> DataFrame:
    """(part, term, doc_id, tf, dl, doc_key) for exactly the given terms,
    with the term predicate reaching the parquet scan. Rows are
    self-contained for scoring (dl + doc_key packed per posting).
    ``parts`` (from parts_for_time_range) additionally prunes the scan to
    the partitions a timeRange can intersect — pruning a posting row is
    safe exactly when its whole PART is out of range, because a doc lives
    in one part and an out-of-range part contains no in-range docs.

    On an in-memory build ``flat`` is a cached relation — filtering it is
    cheap. On a LOADED index ``flat`` is unpack_postings(packed), a Python
    mapInArrow that Catalyst cannot push `term IN (...)` through — filtering
    it decodes EVERY posting list. There we filter ``packed`` first (that
    scan IS parquet, term-sorted within files for row-group pruning —
    index_store layout) and unpack only the surviving rows."""
    from miru_spark.operators.build import unpack_postings

    if index.lazy:
        pk = _part_pruned(index.packed.filter(F.col("term").isin(terms)), parts)
        width = _decode_width(index, terms)
        if width:
            pk = pk.coalesce(width)
        return unpack_postings(pk)
    # in-memory flat: the cached scan stays at its native width — a
    # coalesce here was A/B-measured neutral-to-harmful (the cache filter
    # must read every cached row regardless of Σdf, so narrowing the scan
    # serializes real work, unlike the lazy path where the parquet filter
    # prunes row groups before decode)
    return _part_pruned(index.flat.filter(F.col("term").isin(terms)), parts)


# decode-stage sizing: each decode task is a Python/Arrow worker round trip
# with a fixed cost (measured ~72 ms of wall per task slot for a no-op
# mapInArrow task at local[4] on a 4-core host), against 25-45 cpu-ms to
# decode a full 262144-posting task and ~10 more for the packed kernel to
# score and cut it (wand._part_terms/_score_part/_part_cut on synthetic
# lists, 4 terms × 2 parts, the same 4-core host). So a task of this size
# is still mostly fixed cost: a term-pruned decode over the pack's full
# width pays ~width× that for mostly-empty partitions, while one more task
# per budget's worth of postings keeps a hot query's kernel time per task
# near the fixed cost. The per-handle stats memo knows the EXACT total df
# for the query's terms before the plan is built, so the width derives from
# data volume — small queries run in ONE task (a coalesce: no exchange),
# huge ones spread by part. df is a property of the DATA, not the session,
# so N-core and 4N-core runs still build identical plans (the
# scaling-bench invariant).
_DECODE_POSTINGS_PER_TASK = 262144


def _decode_width(index: IndexHandle, terms: list[str]) -> int | None:
    """Target decode-partition count for a term-pruned unpack, or None to
    keep the pack's native width (very wide term lists, or a target at or
    above it). A failing stats lookup raises."""
    if len(terms) > 256:
        return None
    total = sum(df for df, _ in term_stats(index, terms).values())
    width = max(1, -(-total // _DECODE_POSTINGS_PER_TASK))
    native = getattr(index, "_packed_width", None)
    if native is None:
        native = index.packed.rdd.getNumPartitions()
        index._packed_width = native
    return width if width < native else None


_STATS_CACHE_MAX = 1_000_000
_PREFIX_CACHE_MAX = 16_384
_STATS_SCHEMA = pa.schema([("term", pa.string()), ("df", pa.int64()), ("cum_tf", pa.int64())])


def _read_stats(
    index: IndexHandle, flt: pc.Expression, limit: int | None = None
) -> list[tuple[str, int, int]]:
    """(term, df, cum_tf) rows of a loaded handle's stats files that match
    the pyarrow filter ``flt``, ascending by term and cut to the first
    ``limit``, read on the driver: no Spark job. Delta-wave rows fold as
    index_store._fold_stats folds them: exact integer sums per term, terms
    with df ≤ 0 dropped. The first lookup reads every file's footer once;
    later ones open only the files whose row-group term ranges the filter
    can match."""
    dset = index.stats_dataset
    if dset is None:
        files = [f for d in index.stats_dirs for f in ds.dataset(d, format="parquet").files]
        dset = ds.dataset(files, schema=_STATS_SCHEMA, format="parquet")
        for frag in dset.get_fragments():
            frag.ensure_complete_metadata()
        index.stats_dataset = dset
    # one thread: a lookup reads a few row groups, and the query's CPU
    # stays on the calling thread
    t = (
        dset.to_table(filter=flt, use_threads=False)
        .group_by("term", use_threads=False)
        .aggregate([("df", "sum"), ("cum_tf", "sum")])
        .filter(pc.field("df_sum") > 0)
        .sort_by("term")
        .slice(0, limit)
    )
    return list(zip(*(t[c].to_pylist() for c in ("term", "df_sum", "cum_tf_sum"))))


def _term_in(terms: list[str]) -> pc.Expression:
    """OR of ``term == t``: footer statistics prune it, where pyarrow cannot
    prune an ``is_in``. Balanced, so a long term list nests shallowly."""
    if len(terms) == 1:
        return pc.field("term") == terms[0]
    half = len(terms) // 2
    return _term_in(terms[:half]) | _term_in(terms[half:])


def term_stats(index: IndexHandle, terms: list[str]) -> dict[str, tuple[int, int]]:
    """Per-handle memoized (df, cum_tf) lookups of the term dictionary.

    The reference serves term cardinalities from the open partition's
    resident field index (MiruFieldIndex.multiGet / getGlobalCardinality —
    m-plugin/index/MiruFieldIndex.java:18-42 — memory/LAB-backed, never a
    re-scan per query); an IndexHandle is an immutable snapshot of one
    index generation (upsert/compact produce a NEW handle via load_index),
    so memoization cannot go stale. On a loaded index cold terms are read
    on the driver from the stats files (``_read_stats`` over ``_term_in``),
    so no lookup runs a Spark job; an in-memory build filters its cached
    ``stats`` relation in one job. Warm terms — including absent ones,
    memoized as None — cost nothing."""
    cache = index.term_stats_cache
    if cache is None:
        cache = index.term_stats_cache = {}
    if len(cache) > _STATS_CACHE_MAX:  # bound driver-resident memo
        # clear BEFORE computing `missing`: clearing after would evict warm
        # terms of the CURRENT query that `missing` no longer covers, and
        # the query would silently score as if those terms don't exist
        cache.clear()
    missing = [t for t in terms if t not in cache]
    if missing:
        if index.stats_dirs is not None:
            rows = _read_stats(index, _term_in(missing))
        else:
            rows = (
                index.stats.filter(F.col("term").isin(missing))
                .select("term", "df", "cum_tf")
                .collect()
            )
        fetched = {t: (df, cum_tf) for t, df, cum_tf in rows}
        for t in missing:
            cache[t] = fetched.get(t)
    return {t: cache[t] for t in terms if cache.get(t) is not None}


def _expand_prefix(index: IndexHandle, prefix: str, max_expansion: int) -> list[str]:
    """Memoized lexicographic dictionary range scan for one prefix clause,
    capped at max_expansion (MiruAggregateUtil.java:826-839 +
    MiruTermComposer.makeUpperExclusive): the terms in
    [prefix, upper_exclusive(prefix)), so the prefix is literal. The
    expanded terms' (df, cum_tf) seed the term_stats memo, so scoring them
    needs no second lookup. Same snapshot argument as term_stats — a
    handle's dictionary never changes under it."""
    cache = index.prefix_cache
    if cache is None:
        cache = index.prefix_cache = {}
    key = (prefix, max_expansion)
    hit = cache.get(key)
    if hit is None:
        if len(cache) > _PREFIX_CACHE_MAX:
            cache.clear()
        if index.stats_dirs is not None:
            rows = _read_stats(index, prefix_range(pc.field("term"), prefix), max_expansion)
        else:
            rows = (
                index.stats.filter(prefix_range(F.col("term"), prefix))
                .select("term", "df", "cum_tf")
                .orderBy("term")
                .limit(max_expansion)
                .collect()
            )
        if index.term_stats_cache is None:
            index.term_stats_cache = {}
        for t, df, cum_tf in rows:
            index.term_stats_cache[t] = (df, cum_tf)
        hit = cache[key] = [t for t, _, _ in rows]
    return hit


def expand_clauses(index: IndexHandle, spec: QuerySpec) -> list[tuple[str, int, int]]:
    """Resolve prefix clauses against the term dictionary.

    Returns [(term, qtf, clause_id)]. Wildcard expansion is a lexicographic
    range scan of the dictionary capped at max_expansion, mirroring
    MiruAggregateUtil.java:826-839 + MiruTermComposer.makeUpperExclusive.
    """
    out: list[tuple[str, int, int]] = []
    for cid, cl in enumerate(spec.positive):
        if not cl.prefix:
            out.append((cl.term, cl.qtf, cid))
            continue
        out.extend(
            (t, cl.qtf, cid)
            for t in _expand_prefix(index, cl.term, spec.max_expansion)
        )
    return out


def expand_negatives(index: IndexHandle, spec: QuerySpec) -> list[str]:
    terms: list[str] = []
    for cl in spec.negative:
        if cl.prefix:
            terms.extend(_expand_prefix(index, cl.term, spec.max_expansion))
        else:
            terms.append(cl.term)
    return terms


def _query_relation(index: IndexHandle, expanded: list[tuple[str, int, int]]):
    """ONE broadcast relation (term, qtf, clause, df, cum_tf) for the scoring
    join: the ≤max_expansion per-term stats rows come from the per-handle
    term_stats memo (a driver-side read on a loaded index's cold terms) and
    fold into the query-term table, so the hot path pays a single broadcast
    join instead of two. The table is built on the driver as an Arrow
    ``LocalRelation`` (``local_frame``): the broadcast's build side is a
    JVM ``LocalTableScan``, with no Python-worker task per query. Unknown
    terms drop out here — they have no postings, so the result is identical
    (an unknown AND-clause still yields the empty set because its clause id
    can never reach the matched count).

    Returns (q_relation, known_terms)."""
    spark = index.stats.sparkSession
    terms = sorted({t for t, _, _ in expanded})
    srows = term_stats(index, terms)
    rows = [
        (t, qtf, cid, srows[t][0], srows[t][1])
        for t, qtf, cid in expanded
        if t in srows
    ]
    q = local_frame(
        spark, rows, "term string, qtf int, clause int, df long, cum_tf long"
    )
    return q, sorted({t for t, _, _, _, _ in rows})


def _contrib_col(scorer: str, n_docs: int, avgdl: float) -> F.Column:
    tf = F.col("tf").cast("double")
    qtf = F.col("qtf").cast("double")
    if scorer == "bm25":
        idf = F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        )
        tfn = (tf * F.lit(K1 + 1.0)) / (
            tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.lit(avgdl))
        )
        return qtf * idf * tfn
    if scorer == "miru_tfidf":
        # exact reference op order: (qtf * tf) / cum_tf  (FullText.java:118-127)
        return (qtf * tf) / F.col("cum_tf")
    raise ValueError(f"unknown scorer {scorer}")


def score_candidates(index: IndexHandle, spec: QuerySpec) -> DataFrame:
    """(part, doc_id, doc_key, score, matched) for every doc matching ≥1
    positive clause, minus docs matching any negative term (pButNotQ)."""
    spark = index.stats.sparkSession  # docs may be absent on a loaded index
    expanded = expand_clauses(index, spec)
    if not expanded:
        return local_frame(
            spark, [], "part int, doc_id int, doc_key long, score double, matched long"
        )
    q, terms = _query_relation(index, expanded)
    if not terms:
        return local_frame(
            spark, [], "part int, doc_id int, doc_key long, score double, matched long"
        )

    # the posting rows are SELF-CONTAINED for scoring (tf + dl + doc_key
    # packed per posting — build.PACKED_SCHEMA): no join against the
    # O(corpus) doclens relation; the only big-table touch stays the
    # term-pruned (and, under a timeRange, part-pruned) postings scan
    pparts = parts_for_time_range(index, spec.time_range)
    cand = postings_for_terms(index, terms, pparts).join(F.broadcast(q), "term")
    contrib = cand.withColumn(
        "contrib", _contrib_col(spec.scorer, index.corpus.n_docs, index.corpus.avgdl)
    )
    # single-task-sized queries (Σdf under one task's postings budget, the
    # common point-query case) pre-partition BY THE GROUPING KEYS into ONE
    # partition: the groupBy reuses this exchange (same keys ⇒ distribution
    # satisfied), collapsing scan→agg→top-k into a 1-exchange plan with no
    # AQE coalesce round-trip — measured −18% warm latency on a single-term
    # query. Larger queries keep the default shuffle: their partial
    # aggregation compresses multi-term docs BEFORE the exchange, which the
    # keyed repartition would forfeit (measured +20% on a 100-term prefix).
    # Σdf comes from the warm stats memo — a data property, so plans stay
    # identical across session widths.
    srows = term_stats(index, terms)  # memo hit — no job
    if sum(df for df, _ in srows.values()) <= _DECODE_POSTINGS_PER_TASK:
        contrib = contrib.repartition(1, "part", "doc_id", "doc_key")
    scored = contrib.groupBy("part", "doc_id", "doc_key").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("score"),
        F.count_distinct("clause").alias("matched"),
    )
    if spec.op == "and":
        scored = scored.filter(F.col("matched") == len(spec.positive))
    neg_terms = expand_negatives(index, spec)
    if neg_terms:
        # pruning the NEGATIVE scan by the same part set is safe: an
        # in-range candidate's negative posting lives in the same part
        neg_docs = postings_for_terms(index, neg_terms, pparts).select("part", "doc_id")
        scored = scored.join(neg_docs, ["part", "doc_id"], "left_anti")
    return scored


def leaf_doc_set(index: IndexHandle, leaf: Leaf, max_expansion: int = 100) -> DataFrame:
    """(part, doc_id) distinct doc set for one field filter.

    Default field resolves against the scored content postings (prefix via
    capped dictionary expansion); named fields resolve against the aux
    composite-term relation ``field:value`` (MiruFieldFilter semantics)."""
    if leaf.field:
        if index.aux is None:
            # unindexed field ⇒ empty set (the reference refuses unknown
            # schema fields; empty is the conservative batch analog)
            spark = index.stats.sparkSession
            return local_frame(spark, [], "part int, doc_id int")
        if leaf.num_range is not None:
            # numeric range = lexicographic term-RANGE scan of the composed
            # aux terms (MiruTermComposer numeric prefix + rawRangeTerm,
            # m-plugin/index/MiruTermComposer.java:130-141) — the BETWEEN
            # predicate pushes to the term-sorted aux parquet
            from miru_spark.termcomp import numeric_composite_py

            lo = numeric_composite_py(leaf.field, leaf.num_range[0])
            hi = numeric_composite_py(leaf.field, leaf.num_range[1])
            return (
                index.aux.filter(F.col("term").between(lo, hi))
                .select("part", "doc_id")
                .distinct()
            )
        composite = f"{leaf.field}:{leaf.term}"
        pred = (
            prefix_range(F.col("term"), composite)
            if leaf.prefix
            else F.col("term") == composite
        )
        return index.aux.filter(pred).select("part", "doc_id").distinct()
    if leaf.prefix:
        terms = _expand_prefix(index, leaf.term, max_expansion)
    else:
        terms = [leaf.term]
    return postings_for_terms(index, terms).select("part", "doc_id").distinct()


def eval_filter(
    index: IndexHandle, node: Node | Leaf | None, max_expansion: int = 100
) -> DataFrame:
    """Recursive MiruFilter evaluation → (part, doc_id) doc set.

    The reference's filterInOut bitmap walk (MiruAggregateUtil.java:794-874)
    as relational set algebra: AND = inner join, OR = union+distinct,
    pButNotQ = left-anti against the union of Q (P = full index mask when
    None). Catalyst sees the whole tree — empty-branch short circuits and
    join reordering are free."""
    if node is None:
        return index.lens.select("part", "doc_id")
    if isinstance(node, Leaf):
        return leaf_doc_set(index, node, max_expansion)
    kids = node.children
    if node.op == "and":
        out = eval_filter(index, kids[0], max_expansion)
        for c in kids[1:]:
            out = out.join(eval_filter(index, c, max_expansion), ["part", "doc_id"])
        return out
    if node.op == "or":
        out = eval_filter(index, kids[0], max_expansion)
        for c in kids[1:]:
            out = out.unionByName(eval_filter(index, c, max_expansion))
        return out.distinct()
    if node.op == "pButNotQ":
        p = eval_filter(index, kids[0], max_expansion)
        q = eval_filter(index, kids[1], max_expansion)
        for c in kids[2:]:
            q = q.unionByName(eval_filter(index, c, max_expansion))
        return p.join(q, ["part", "doc_id"], "left_anti")
    raise ValueError(f"unknown filter op {node.op}")


def _not_removed(index: IndexHandle, df: DataFrame) -> DataFrame:
    """AND the removal index's complement into a (part, doc_id, …) relation —
    the reference's buildIndexMask = all-ids ANDNOT removal
    (m-plugin/bitmap/MiruBitmaps.java:133-139), applied to every answer."""
    if index.removed is None:
        return df
    return df.join(
        index.removed.select("part", "doc_id"), ["part", "doc_id"], "left_anti"
    )


def _apply_masks(index: IndexHandle, scored: DataFrame, spec: QuerySpec) -> DataFrame:
    """AND the timeRange and constraintsFilter masks into a candidate
    relation carrying (part, doc_id, doc_key) — the askLocal mask chain
    (FullTextCustomQuestion.java:89-114)."""
    out = _not_removed(index, scored)
    if spec.time_range is not None:
        lo, hi = spec.time_range
        out = out.filter(F.col("doc_key").between(int(lo), int(hi)))
    for c in spec.constraints:
        out = out.join(
            leaf_doc_set(index, c, spec.max_expansion), ["part", "doc_id"], "left_semi"
        )
    if spec.authz is not None:
        # composite authz = OR of the per-label posting sets, ANDed into the
        # answer (LabAuthzIndex.getCompositeAuthz:80-86; askLocal:105-107);
        # an empty expression (NOT_PROVIDED) sees nothing
        if not spec.authz:
            return out.limit(0)
        mask = leaf_doc_set(index, Leaf(spec.authz[0].lower(), "authz"), spec.max_expansion)
        for v in spec.authz[1:]:
            mask = mask.unionByName(
                leaf_doc_set(index, Leaf(v.lower(), "authz"), spec.max_expansion)
            )
        out = out.join(mask.distinct(), ["part", "doc_id"], "left_semi")
    return out


def _expanded_scoring_terms(index: IndexHandle, spec: QuerySpec) -> list[tuple[str, int, int]]:
    """Scoring (term, qtf, clause) triples for a TREE query: positive-context
    default-field leaves with occurrence counts (collectTerm), prefixes
    expanded against the dictionary."""
    counts: dict[tuple[str, bool], int] = {}
    for lf in collect_scoring_leaves(spec.tree):
        key = (lf.term, lf.prefix)
        counts[key] = counts.get(key, 0) + 1
    flat_spec = QuerySpec(
        positive=[Clause(t, p, q) for (t, p), q in counts.items()],
        max_expansion=spec.max_expansion,
    )
    return expand_clauses(index, flat_spec)


def _collect_eval_leaves(node: Node | Leaf | None, acc: list[Leaf]) -> None:
    """DFS leaf collection in the exact order _tree_flag_expr consumes flags
    (a None pButNotQ P-child consumes nothing)."""
    if node is None:
        return
    if isinstance(node, Leaf):
        acc.append(node)
        return
    for c in node.children:
        _collect_eval_leaves(c, acc)


def _tree_flag_expr(node: Node | Leaf | None, counter, flag) -> F.Column:
    """The filter tree as ONE boolean Catalyst expression over per-leaf
    membership flags — the filterInOut bitmap walk (MiruAggregateUtil.java:
    794-874) evaluated in a single pass instead of a join per node."""
    if node is None:
        return F.lit(True)
    if isinstance(node, Leaf):
        return flag(next(counter))
    if node.op == "and":
        out = _tree_flag_expr(node.children[0], counter, flag)
        for c in node.children[1:]:
            out = out & _tree_flag_expr(c, counter, flag)
        return out
    if node.op == "or":
        out = _tree_flag_expr(node.children[0], counter, flag)
        for c in node.children[1:]:
            out = out | _tree_flag_expr(c, counter, flag)
        return out
    if node.op == "pButNotQ":
        p = _tree_flag_expr(node.children[0], counter, flag)
        q = _tree_flag_expr(node.children[1], counter, flag)
        for c in node.children[2:]:
            q = q | _tree_flag_expr(c, counter, flag)
        return p & ~q
    raise ValueError(f"unknown filter op {node.op}")


def _satisfiable_with_no_hits(node: Node | Leaf | None) -> bool:
    """True when a doc with ZERO matching leaves can satisfy the tree (pure
    negation / None mask) — such docs never appear in the leaf-term scan, so
    the single-scan evaluator is incomplete and must fall back."""
    if node is None:
        return True
    if isinstance(node, Leaf):
        return False
    vals = [_satisfiable_with_no_hits(c) for c in node.children]
    if node.op == "and":
        return all(vals)
    if node.op == "or":
        return any(vals)
    # pButNotQ: P with no hits, and no Q hit (Q leaves are unhit by premise)
    return vals[0]


def top_k_tree(index: IndexHandle, spec: QuerySpec) -> DataFrame:
    """Top-k for a nested filter tree: candidates + scores in ONE pass.

    Single-scan design (the round-3 q_nested_bool fix): every leaf's term
    set is resolved up front, ONE union scan of (content postings ∪ aux
    postings) restricted to those terms produces (part, doc_id, term, tf)
    rows, and a single groupBy computes BOTH the per-leaf membership flags
    (max(when(term ∈ leaf))) and the ascending-term score fold. The boolean
    tree (plus constraints / authz / timeRange) then filters as one
    expression — no join or union per tree node, one shuffle total. Docs
    matching only non-scoring branches keep score 0, like the reference's
    unscored filter hits. Trees a zero-hit doc could satisfy (bare NOT with
    no other mask) fall back to the relational set-algebra path."""
    fallback_needed = _satisfiable_with_no_hits(spec.tree) and not spec.constraints and not (
        spec.authz  # non-empty authz labels AND into the flags; [] returns early
    )
    if not fallback_needed:
        return _top_k_tree_single_scan(index, spec)
    cand = eval_filter(index, spec.tree, spec.max_expansion).join(
        index.lens, ["part", "doc_id"]
    )
    cand = _apply_masks(index, cand, spec)
    expanded = _expanded_scoring_terms(index, spec)
    if expanded:
        q, terms = _query_relation(index, expanded)
    if expanded and terms:
        contrib = (
            postings_for_terms(index, terms)
            .join(F.broadcast(q), "term")
            .withColumn(
                "contrib",
                _contrib_col(spec.scorer, index.corpus.n_docs, index.corpus.avgdl),
            )
        )
        scored = contrib.groupBy("part", "doc_id").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "contrib"))),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ).alias("score")
        )
        res = cand.join(scored, ["part", "doc_id"], "left").withColumn(
            "score", F.coalesce(F.col("score"), F.lit(0.0))
        )
    else:
        res = cand.withColumn("score", F.lit(0.0))
    return (
        res.withColumn("score_r", F.round("score", 6))
        .orderBy(F.desc("score_r"), F.desc("doc_key"))
        .limit(spec.k)
        .select(F.col("doc_key").alias("doc"), F.col("score_r").alias("score"))
    )


def _top_k_tree_single_scan(index: IndexHandle, spec: QuerySpec) -> DataFrame:
    """One-scan / one-shuffle tree evaluation (see top_k_tree docstring)."""
    import itertools

    spark = index.stats.sparkSession
    if spec.authz is not None and not spec.authz:
        return local_frame(spark, [], "doc long, score double")
    tree_leaves: list[Leaf] = []
    _collect_eval_leaves(spec.tree, tree_leaves)
    n_tree = len(tree_leaves)
    n_constraints = len(spec.constraints)
    authz_leaves = [Leaf(v.lower(), "authz") for v in (spec.authz or [])]
    leaves = tree_leaves + list(spec.constraints) + authz_leaves

    # resolve every leaf to a predicate over the scan's `term` column;
    # content terms are collected so the scan predicate is ONE pushable
    # `term IN (...)`, aux predicates stay as = / prefix ranges (both push)
    content_terms: set[str] = set()
    preds: list[F.Column] = []
    aux_preds: list[F.Column] = []
    for lf in leaves:
        if lf.field:
            if lf.num_range is not None:
                from miru_spark.termcomp import numeric_composite_py

                p = F.col("term").between(
                    numeric_composite_py(lf.field, lf.num_range[0]),
                    numeric_composite_py(lf.field, lf.num_range[1]),
                )
            else:
                composite = f"{lf.field}:{lf.term}"
                p = (
                    prefix_range(F.col("term"), composite)
                    if lf.prefix
                    else F.col("term") == composite
                )
            if index.aux is not None:
                aux_preds.append(p)
            else:
                p = F.lit(False)  # unindexed field matches nothing
            preds.append(p)
        else:
            if lf.prefix:
                terms = _expand_prefix(index, lf.term, spec.max_expansion)
            else:
                terms = [lf.term]
            content_terms.update(terms)
            preds.append(F.col("term").isin(terms) if terms else F.lit(False))

    # every scan row carries its own doc_key (+ dl on content rows) — no
    # doclens join; aux rows never score, so their dl is null and their
    # contrib drops out of the fold below. A timeRange prunes both scan
    # branches to intersecting parts before any decode.
    pparts = parts_for_time_range(index, spec.time_range)
    srcs = []
    if content_terms:
        srcs.append(
            postings_for_terms(index, sorted(content_terms), pparts).select(
                "part", "doc_id", "doc_key", "term", "tf", "dl"
            )
        )
    if aux_preds:
        apred = aux_preds[0]
        for p in aux_preds[1:]:
            apred = apred | p
        srcs.append(
            _part_pruned(index.aux.filter(apred), pparts).select(
                "part", "doc_id", "doc_key", "term",
                F.lit(1).alias("tf"), F.lit(None).cast("int").alias("dl"),
            )
        )
    if not srcs:
        return local_frame(spark, [], "doc long, score double")
    scan = srcs[0]
    for s in srcs[1:]:
        scan = scan.unionByName(s)

    cand = scan
    if spec.time_range is not None:
        lo, hi = spec.time_range
        cand = cand.filter(F.col("doc_key").between(int(lo), int(hi)))

    # scoring contribs ride the SAME rows: left-join the broadcast query-term
    # + stats tables; non-scoring rows (aux, tree-only terms) get NULL
    # contribs, which collect_list skips — the fold is byte-identical to the
    # flat path's ascending-term ordered sum
    expanded = _expanded_scoring_terms(index, spec)
    if expanded:
        q, terms_scoring = _query_relation(index, expanded)
    if expanded and terms_scoring:
        cand = (
            cand.join(F.broadcast(q), "term", "left")
            .withColumn(
                "contrib",
                _contrib_col(spec.scorer, index.corpus.n_docs, index.corpus.avgdl),
            )
        )
        score_agg = F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("contrib").isNotNull(), F.struct("term", "contrib")
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("score")
    else:
        score_agg = F.lit(0.0).alias("score")
    flag_cols = [
        F.max(F.when(preds[i], F.lit(True))).alias(f"_l{i}") for i in range(len(leaves))
    ]
    if content_terms and not aux_preds:
        # same single-task-sized exchange rule as score_candidates: the scan
        # is term-pruned, so its row count is Σdf of the content leaves
        # (known from the warm stats memo); aux-backed trees keep the
        # default width because the aux branch's cardinality is not memoized
        srows_all = term_stats(index, sorted(content_terms))
        if sum(df for df, _ in srows_all.values()) <= _DECODE_POSTINGS_PER_TASK:
            cand = cand.repartition(1, "part", "doc_id", "doc_key")
    grouped = cand.groupBy("part", "doc_id", "doc_key").agg(score_agg, *flag_cols)

    def flag(i: int) -> F.Column:
        return F.coalesce(F.col(f"_l{i}"), F.lit(False))

    cond = _tree_flag_expr(spec.tree, itertools.count(), flag)
    for j in range(n_tree, n_tree + n_constraints):
        cond = cond & flag(j)
    if authz_leaves:
        acond = flag(n_tree + n_constraints)
        for j in range(n_tree + n_constraints + 1, len(leaves)):
            acond = acond | flag(j)
        cond = cond & acond
    return (
        _not_removed(index, grouped.filter(cond))
        .withColumn("score_r", F.round("score", 6))
        .orderBy(F.desc("score_r"), F.desc("doc_key"))
        .limit(spec.k)
        .select(F.col("doc_key").alias("doc"), F.col("score_r").alias("score"))
    )


def top_k(index: IndexHandle, query: str | QuerySpec, k: int = 100, scorer: str = "bm25") -> DataFrame:
    """Global top-k (doc_key, score) — ordered LIMIT = the reference's
    cross-partition merge (FullTextAnswerMerger.java:31-68)."""
    spec = (
        query
        if isinstance(query, QuerySpec)
        else parse_query(
            query, k=k, scorer=scorer, stopwords=index.stopwords,
            stemmer=index.stemmer,
        )
    )
    if spec.scorer == "time":
        # TIME strategy: descending insertion order over the ANSWER set
        # (FullText.collectTime iterates the filtered bitmap, :222-251),
        # score 0.0.
        if spec.tree is not None:
            cand = eval_filter(index, spec.tree, spec.max_expansion).join(
                index.lens, ["part", "doc_id"]
            )
        else:
            # reuse the flat filter evaluation (AND/OR matched-clause count +
            # pButNotQ anti-join) with a throwaway scorer — scores are
            # discarded, TIME emits 0.0
            import dataclasses

            cand = score_candidates(
                index, dataclasses.replace(spec, scorer="bm25")
            ).select("part", "doc_id", "doc_key")
        matched = _apply_masks(index, cand, spec)
        return (
            matched.orderBy(F.desc("doc_key"))
            .limit(spec.k)
            .select(F.col("doc_key").alias("doc"), F.lit(0.0).alias("score"))
        )
    if spec.tree is not None:
        return top_k_tree(index, spec)
    if index.lazy and not spec.constraints and spec.authz is None:
        # a loaded index's flat query scores in one Arrow kernel per part
        # (decode, mask, ordered fold, per-part cut) — wand.packed_topk
        from miru_spark.operators.wand import packed_topk

        return packed_topk(index, spec)
    scored = _apply_masks(index, score_candidates(index, spec), spec)
    return (
        scored.withColumn("score_r", F.round("score", 6))
        .orderBy(F.desc("score_r"), F.desc("doc_key"))
        .limit(spec.k)
        .select(F.col("doc_key").alias("doc"), F.col("score_r").alias("score"))
    )


def gather(index: IndexHandle, winners: DataFrame, gather_cols: list[str]) -> DataFrame:
    """Join winners back to stored fields — after LIMIT, so materialization
    is lazy like the reference's Promise gather (FullText.java:253-280).

    The ≤k winners relation is the broadcast BUILD side of an INNER join
    against the docs table. It must be inner: Spark cannot broadcast the
    preserved side of an outer join, so a right-outer with
    ``broadcast(winners)`` silently ignores the hint and plans a
    SortMergeJoin that shuffles the whole (100 TB) docs table. Winners
    whose doc row vanished from the source are re-attached with null
    fields via a left-anti against the matched keys — that second docs
    scan is pruned to the single doc_key column, and every join in the
    plan broadcasts a ≤k-row side (no shuffle anywhere)."""
    docs = index.docs
    matched = docs.join(
        F.broadcast(winners), docs["doc_key"] == winners["doc"], "inner"
    ).select("doc", "score", *gather_cols)
    matched_keys = docs.select(F.col("doc_key").alias("doc")).join(
        F.broadcast(winners.select("doc")), "doc", "left_semi"
    )
    missing = winners.join(F.broadcast(matched_keys), "doc", "left_anti").select(
        "doc",
        "score",
        *[F.lit(None).cast(docs.schema[c].dataType).alias(c) for c in gather_cols],
    )
    return matched.unionByName(missing)


def index_first_latest(index: IndexHandle) -> DataFrame:
    """Auxiliary latest/first occurrence per term — the reference's
    indexLatest / indexFirst bitmaps (miru-service/.../stream/
    MiruIndexLatest.java; setIfEmpty MiruIndexPrimaryFields.java:123-129).

    Computed entirely from packed METADATA: within a part the posting list
    is doc-id-sorted, so first = ``first_id`` and latest =
    ``element_at(block_last, -1)`` — zero posting decode on loaded indexes
    (the reference likewise maintains these incrementally at build time,
    never by scanning the primary index). Only the 2 endpoint rows per
    (part, term) join the doc-key relation."""
    ends = index.packed.select(
        "term",
        "df_part",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("is_first"),
                    F.col("part").alias("part"),
                    F.col("first_id").alias("doc_id"),
                ),
                F.struct(
                    F.lit(0).alias("is_first"),
                    F.col("part").alias("part"),
                    F.element_at("block_last", -1).cast("int").alias("doc_id"),
                ),
            )
        ).alias("e"),
    ).select("term", "df_part", "e.is_first", "e.part", "e.doc_id")
    joined = ends.join(index.lens.select("part", "doc_id", "doc_key"), ["part", "doc_id"])
    return joined.groupBy("term").agg(
        F.min(F.when(F.col("is_first") == 1, F.col("doc_key"))).alias("first_doc"),
        F.max(F.when(F.col("is_first") == 0, F.col("doc_key"))).alias("latest_doc"),
        F.sum(F.col("df_part") * F.col("is_first")).alias("df"),
    )


def gather_terms(index: IndexHandle, match_term: str) -> DataFrame:
    """Gather: distinct co-occurring terms (with doc counts) over the doc set
    matching ``match_term`` — MiruAggregateUtil.gatherActivityLookup
    (miru-plugin/.../solution/MiruAggregateUtil.java:681-768) as a semi-join
    + groupBy instead of batched bitmap AND-NOT walks.

    The reference gathers from the FORWARD (activity) index, never the
    postings: with a persisted index we read the forward artifact
    (index_store ``forward/``); without one on a loaded index we at least
    prune the decode to the partitions containing matches instead of
    unpacking the whole corpus."""
    matched = _not_removed(
        index, postings_for_terms(index, [match_term]).select("part", "doc_id")
    )
    if index.forward is not None:
        src = index.forward
    elif index.lazy:
        from miru_spark.operators.build import unpack_postings

        parts = sorted(r["part"] for r in matched.select("part").distinct().collect())
        src = unpack_postings(index.packed.filter(F.col("part").isin(parts)))
    else:
        src = index.flat
    return (
        src.join(matched, ["part", "doc_id"], "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
