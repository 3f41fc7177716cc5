"""DuckDB oracle SQL generators.

Each generator emits ANSI SQL that DuckDB runs directly on the raw parquet
views (no index) and that reproduces the engine's results op-for-op:
identical tokenizer (tokenize.duckdb_tokens_sql), identical BM25/TF-IDF
expressions, identical ascending-term-order float summation
(list_aggregate(list(c ORDER BY term), 'sum') ↔ Spark's
aggregate(array_sort(...))), identical round(score, 6) sort key and
(score desc, doc_id desc) tie-break.

These are the correctness gate for the driver (oracle_sql()) and the test
oracles (tests/). The oracle is deliberately brute-force — it defines the
semantics; the engine must match it from the index.
"""

from __future__ import annotations

from miru_spark.filters import Leaf, Node, QuerySpec, collect_scoring_leaves
from miru_spark.tokenize import duckdb_tokens_sql

K1 = 1.2
B = 0.75


def _lit(s: str) -> str:
    """``s`` as a SQL string literal (tokens may hold a quote)."""
    return "'" + s.replace("'", "''") + "'"


def _q_cte(spec: QuerySpec, max_expansion: int) -> str:
    """Query-term table (term, qtf, clause), expanding prefix clauses from
    the term dictionary exactly like the engine does."""
    parts = []
    for cid, cl in enumerate(spec.positive):
        if cl.prefix:
            parts.append(
                f"SELECT term, {cl.qtf} AS qtf, {cid} AS clause FROM "
                f"(SELECT term FROM stats WHERE starts_with(term, {_lit(cl.term)}) "
                f"ORDER BY term LIMIT {max_expansion})"
            )
        else:
            parts.append(f"SELECT {_lit(cl.term)} AS term, {cl.qtf} AS qtf, {cid} AS clause")
    return " UNION ALL ".join(parts)


def _neg_pred(spec: QuerySpec) -> str:
    if not spec.negative:
        return ""
    conds = []
    for cl in spec.negative:
        if cl.prefix:
            conds.append(f"starts_with(term, {_lit(cl.term)})")
        else:
            conds.append(f"term = {_lit(cl.term)}")
    return (
        "AND doc_id NOT IN (SELECT doc_id FROM tf WHERE " + " OR ".join(conds) + ")"
    )


def fulltext_topk_sql(
    spec: QuerySpec,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_pred: str | None = None,
    stopwords: frozenset | None = None,
) -> str:
    """``extra_pred`` is an additional doc_id predicate ANDed into the final
    WHERE (before LIMIT) — used to mirror the authz mask and the removal
    index, whose label/tombstone sets the driver fixtures derive as pure
    functions of doc_id. ``stopwords`` mirrors the engine's analyzer dialect
    (the list_filter in duckdb_tokens_sql)."""
    tok = duckdb_tokens_sql(text_col, stopwords)
    if spec.scorer == "bm25":
        contrib = (
            f"q.qtf * ln(1 + (corpus.n_docs - stats.df + 0.5) / (stats.df + 0.5)) "
            f"* tf.tf * ({K1} + 1) "
            f"/ (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / corpus.avgdl))"
        )
    elif spec.scorer == "miru_tfidf":
        contrib = "(q.qtf * tf.tf) / stats.cum_tf"
    else:
        raise ValueError(spec.scorer)
    matched_pred = (
        f"matched = {len(spec.positive)}" if spec.op == "and" else "matched >= 1"
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, unnest({tok}) AS term FROM {table}
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
stats AS (SELECT term, count(*) AS df, sum(tf) AS cum_tf FROM tf GROUP BY term),
q AS ({_q_cte(spec, spec.max_expansion)}),
contrib AS (
  SELECT tf.doc_id, tf.term, q.clause,
         CAST({contrib} AS DOUBLE) AS c
  FROM tf
  JOIN q ON q.term = tf.term
  JOIN stats ON stats.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN corpus
),
scored AS (
  SELECT doc_id,
         CAST(list_aggregate(list(c ORDER BY term), 'sum') AS DOUBLE) AS score,
         count(DISTINCT clause) AS matched
  FROM contrib GROUP BY doc_id
)
SELECT doc_id AS doc, round(score, 6) AS score
FROM scored
WHERE {matched_pred} {_neg_pred(spec)} {f"AND ({extra_pred})" if extra_pred else ""}
ORDER BY score DESC, doc DESC LIMIT {spec.k}
"""


def _leaf_set_sql(leaf: Leaf, table: str, id_col: str, max_exp: int) -> str:
    """Doc-id set for one field filter — default field over the tf CTE
    (capped prefix expansion identical to the engine's dictionary scan),
    named field directly on the source column (the aux composite-term
    relation is a pure function of it)."""
    if leaf.field:
        if leaf.num_range is not None:
            # numeric range composition (termcomp) is order-preserving, so
            # the index's term-range scan ≡ BETWEEN on the raw column
            lo, hi = leaf.num_range
            return (
                f"SELECT {id_col} AS doc_id FROM {table} "
                f"WHERE {leaf.field} BETWEEN {int(lo)} AND {int(hi)}"
            )
        col = f"lower(CAST({leaf.field} AS VARCHAR))"
        pred = (
            f"starts_with({col}, {_lit(leaf.term)})"
            if leaf.prefix
            else f"{col} = {_lit(leaf.term)}"
        )
        return f"SELECT {id_col} AS doc_id FROM {table} WHERE {pred}"
    if leaf.prefix:
        return (
            "SELECT DISTINCT doc_id FROM tf WHERE term IN "
            f"(SELECT term FROM (SELECT term FROM stats WHERE starts_with(term, {_lit(leaf.term)}) "
            f"ORDER BY term LIMIT {max_exp}))"
        )
    return f"SELECT DISTINCT doc_id FROM tf WHERE term = {_lit(leaf.term)}"


def _tree_set_sql(node, table: str, id_col: str, max_exp: int) -> str:
    """MiruFilter tree → SQL set expression (AND=INTERSECT, OR=UNION,
    pButNotQ=EXCEPT) — mirrors fulltext.eval_filter op for op."""
    if node is None:
        return f"SELECT {id_col} AS doc_id FROM {table}"
    if isinstance(node, Leaf):
        return _leaf_set_sql(node, table, id_col, max_exp)
    assert isinstance(node, Node)
    if node.op == "and":
        return "(" + " INTERSECT ".join(
            f"({_tree_set_sql(c, table, id_col, max_exp)})" for c in node.children
        ) + ")"
    if node.op == "or":
        return "(" + " UNION ".join(
            f"({_tree_set_sql(c, table, id_col, max_exp)})" for c in node.children
        ) + ")"
    if node.op == "pButNotQ":
        p = _tree_set_sql(node.children[0], table, id_col, max_exp)
        q = " UNION ".join(
            f"({_tree_set_sql(c, table, id_col, max_exp)})" for c in node.children[1:]
        )
        return f"(({p}) EXCEPT ({q}))"
    raise ValueError(node.op)


def filtered_topk_sql(
    spec: QuerySpec,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Oracle for tree/timeRange/constraints queries: candidates via set
    algebra, scores from positive-context default-field leaves (LEFT JOIN,
    unmatched candidates score 0.0), same ordered-fold float summation and
    (score desc, doc desc) tie-break as the flat oracle."""
    tok = duckdb_tokens_sql(text_col)
    if spec.scorer == "bm25":
        contrib = (
            f"q.qtf * ln(1 + (corpus.n_docs - stats.df + 0.5) / (stats.df + 0.5)) "
            f"* tf.tf * ({K1} + 1) "
            f"/ (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / corpus.avgdl))"
        )
    elif spec.scorer == "miru_tfidf":
        contrib = "(q.qtf * tf.tf) / stats.cum_tf"
    elif spec.scorer == "time":
        contrib = "0.0"
    else:
        raise ValueError(spec.scorer)

    if spec.tree is not None:
        cand_sql = _tree_set_sql(spec.tree, table, id_col, spec.max_expansion)
        leaves = collect_scoring_leaves(spec.tree)
        counts: dict[tuple[str, bool], int] = {}
        for lf in leaves:
            counts[(lf.term, lf.prefix)] = counts.get((lf.term, lf.prefix), 0) + 1
        q_parts = []
        for cid, ((t, pfx), qtf) in enumerate(sorted(counts.items())):
            if pfx:
                q_parts.append(
                    f"SELECT term, {qtf} AS qtf, {cid} AS clause FROM "
                    f"(SELECT term FROM stats WHERE starts_with(term, {_lit(t)}) "
                    f"ORDER BY term LIMIT {spec.max_expansion})"
                )
            else:
                q_parts.append(f"SELECT {_lit(t)} AS term, {qtf} AS qtf, {cid} AS clause")
        q_cte = " UNION ALL ".join(q_parts) if q_parts else "SELECT NULL AS term, 0 AS qtf, 0 AS clause WHERE FALSE"
    else:
        # flat spec routed here because of time_range/constraints: candidate
        # set = matched-clause predicate minus negatives (as in the flat
        # oracle), scores from the same q table
        q_cte = _q_cte(spec, spec.max_expansion)
        matched_pred = (
            f"matched = {len(spec.positive)}" if spec.op == "and" else "matched >= 1"
        )
        cand_sql = (
            "SELECT doc_id FROM (SELECT tf.doc_id, count(DISTINCT q.clause) AS matched "
            "FROM tf JOIN q ON q.term = tf.term GROUP BY tf.doc_id) "
            f"WHERE {matched_pred} {_neg_pred(spec)}"
        )

    where = ["TRUE"]
    if spec.time_range is not None:
        where.append(f"c.doc_id BETWEEN {int(spec.time_range[0])} AND {int(spec.time_range[1])}")
    for cl in spec.constraints:
        where.append(f"c.doc_id IN ({_leaf_set_sql(cl, table, id_col, spec.max_expansion)})")
    where_sql = " AND ".join(where)

    if spec.scorer == "time":
        return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, unnest({tok}) AS term FROM {table}
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
stats AS (SELECT term, count(*) AS df, sum(tf) AS cum_tf FROM tf GROUP BY term),
q AS ({q_cte}),
cand AS ({cand_sql})
SELECT c.doc_id AS doc, 0.0 AS score
FROM cand c WHERE {where_sql}
ORDER BY doc DESC LIMIT {spec.k}
"""
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, unnest({tok}) AS term FROM {table}
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
stats AS (SELECT term, count(*) AS df, sum(tf) AS cum_tf FROM tf GROUP BY term),
q AS ({q_cte}),
cand AS ({cand_sql}),
contrib AS (
  SELECT tf.doc_id, tf.term,
         CAST({contrib} AS DOUBLE) AS c
  FROM tf
  JOIN q ON q.term = tf.term
  JOIN stats ON stats.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN corpus
),
scored AS (
  SELECT doc_id,
         CAST(list_aggregate(list(c ORDER BY term), 'sum') AS DOUBLE) AS score
  FROM contrib GROUP BY doc_id
)
SELECT c.doc_id AS doc, round(coalesce(s.score, 0.0), 6) AS score
FROM cand c LEFT JOIN scored s ON s.doc_id = c.doc_id
WHERE {where_sql}
ORDER BY score DESC, doc DESC LIMIT {spec.k}
"""


def term_stats_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    limit: int = 100,
) -> str:
    """Term dictionary top terms by (df, term) — validates the index's global
    df/Σtf aggregates (the docId=-1 cell analog)."""
    tok = duckdb_tokens_sql(text_col)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, unnest({tok}) AS term FROM {table}
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term)
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cum_tf
FROM tf GROUP BY term
ORDER BY df DESC, term LIMIT {limit}
"""


def doc_stats_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    """Corpus stats: N docs, total tokens, avg doc length (rounded)."""
    tok = duckdb_tokens_sql(text_col)
    return f"""
WITH dl AS (
  SELECT {id_col} AS doc_id, len({tok}) AS dl FROM {table}
)
SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens, round(avg(dl), 6) AS avgdl
FROM dl
"""


# ---------------------------------------------------------------------------
# Context-operator oracles (events / lineitem) — SURVEY.md §2.5
# ---------------------------------------------------------------------------

def distinct_count_sql(table: str, field: str, where: str) -> str:
    return f"SELECT count(DISTINCT {field}) AS n_distinct FROM {table} WHERE {where}"


def waveform_sql(table: str, ts_col: str, group_field: str, bucket: str = "hour") -> str:
    return f"""
SELECT {group_field} AS group_value, date_trunc('{bucket}', {ts_col}) AS bucket,
       count(*) AS n
FROM {table} GROUP BY 1, 2
"""


def metrics_sql(table: str, ts_col: str, value_col: str, bucket: str = "day") -> str:
    return f"""
SELECT date_trunc('{bucket}', {ts_col}) AS bucket, count(*) AS n,
       round(sum({value_col}), 6) AS sum_v, round(avg({value_col}), 6) AS avg_v,
       round(min({value_col}), 6) AS min_v, round(max({value_col}), 6) AS max_v
FROM {table} GROUP BY 1
"""


def anomaly_ratio_sql(table: str, ts_col: str, predicate: str, bucket: str = "day") -> str:
    return f"""
SELECT bucket, hits, total, round(hits * 1.0 / total, 6) AS rate FROM (
  SELECT date_trunc('{bucket}', {ts_col}) AS bucket,
         CAST(sum(CASE WHEN {predicate} THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         count(*) AS total
  FROM {table} GROUP BY 1)
"""


def value_bits_sum_sql(table: str, group_field: str, value_col: str) -> str:
    """Direct per-group sum — the engine reconstructs the same number from
    the bit-sliced valueBits index (Σ_b 2^b · count), so equality proves the
    slicing correct."""
    return (
        f"SELECT {group_field} AS group_value, "
        f"CAST(sum(CAST({value_col} AS BIGINT)) AS BIGINT) AS total "
        f"FROM {table} GROUP BY 1"
    )


def anomaly_metricing_sql(
    table: str, ts_col: str, value_col: str, predicate: str, bucket: str = "hour"
) -> str:
    """Anomaly.metricingAvg semantics (Anomaly.java:36-99): long-division
    bucket averages over a dense bucket grid, zero-raw buckets linearly
    interpolated (flat edge extension), truncated to long. Op order of the
    interpolation expression mirrors analytics.anomaly_metricing_avg."""
    step = {"hour": "INTERVAL 1 HOUR", "day": "INTERVAL 1 DAY"}[bucket]
    return f"""
WITH bounds AS (
  SELECT date_trunc('{bucket}', min({ts_col})) AS lo,
         date_trunc('{bucket}', max({ts_col})) AS hi FROM {table}
),
grid AS (SELECT unnest(generate_series(lo, hi, {step})) AS bucket FROM bounds),
g2 AS (SELECT bucket, row_number() OVER (ORDER BY bucket) - 1 AS i FROM grid),
h AS (
  SELECT date_trunc('{bucket}', {ts_col}) AS b, count(*) AS raw,
         CAST(sum(CAST({value_col} AS BIGINT)) AS BIGINT) AS s
  FROM {table} WHERE {predicate} GROUP BY 1
),
j AS (
  SELECT i, bucket, coalesce(raw, 0) AS raw, coalesce(s, 0) AS s
  FROM g2 LEFT JOIN h ON h.b = g2.bucket
),
k AS (
  SELECT *, CASE WHEN raw > 0 THEN s // raw END AS py,
            CASE WHEN raw > 0 THEN i END AS px FROM j
),
m AS (
  SELECT *,
    last_value(py IGNORE NULLS) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_y,
    last_value(px IGNORE NULLS) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_x,
    first_value(py IGNORE NULLS) OVER (ORDER BY i ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_y,
    first_value(px IGNORE NULLS) OVER (ORDER BY i ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_x
  FROM k
)
SELECT bucket,
  CAST(CASE WHEN raw > 0 THEN py
            WHEN prev_y IS NULL AND next_y IS NULL THEN s
            WHEN prev_y IS NULL THEN next_y
            WHEN next_y IS NULL THEN prev_y
            ELSE CAST(floor(prev_y + (next_y - prev_y) *
                 ((i - prev_x) / CAST(next_x - prev_x AS DOUBLE))) AS BIGINT)
       END AS BIGINT) AS avg_v
FROM m
"""


def trending_peaks_sql(
    table: str, ts_col: str, group_field: str, bucket: str = "hour",
    delta: float = 1.0,
) -> str:
    """Billauer peakdet as a recursive-CTE state machine — one step per
    bucket carrying (mx, mn, lookformax, n_peaks), op-for-op the reference
    scan (PeakDet.java:43-117): mx/mn update BEFORE the trigger test, fall
    below mx−delta registers a peak and re-seeds mn, rise above mn+delta
    re-arms."""
    return f"""
WITH RECURSIVE wf AS (
  SELECT {group_field} AS group_value, date_trunc('{bucket}', {ts_col}) AS bucket,
         count(*) AS n
  FROM {table} GROUP BY 1, 2
),
ordered AS (
  SELECT group_value, CAST(n AS DOUBLE) AS n,
         row_number() OVER (PARTITION BY group_value ORDER BY bucket) AS rn
  FROM wf
),
scan AS (
  SELECT group_value, 0 AS rn, CAST('-infinity' AS DOUBLE) AS mx,
         CAST('infinity' AS DOUBLE) AS mn, true AS lookformax, 0 AS n_peaks
  FROM (SELECT DISTINCT group_value FROM ordered)
  UNION ALL
  SELECT s.group_value, o.rn,
    CASE WHEN NOT s.lookformax AND o.n > least(s.mn, o.n) + {delta}
         THEN o.n ELSE greatest(s.mx, o.n) END AS mx,
    CASE WHEN s.lookformax AND o.n < greatest(s.mx, o.n) - {delta}
         THEN o.n ELSE least(s.mn, o.n) END AS mn,
    CASE WHEN s.lookformax THEN NOT (o.n < greatest(s.mx, o.n) - {delta})
         ELSE o.n > least(s.mn, o.n) + {delta} END AS lookformax,
    s.n_peaks + CASE WHEN s.lookformax AND o.n < greatest(s.mx, o.n) - {delta}
                     THEN 1 ELSE 0 END AS n_peaks
  FROM scan s JOIN ordered o ON o.group_value = s.group_value AND o.rn = s.rn + 1
)
SELECT group_value, CAST(max(n_peaks) AS BIGINT) AS n_peaks
FROM scan GROUP BY 1
"""


def last_n_sql(table: str, order_cols: list[str], n: int, where: str, select_cols: list[str]) -> str:
    order = ", ".join(f"{c} DESC" for c in order_cols)
    return f"SELECT {', '.join(select_cols)} FROM {table} WHERE {where} ORDER BY {order} LIMIT {n}"


def collaborative_filter_sql(user_id: int, k: int = 20, max_contributors: int = 100) -> str:
    """CF on (o_custkey, l_partkey) via orders ⨝ lineitem — mirrors
    operators/reco.collaborative_filter step for step, including the
    top-N contributor cut (the reference's contributor heap,
    CollaborativeFiltering.java:58-213; deterministic tie-break weight
    desc, user asc)."""
    return f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
mine AS (SELECT i FROM pairs WHERE u = {user_id}),
contributors AS (
  SELECT u, count(*) AS weight
  FROM pairs WHERE i IN (SELECT i FROM mine) AND u <> {user_id}
  GROUP BY u
  ORDER BY weight DESC, u ASC LIMIT {max_contributors}
),
scored AS (
  SELECT p.i AS item, CAST(sum(c.weight) AS BIGINT) AS score
  FROM pairs p JOIN contributors c ON c.u = p.u
  WHERE p.i NOT IN (SELECT i FROM mine)
  GROUP BY p.i
)
SELECT item, score FROM scored ORDER BY score DESC, item ASC LIMIT {k}
"""


def catwalk_model_sql(
    table: str,
    label_pred: str,
    features: dict[str, str],
    array_features: dict[str, str] | None = None,
) -> str:
    """Naive-Bayes count model — mirrors models.catwalk_model: one grouped
    count per feature, numerator = label hits, denominator = total.
    ``array_features`` map fid → a DuckDB LIST expression; the feature
    instances are its distinct elements (the permutate/multiTerm case —
    unnest(list_distinct(...)) ≡ the engine's array_distinct + explode)."""
    all_feats: dict[str, tuple[str, bool]] = {f: (e, False) for f, e in features.items()}
    for f, e in (array_features or {}).items():
        all_feats[f] = (e, True)
    parts = []
    for fid, (expr, is_arr) in sorted(all_feats.items()):
        if is_arr:
            frm = f"FROM {table}, unnest(list_distinct({expr})) AS __u(v)"
            val = "CAST(__u.v AS VARCHAR)"
        else:
            frm = f"FROM {table}"
            val = f"CAST({expr} AS VARCHAR)"
        parts.append(
            f"""SELECT '{fid}' AS feature_id, {val} AS feature_value,
       CAST(sum(CASE WHEN {label_pred} THEN 1 ELSE 0 END) AS BIGINT) AS numerator,
       count(*) AS denominator
{frm} GROUP BY 2"""
        )
    return " UNION ALL ".join(parts)


def strut_score_sql(
    table: str,
    id_col: str,
    label_pred: str,
    features: dict[str, str],
    strategy: str = "unit_weighted",
    k: int = 100,
) -> str:
    """Model-scored top-k — mirrors models.strut_score: per-feature
    s_i = min(numerator/denominator, 1), combined in sorted-feature order."""
    fids = sorted(features)
    ctes = []
    joins = []
    s_terms = []
    for fid in fids:
        expr = features[fid]
        ctes.append(
            f"""m_{fid} AS (
  SELECT CAST({expr} AS VARCHAR) AS fv,
         least(CAST(sum(CASE WHEN {label_pred} THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 1.0) AS s
  FROM {table} GROUP BY 1)"""
        )
        joins.append(f"LEFT JOIN m_{fid} ON m_{fid}.fv = CAST({expr} AS VARCHAR)")
        s_terms.append(f"coalesce(m_{fid}.s, 0.0)")
    if strategy == "unit_weighted":
        score = "(" + " + ".join(s_terms) + f") / {float(len(fids))}"
    elif strategy == "regression_weighted":
        score = "(" + " + ".join(s_terms) + ")"
    else:
        score = "greatest(" + ", ".join(s_terms) + ")"
    return f"""
WITH {', '.join(ctes)}
SELECT e.{id_col} AS doc, round({score}, 6) AS score
FROM {table} e
{' '.join(joins)}
ORDER BY score DESC, doc DESC LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Training-data operator oracles (documents / embeddings)
# ---------------------------------------------------------------------------

def exact_dup_groups_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
SELECT md5({text_col}) AS content_md5, count(*) AS n_docs,
       min({id_col}) AS canonical, max({id_col}) AS max_doc
FROM {table} GROUP BY 1
"""


def _shingle_cte(table: str, id_col: str, text_col: str, n: int) -> str:
    tok = duckdb_tokens_sql(text_col)
    joined = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return f"""
toks AS (SELECT {id_col} AS doc, {tok} AS t FROM {table}),
sh AS (
  SELECT DISTINCT doc, s FROM (
    SELECT doc, unnest(list_transform(range(1, len(t) - {n - 2}), i -> {joined})) AS s
    FROM toks WHERE len(t) >= {n})
)"""


def jaccard_pairs_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, threshold: float = 0.8,
) -> str:
    return f"""
WITH {_shingle_cte(table, id_col, text_col, n)},
sz AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc = doc_a
JOIN sz sb ON sb.doc = doc_b
WHERE round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) >= {threshold}
"""


def dup_clusters_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, threshold: float = 0.85,
) -> str:
    """Transitive closure of the exact n-gram-Jaccard pair graph as a
    recursive CTE; canonical = min doc of each component. Oracles
    ``dedup.dup_clusters`` through the already-gated equivalence
    minhash-verified pairs == exact jaccard pairs."""
    return f"""
WITH RECURSIVE {_shingle_cte(table, id_col, text_col, n)},
sz AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
  GROUP BY 1, 2
),
p AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sz sa ON sa.doc = doc_a
  JOIN sz sb ON sb.doc = doc_b
  WHERE round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) >= {threshold}
),
edges AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.v FROM edges e JOIN reach r ON r.u = e.v
)
SELECT u AS doc, min(v) AS canonical FROM reach GROUP BY u
"""


def simhash_pairs_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3,
) -> str:
    """Integer-exact replay of ``dedup.simhash_pairs``: 64-bit SimHash over
    tf-weighted md5 token hashes, 4×16-bit-chunk pigeonhole blocking, Hamming
    ≤ max_hamming. md5 is byte-identical across engines and every other step
    is integer arithmetic, so this is a full-strength hash oracle (not an
    approximation bound): chunk c = hex digits [4c, 4c+4) of md5(term), bit
    i of the signature = bit i%16 of chunk i//16, vote > 0 → 1."""
    tok = duckdb_tokens_sql(text_col)
    hchunks = ",\n        ".join(
        f"('0x' || substr(h_hex, {c * 4 + 1}, 4))::INT AS h{c}" for c in range(4)
    )
    votes = ",\n        ".join(
        f"CAST(sum(CASE WHEN (h{i // 16} >> {i % 16}) & 1 = 1 THEN tf ELSE -tf END) AS BIGINT) AS v{i}"
        for i in range(64)
    )
    sigs = ",\n        ".join(
        "("
        + " + ".join(f"CASE WHEN v{c * 16 + b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16))
        + f")::BIGINT AS s{c}"
        for c in range(4)
    )
    ham = " + ".join(f"bit_count(xor(sa.s{c}, sb.s{c}))" for c in range(4))
    return f"""
WITH toks AS (SELECT {id_col} AS doc, unnest({tok}) AS term FROM {table}),
tf AS (SELECT doc, term, count(*) AS tf FROM toks GROUP BY doc, term),
hx AS (SELECT doc, tf, md5(term) AS h_hex FROM tf),
h AS (SELECT doc, tf,
        {hchunks}
      FROM hx),
v AS (SELECT doc,
        {votes}
      FROM h GROUP BY doc),
sig AS (SELECT doc,
        {sigs}
      FROM v),
ck AS (SELECT doc, c,
              CASE c WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 ELSE s3 END AS ckey
       FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) cs(c)),
cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
         FROM ck a JOIN ck b ON a.c = b.c AND a.ckey = b.ckey AND a.doc < b.doc)
SELECT doc_a, doc_b, CAST({ham} AS INT) AS hamming
FROM cand
JOIN sig sa ON sa.doc = doc_a
JOIN sig sb ON sb.doc = doc_b
WHERE {ham} <= {max_hamming}
"""


def quality_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    tok = duckdb_tokens_sql(text_col)
    stop = ", ".join(f"'{s}'" for s in ["the", "a", "of", "to", "in", "and", "is", "for"])
    return f"""
WITH t AS (SELECT {id_col} AS doc, {text_col} AS txt, {tok} AS toks FROM {table})
SELECT doc,
       len(toks) AS n_tokens,
       length(txt) AS n_chars,
       round(list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks), 6) AS avg_token_len,
       round(len(list_filter(toks, x -> x IN ({stop}))) * 1.0 / len(toks), 6) AS stopword_ratio,
       round(length(regexp_replace(lower(txt), '[^a-z]', '', 'g')) * 1.0 / length(txt), 6) AS alpha_ratio
FROM t
"""


def token_counts_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    tok = duckdb_tokens_sql(text_col)
    return f"""
SELECT {id_col} AS doc,
       len({tok}) AS n_tokens,
       len(list_filter(regexp_split_to_array({text_col}, '\\s+'), x -> x <> '')) AS n_ws_tokens,
       len(regexp_extract_all(lower({text_col}), '[a-z]+')) AS n_alpha_runs,
       len(regexp_extract_all(lower({text_col}), '[0-9]+')) AS n_digit_runs
FROM {table}
"""


def fingerprint_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 3
) -> str:
    tok = duckdb_tokens_sql(text_col)
    joined = " || ' ' || ".join(f"t[i+{j}]" for j in range(shingle_n))
    return f"""
WITH t AS (SELECT {id_col} AS doc, {tok} AS t FROM {table})
SELECT doc,
       md5(array_to_string(t, ' ')) AS token_md5,
       list_min(list_transform(range(1, greatest(len(t) - {shingle_n}, 0) + 2), i -> md5({joined}))) AS min_shingle_md5
FROM t
"""


def langid_lite_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    tok = duckdb_tokens_sql(text_col)
    en = ", ".join(f"'{s}'" for s in ["the", "and", "of", "is"])
    code = ", ".join(f"'{s}'" for s in ["def", "return", "import", "const", "func", "public"])
    return f"""
WITH t AS (SELECT {id_col} AS doc, {tok} AS toks FROM {table}),
r AS (
  SELECT doc,
         round(len(list_filter(toks, x -> x IN ({en}))) * 1.0 / len(toks), 6) AS en_ratio,
         round(len(list_filter(toks, x -> x IN ({code}))) * 1.0 / len(toks), 6) AS code_ratio
  FROM t)
SELECT doc, en_ratio, code_ratio,
       CASE WHEN code_ratio >= en_ratio AND code_ratio > 0.01 THEN 'code'
            WHEN en_ratio > 0.01 THEN 'en'
            ELSE 'unk' END AS lang_pred
FROM r
"""


def _cosine_expr(a: str, b: str) -> str:
    """Index-ordered double-precision cosine — op-for-op the Spark fold."""
    dot = f"list_sum(list_transform(list_zip({a}, {b}), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"
    na = f"sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    nb = f"sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    return f"round(({dot}) / (({na}) * ({nb})), 6)"


def cosine_topk_sql(query_vec_id: int = 0, k: int = 50, table: str = "embeddings") -> str:
    return f"""
WITH q AS (SELECT embedding AS qe FROM {table} WHERE vec_id = {query_vec_id})
SELECT vec_id AS vec, {_cosine_expr('embedding', 'qe')} AS cosine
FROM {table}, q
ORDER BY cosine DESC, vec DESC LIMIT {k}
"""


def cosine_pairs_sql(threshold: float, table: str = "embeddings") -> str:
    return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_cosine_expr('a.embedding', 'b.embedding')} AS cosine
FROM {table} a JOIN {table} b ON a.vec_id < b.vec_id
WHERE {_cosine_expr('a.embedding', 'b.embedding')} >= {threshold}
"""
