"""The benchmark's workloads: one closed-loop client on one Spark session.

Both workloads share a set-up - start the session, generate the seeded
corpus, ``build_persistent`` it into a fresh directory - and a loop over a
fixed query list: ``REFERENCE_QIDS``, one query of each class of the 50-query
reference set, each parsed once and run through the workload's query paths
(``PATHS``). The loop repeats whole passes of the list until ``--seconds``
have gone by, so a faster program or host adds repetitions of the same
queries, never other ones.
They differ in what the loop reads:

* ``query_loaded`` - ``load_index`` of the fresh build, then one untimed
  warm-up pass of the list: the JVM is young, and until its JIT compiler
  has caught up the first calls of each query shape run partly
  interpreted. Warm-up and loop share the handle, so the loop runs on a
  warm term-stats memo. Each query goes through ``fulltext.top_k`` and
  then ``wand.wand_topk``.
* ``repair_mixed`` - ``upsert_docs`` of one batch (half repairs, half
  inserts), ``load_index`` and a probe for the batch's new token, which is
  the only warm-up (a warm-up pass costs ~10 s a run, more than the run
  budget leaves). Each pass of the loop starts on a freshly loaded handle:
  a cold memo, and postings, stats and doc lengths read through the
  delta-wave unions. Queries go through ``top_k`` only. After the loop
  ``compact()`` folds the delta in and the reference queries are asked
  again, through ``wand_topk``.

One repair per run is what the time budget allows: it is a single ~10 s
sample, so its latency counts in ``setup_s`` (whose median is bounded)
rather than in a metric whose run-to-run spread is checked.

Every answer is checked: ``top_k`` against ``wand_topk`` on every query
of query_loaded, the probe against the batch it must return, one query per
class against the DuckDB oracle over the same corpus, and (repair_mixed)
``top_k`` before ``compact()`` against ``wand_topk`` after it.
"""

from __future__ import annotations

import json
import os
import sys
import traceback
from dataclasses import dataclass, field

import pandas as pd

import inputs

# Sizes. The whole run - JVM start, a cold index build, the warm-up, the
# loop and the checks - has to fit about a minute on a 4-core host, so the
# corpus is small. It is still four times the reference queries' k = 100,
# so common terms match more docs than a top-k keeps: the heap fills and
# WAND can prune.
N_ROWS = 400
N_PARTS = 4
REPAIR_DOCS = 8
PATHS = {"query_loaded": ("topk", "wand"), "repair_mixed": ("topk",)}

CLASSES = [
    ("single_common", range(0, 10)),
    ("single_rare", range(10, 20)),
    ("and", range(20, 35)),
    ("or", range(35, 40)),
    ("and_not", range(40, 45)),
    ("prefix", range(45, 50)),
]
CLASS_NAMES = [c for c, _ in CLASSES]


def class_of(qid: str) -> str:
    """Class of a reference query id ``qNN``."""
    i = int(qid[1:])
    return next(name for name, members in CLASSES if i in members)


# The loop's fixed query list, and the queries whose answers are checked
# against the oracle: the first query of each class.
REFERENCE_QIDS = [f"q{m[0]:02d}" for _, m in CLASSES]


@dataclass
class QueryCall:
    qid: str
    phase: str
    topk_s: float
    wand_s: float
    memo_hits: int
    memo_lookups: int
    rows: list
    topk_cpu_s: float = 0.0
    wand_cpu_s: float = 0.0
    topk_spans: list[int] = field(default_factory=list)
    wand_spans: list[int] = field(default_factory=list)


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    spark: object
    tracer: object
    work: str
    cpu: object  # procstat.EngineCpu
    attempted: int = 0
    failed: int = 0
    faults: list[str] = field(default_factory=list)
    corpus: pd.DataFrame | None = None
    input_fp: dict | None = None
    index_dir: str = ""
    index_bytes: dict = field(default_factory=dict)
    build_cpu_s: float = 0.0
    n_postings: int = 0
    queries: list[dict] = field(default_factory=list)
    calls: list[QueryCall] = field(default_factory=list)
    delta_waves: int = 0
    memo: str = ""

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.faults.append(what)
            print(f"[perfbench] WRONG: {what}", file=sys.stderr)

    def op(self, what: str, fn, *args, **kw):
        """Run one program operation at the loop boundary: a raise counts as
        a failed operation and the run goes on."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception:
            self.failed += 1
            self.faults.append(f"{what}: raised")
            print(f"[perfbench] FAILED: {what}\n{traceback.format_exc()}", file=sys.stderr)
            return None


def _rows(res) -> list[tuple[int, float]]:
    return [(int(r["doc"]), float(r["score"])) for r in res]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _index_bytes(index_dir: str) -> dict:
    out = {}
    for sub in sorted(os.listdir(index_dir)):
        p = os.path.join(index_dir, sub)
        if os.path.isdir(p):
            key = sub.split("_g")[0]
            out[key] = out.get(key, 0) + _dir_bytes(p)
    out["total"] = _dir_bytes(index_dir)
    return out


def _manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "manifest.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- set-up
def setup(run: Run) -> object:
    from miru_spark.index_store import build_persistent, load_index
    from miru_spark.queryset import generate_queries

    spark, tr = run.spark, run.tracer
    with tr.span("input.generate"):
        run.corpus = inputs.make_corpus(run.seed, N_ROWS)
        run.input_fp = inputs.fingerprint(run.corpus)
        src_path = os.path.join(run.work, "corpus.parquet")
        run.corpus.to_parquet(src_path, index=False)
        src = spark.read.parquet(src_path)
    run.index_dir = os.path.join(run.work, "index")
    c0 = run.cpu.now()
    with tr.span("index_store.build"):
        rep = build_persistent(
            src, run.index_dir, text_col="content", dense_id_col="doc_id",
            capacity=N_ROWS // N_PARTS,
        )
    run.build_cpu_s = run.cpu.now() - c0
    m = _manifest(run.index_dir)
    counters = [c for w in m["waves"].values() for c in w["counters"].values()]
    counted = sum(c.get("n_docs", 0) for c in counters)
    run.check(bool(m["stages"].get("ready")), "build: manifest not ready")
    run.check(counted == N_ROWS and rep.n_docs == N_ROWS, f"build: part counters sum {counted} != {N_ROWS}")
    run.n_postings = sum(int(c.get("n_postings", 0)) for c in counters)
    run.index_bytes = _index_bytes(run.index_dir)

    if run.workload == "repair_mixed":
        idx = repair(run, 0)
    else:
        with tr.span("index_store.load"):
            idx = load_index(spark, run.index_dir)
    run.delta_waves = len(_manifest(run.index_dir).get("delta_waves", []))

    with tr.span("input.queries"):
        term_df = [(r["term"], int(r["df"])) for r in idx.stats.collect()]
        run.queries = generate_queries(term_df, seed=run.seed)
    if run.workload == "query_loaded":
        one_pass(run, idx, "warmup")
        run.memo = "warm: the loop reuses the warm-up's handle and its memo"
    else:
        run.memo = "cold: each pass of the loop starts on a freshly loaded handle"
    return idx


# ---------------------------------------------------------------- queries
def query_pair(run: Run, idx, q: dict, phase: str, paths: tuple[str, ...]) -> QueryCall | None:
    """Parse once, then ``top_k`` and/or ``wand_topk`` on the same spec.
    Returns the call record (rows from the first path run)."""
    from miru_spark.filters import parse_query
    from miru_spark.operators import fulltext, wand

    tr, qid = run.tracer, q["qid"]
    with tr.span("filters.parse", op=qid):
        spec = run.op(f"{qid} parse", parse_query, q["query"], k=q["k"], scorer=q["scorer"],
                      stopwords=idx.stopwords, stemmer=idx.stemmer)
    if spec is None:
        return None
    call = QueryCall(qid, phase, 0.0, 0.0, 0, 0, [])
    results = {}
    if "topk" in paths:
        before = set(idx.term_stats_cache or ())
        c0 = run.cpu.now()
        with tr.span("fulltext.plan", op=qid) as s1:
            df = run.op(f"{qid} top_k", fulltext.top_k, idx, spec)
        with tr.span("fulltext.exec", op=qid) as s2:
            res = None if df is None else run.op(f"{qid} top_k collect", df.collect)
        call.topk_cpu_s = run.cpu.now() - c0
        call.topk_s = s1.dur + s2.dur
        call.topk_spans = [s1.id, s2.id]
        terms = {t for t, _, _ in fulltext.expand_clauses(idx, spec)}
        call.memo_lookups = len(terms)
        call.memo_hits = len(terms & before)
        if res is None:
            return None
        results["topk"] = _rows(res)
    if "wand" in paths:
        c0 = run.cpu.now()
        with tr.span("wand.plan", op=qid) as s1:
            df = run.op(f"{qid} wand_topk", wand.wand_topk, idx, spec)
        with tr.span("wand.exec", op=qid) as s2:
            res = None if df is None else run.op(f"{qid} wand_topk collect", df.collect)
        call.wand_cpu_s = run.cpu.now() - c0
        call.wand_s = s1.dur + s2.dur
        call.wand_spans = [s1.id, s2.id]
        if res is None:
            return None
        results["wand"] = _rows(res)
    if len(results) == 2:
        run.check(results["topk"] == results["wand"], f"{qid}: top_k and wand_topk differ")
    call.rows = results.get("topk", results.get("wand"))
    run.calls.append(call)
    return call


def oracle_check(run: Run, qid_rows: dict[str, list]) -> None:
    """Compare engine answers with the DuckDB brute-force oracle over the
    corpus the index currently holds."""
    import duckdb

    from miru_spark.filters import parse_query
    from miru_spark.oracles import fulltext_topk_sql

    by_qid = {q["qid"]: q for q in run.queries}
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{os.path.join(run.work, 'duckdb')}'")
        docs = run.corpus[["doc_id", "content"]]
        con.register("documents", docs)
        for qid, rows in qid_rows.items():
            q = by_qid[qid]
            spec = parse_query(q["query"], k=q["k"], scorer=q["scorer"])
            sql = fulltext_topk_sql(spec, table="documents", id_col="doc_id", text_col="content")
            want = [(int(d), float(s)) for d, s in con.execute(sql).fetchall()]
            run.check(rows == want, f"{qid}: differs from the DuckDB oracle")
    finally:
        con.close()


# ---------------------------------------------------------------- repairs
def repair(run: Run, batch_no: int):
    """Upsert one batch, load the index, and check the batch answers its
    probe. Returns the fresh handle."""
    from miru_spark.index_store import load_index, upsert_docs

    spark, tr = run.spark, run.tracer
    with tr.span("input.batch", op=f"b{batch_no}"):
        batch = inputs.repair_batch(run.seed, batch_no, run.corpus, REPAIR_DOCS)
        batch_df = spark.createDataFrame(batch)
    with tr.span("index_store.upsert", op=f"b{batch_no}"):
        run.op(f"upsert b{batch_no}", upsert_docs, spark, run.index_dir, batch_df)
    with tr.span("index_store.load", op=f"b{batch_no}"):
        idx = load_index(spark, run.index_dir)
    run.corpus = inputs.apply_batch(run.corpus, batch)
    probe = {"qid": f"p{batch_no}", "query": inputs.probe_token(batch_no), "k": 100, "scorer": "bm25"}
    call = query_pair(run, idx, probe, "setup", PATHS[run.workload])
    if call is not None:
        got = sorted(d for d, _ in call.rows)
        run.check(got == sorted(batch["doc_id"].tolist()),
                  f"probe b{batch_no}: returned {len(got)} docs, not the {len(batch)} upserted")
    return idx


# ---------------------------------------------------------------- loop
def one_pass(run: Run, idx, phase: str) -> None:
    by_qid = {q["qid"]: q for q in run.queries}
    for qid in REFERENCE_QIDS:
        query_pair(run, idx, by_qid[qid], phase, PATHS[run.workload])


def measure(run: Run, idx, clock) -> None:
    """Whole passes of ``REFERENCE_QIDS`` until ``run.seconds`` have gone by."""
    from miru_spark.index_store import load_index

    t0 = clock()
    while True:
        if run.workload == "repair_mixed":
            with run.tracer.span("index_store.load"):
                idx = load_index(run.spark, run.index_dir)
        one_pass(run, idx, "measure")
        if clock() - t0 >= run.seconds:
            break


def check(run: Run) -> None:
    from miru_spark.index_store import compact, load_index

    tr = run.tracer
    first = {}
    for call in run.calls:
        if call.phase == "measure" and call.qid in REFERENCE_QIDS and call.qid not in first:
            first[call.qid] = call.rows
    run.check(len(first) == len(REFERENCE_QIDS), "a reference query has no answer from the loop")
    if run.workload == "repair_mixed":
        with tr.span("index_store.compact"):
            run.op("compact", compact, run.spark, run.index_dir)
        with tr.span("index_store.load"):
            idx = load_index(run.spark, run.index_dir)
        ref = {q["qid"]: q for q in run.queries}
        for qid, rows in first.items():
            call = query_pair(run, idx, ref[qid], "check", paths=("wand",))
            if call is not None:
                run.check(call.rows == rows,
                          f"{qid}: wand_topk after compact() differs from top_k before it")
    with tr.span("oracle.duckdb"):
        oracle_check(run, first)
