"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke tests start the real benchmark (each run starts a Spark session
and builds an index, about a minute); the parser test reads a captured
event log; the kill-resume test drives ``build_persistent`` directly.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int, cwd: str = ROOT, seed: int = 3) -> subprocess.CompletedProcess:
    return subprocess.run(
        SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                           "--seconds", "0", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_reports_every_metric(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, p.stderr[-3000:]
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    else:
        assert res["metrics"]["trace.coverage"]["value"] >= 0.9
        assert res["metrics"]["trace.unlabelled_jobs"]["value"] == 0


def test_fails_without_the_program(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark exits
    non-zero without printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_layer_map_covers_every_metric():
    with open(os.path.join(BENCH, "layers.json")) as f:
        layers = json.load(f)
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    assert set(layers["per_layer"]) == {m["name"] for m in SPEC["per_layer"]}
    assert e2e <= set(layers["end_to_end"])
    for name, info in layers["per_layer"].items():
        assert set(info["moves"]) <= e2e, name


def test_eventlog_parser_on_captured_log():
    """A trimmed log of one reference query of a traced query_loaded run:
    span 40 is its top_k collect and span 42 its wand_topk collect. The
    first line, a job started outside any span, was added by hand."""
    import eventlog

    log = eventlog.parse(os.path.join(HERE, "data", "eventlog_query.jsonl"))
    assert log.unlabelled_jobs == 1
    assert set(log.by_span) == {40, 42}
    topk, wand = log.by_span[40], log.by_span[42]
    assert (topk.jobs, topk.tasks) == (3, 6)
    assert (wand.jobs, wand.tasks) == (2, 5)
    # Python stages: 104 (a PythonRDD: the broadcast query relation built
    # from driver-side rows), 105 (MapInArrow decode) and 110
    # (FlatMapGroupsInPandas kernel). Stages 107 and 108 are JVM time.
    assert (topk.kernel_run_ms, topk.jvm_run_ms) == (1410 + 244, 91)
    assert (wand.kernel_run_ms, wand.jvm_run_ms) == (286, 72)
    assert topk.records_read == wand.records_read == 14658
    assert (topk.shuffle_write_bytes, wand.shuffle_write_bytes) == (7892, 1565)
    assert log.total.jobs == 6 and log.total.tasks == 11
    assert log.usage([40, 42]).run_ms == topk.run_ms + wand.run_ms


def test_self_time_subtracts_children():
    from tracing import Tracer

    tr = Tracer(enabled=False)
    with tr.span("run") as root:
        with tr.span("fulltext.plan") as a:
            with tr.span("filters.parse") as b:
                pass
    st = tr.self_times()
    assert st["filters"] == pytest.approx(b.dur)
    assert st["fulltext"] == pytest.approx(a.dur - b.dur)
    assert sum(st.values()) == pytest.approx(root.dur)


def test_inputs_come_from_the_seed():
    import inputs
    from miru_spark.corpus import row_record

    a, b = inputs.make_corpus(5, 8), inputs.make_corpus(5, 8)
    assert a["doc_id"].tolist() == list(range(8))
    assert a["content"].tolist() == [row_record(i, 5)["content"] for i in range(8)]
    assert inputs.fingerprint(a) == inputs.fingerprint(b)
    assert inputs.fingerprint(a) != inputs.fingerprint(inputs.make_corpus(6, 8))
    batch = inputs.repair_batch(5, 1, a, 4)
    assert len(batch) == 4 and batch["doc_id"].is_unique
    assert batch["content"].str.contains(inputs.probe_token(1)).all()
    after = inputs.apply_batch(a, batch)
    assert len(after) == len(a) + 2 and after["doc_id"].is_unique


def test_kill_resume_of_build_persistent(tmp_path):
    """fail_after_wave=0 then resume: the resumed build skips the committed
    wave and writes the same postings as a clean build."""
    import inputs
    from miru_spark.index_store import build_persistent
    from miru_spark.session import get_spark

    spark = get_spark("perfbench_tests", master="local[2]", shuffle_partitions=2)
    try:
        src_path = str(tmp_path / "corpus.parquet")
        inputs.make_corpus(7, 24).to_parquet(src_path, index=False)
        src = spark.read.parquet(src_path)
        kw = dict(text_col="content", dense_id_col="doc_id", capacity=8, wave_size=1)
        clean, resumed = str(tmp_path / "clean"), str(tmp_path / "resumed")
        build_persistent(src, clean, **kw)
        with pytest.raises(RuntimeError, match="injected failure"):
            build_persistent(src, resumed, fail_after_wave=0, **kw)
        rep = build_persistent(src, resumed, **kw)
        assert rep.waves_skipped >= 1
        assert rep.waves_run == rep.n_waves - rep.waves_skipped

        def postings(d):
            return sorted(
                tuple(r) for r in spark.read.parquet(f"{d}/postings")
                .select("term", "part", "df_part", "ids", "tfs").collect()
            )

        assert postings(clean) == postings(resumed)
    finally:
        spark.stop()
