"""End-to-end and per-layer metrics of one run, by the names in
BENCHMARK.json.

End-to-end metrics come from the run's spans and engine CPU readings (the
untraced run is the measurement); per-layer metrics from the spans and the
Spark event log of the traced run. Each value is returned with its unit and
the number of samples behind it.
"""

from __future__ import annotations

import statistics

from tracing import PHASES
from workloads import CLASS_NAMES, Run, class_of


def _m(value, unit: str, n: int) -> dict:
    return {"value": value, "unit": unit, "n": n}


def _p50_ms(xs: list[float], unit: str = "ms") -> dict:
    """Median of seconds, in milliseconds. No samples only when every call
    of the kind failed; the run is then reported incorrect and the value is
    a placeholder."""
    return _m(statistics.median(xs) * 1000.0 if xs else 0.0, unit, len(xs))


def _loop_calls(run: Run) -> list:
    return [c for c in run.calls if c.phase == "measure"]


def end_to_end(run: Run, peak_rss_bytes: int) -> dict:
    tr = run.tracer
    calls = _loop_calls(run)
    return {
        "setup_s": _m(tr.durations("setup")[0], "s", 1),
        "index_bytes_per_input_byte": _m(
            run.index_bytes["total"] / run.input_fp["content_bytes"], "ratio", 1
        ),
        "topk_cpu_ms": _p50_ms([c.topk_cpu_s for c in calls if c.topk_s], "cpu-ms"),
        "peak_rss_mb": _m(peak_rss_bytes / 2**20, "MB", 1),
    }


def per_layer(run: Run, n_cores: int, log, wall_s: float) -> dict:
    """``log`` is the parsed event log (eventlog.EventLog)."""
    tr = run.tracer
    spans = tr.spans
    out: dict[str, dict] = {}

    out["session.start_s"] = _m(tr.durations("session.start")[0], "s", 1)

    build = [s for s in spans if s.name == "index_store.build"]
    u = log.usage(s.id for s in build)
    build_s = build[0].dur
    out["index_store.build_s"] = _m(build_s, "s", 1)
    out["index_store.build_docs_per_s"] = _m(run.input_fp["rows"] / build_s, "docs/s", 1)
    out["index_store.build_docs_per_cpu_s"] = _m(run.input_fp["rows"] / run.build_cpu_s, "docs/cpu-s", 1)
    out["build.jobs"] = _m(u.jobs, "count", 1)
    out["build.kernel_busy_s"] = _m(u.kernel_run_ms / 1000.0, "s", 1)
    out["build.jvm_busy_s"] = _m(u.jvm_run_ms / 1000.0, "s", 1)
    out["build.cpu_util"] = _m(u.run_ms / 1000.0 / (build_s * n_cores), "ratio", 1)
    out["build.shuffle_write_bytes"] = _m(u.shuffle_write_bytes, "bytes", 1)
    out["build.shuffle_read_bytes"] = _m(u.shuffle_read_bytes, "bytes", 1)
    out["build.spill_bytes"] = _m(u.spill_bytes, "bytes", 1)
    for part in ("segments", "postings", "forward", "doclens", "stats"):
        out[f"index_store.bytes_written.{part}"] = _m(run.index_bytes.get(part, 0), "bytes", 1)
    out["index_store.postings"] = _m(run.n_postings, "count", 1)

    out["spark.gc_s"] = _m(log.total.gc_ms / 1000.0, "s", log.total.tasks)
    out["spark.shuffle_bytes"] = _m(
        log.total.shuffle_write_bytes + log.total.shuffle_read_bytes, "bytes", log.total.tasks
    )
    out["spark.spill_bytes"] = _m(log.total.spill_bytes, "bytes", log.total.tasks)
    out["spark.jobs"] = _m(log.total.jobs, "count", 1)

    parse = [s.dur for s in spans if s.name == "filters.parse" and not tr.in_phase(s, "setup")]
    out["filters.parse_ms"] = _p50_ms(parse)

    calls = _loop_calls(run)
    for path, attr, span_attr in (("fulltext", "topk_s", "topk_spans"), ("wand", "wand_s", "wand_spans")):
        mine = [c for c in calls if getattr(c, attr)]
        ids = [i for c in mine for i in getattr(c, span_attr)]
        plan = [spans[i].dur for i in ids[0::2]]
        exe = [spans[i].dur for i in ids[1::2]]
        n = max(1, len(mine))
        pu = log.usage(ids)
        results = max(1, sum(max(1, len(c.rows)) for c in mine))
        out[f"{path}.p50_ms"] = _p50_ms([getattr(c, attr) for c in mine])
        if path == "wand":
            out["wand.cpu_ms"] = _p50_ms([c.wand_cpu_s for c in mine], "cpu-ms")
        out[f"{path}.plan_ms"] = _p50_ms(plan)
        out[f"{path}.exec_ms"] = _p50_ms(exe)
        out[f"{path}.jobs_per_query"] = _m(pu.jobs / n, "count", len(mine))
        out[f"{path}.tasks_per_query"] = _m(pu.tasks / n, "count", len(mine))
        out[f"{path}.rows_read_per_result"] = _m(pu.records_read / results, "ratio", len(mine))
        out[f"{path}.shuffle_bytes_per_query"] = _m(
            (pu.shuffle_write_bytes + pu.shuffle_read_bytes) / n, "bytes", len(mine)
        )
        out[f"{path}.kernel_busy_ms"] = _m(pu.kernel_run_ms / n, "ms", len(mine))
        out[f"{path}.jvm_busy_ms"] = _m(pu.jvm_run_ms / n, "ms", len(mine))
        for cls in CLASS_NAMES:
            out[f"{path}.p50_ms.{cls}"] = _p50_ms(
                [getattr(c, attr) for c in mine if class_of(c.qid) == cls]
            )
    lookups = sum(c.memo_lookups for c in calls if c.topk_s)
    hits = sum(c.memo_hits for c in calls if c.topk_s)
    out["fulltext.memo_hit_ratio"] = _m(hits / lookups if lookups else 0.0, "ratio", lookups)

    ups = [s for s in spans if s.name == "index_store.upsert"]
    uu = log.usage(s.id for s in ups)
    out["index_store.upsert.jobs"] = _m(uu.jobs / max(1, len(ups)), "count", len(ups))
    out["index_store.upsert.bytes_written"] = _m(
        uu.output_bytes / max(1, len(ups)), "bytes", len(ups)
    )
    out["index_store.load_ms"] = _p50_ms(tr.durations("index_store.load"))
    out["index_store.delta_waves"] = _m(run.delta_waves, "count", 1)
    comp = [s for s in spans if s.name == "index_store.compact"]
    cu = log.usage(s.id for s in comp)
    out["index_store.compact.jobs"] = _m(cu.jobs / max(1, len(comp)), "count", len(comp))
    out["index_store.compact.bytes_rewritten"] = _m(
        cu.output_bytes / max(1, len(comp)), "bytes", len(comp)
    )

    self_t = tr.self_times()
    layer_s = sum(v for k, v in self_t.items() if k not in PHASES)
    for layer in sorted(self_t):
        if layer not in PHASES:
            out[f"self_s.{layer}"] = _m(self_t[layer], "s", 1)
    out["trace.coverage"] = _m(layer_s / wall_s, "ratio", 1)
    out["trace.overhead_ms"] = _m(tr.overhead_s * 1000.0, "ms", len(spans))
    out["trace.unlabelled_jobs"] = _m(log.unlabelled_jobs, "count", 1)
    return out
