"""Spark event-log parser: task metrics attributed to benchmark spans.

Reads an uncompressed, non-rolling event log (one JSON event per line).
Each job and stage carries the job description the benchmark set around the
call that started it (``pb|<span id>|<name>``, see ``tracing``); every task's
metrics are added to that span. A stage counts as a Python stage when one
of its RDD scopes is a Python/Arrow operator (MapInArrow,
FlatMapGroupsInPandas, ArrowEvalPython, ...) or one of its RDDs is a
``PythonRDD`` (a Python function over an RDD, as ``createDataFrame`` of
driver-side rows runs): executor run time of those stages is kernel time,
the rest JVM time.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from tracing import DESC_PREFIX

_KERNEL_SCOPE = re.compile(r"Arrow|Pandas|Python")
_DESC = "spark.job.description"


@dataclass
class Usage:
    jobs: int = 0
    tasks: int = 0
    kernel_run_ms: int = 0
    jvm_run_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    records_read: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    output_bytes: int = 0

    @property
    def run_ms(self) -> int:
        return self.kernel_run_ms + self.jvm_run_ms

    def add(self, other: "Usage") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    by_span: dict[int, Usage] = field(default_factory=dict)
    total: Usage = field(default_factory=Usage)
    unlabelled_jobs: int = 0

    def usage(self, span_ids) -> Usage:
        out = Usage()
        for i in span_ids:
            if i in self.by_span:
                out.add(self.by_span[i])
        return out


def span_of(props: dict | None) -> int | None:
    desc = (props or {}).get(_DESC) or ""
    parts = desc.split("|")
    if len(parts) >= 3 and parts[0] == DESC_PREFIX and parts[1].isdigit():
        return int(parts[1])
    return None


def parse(path: str) -> EventLog:
    log = EventLog()
    stage_span: dict[int, int | None] = {}
    kernel_stage: set[int] = set()
    tasks: list[tuple[int, dict]] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                sid = span_of(e.get("Properties"))
                if sid is None:
                    log.unlabelled_jobs += 1
                else:
                    log.by_span.setdefault(sid, Usage()).jobs += 1
                log.total.jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                stage_span[e["Stage Info"]["Stage ID"]] = span_of(e.get("Properties"))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                for rdd in info.get("RDD Info", []):
                    scope = rdd.get("Scope")
                    if rdd.get("Name") == "PythonRDD" or (
                        scope and _KERNEL_SCOPE.search(json.loads(scope).get("name", ""))
                    ):
                        kernel_stage.add(info["Stage ID"])
                        break
            elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                tasks.append((e["Stage ID"], e["Task Metrics"]))
    for stage, m in tasks:
        u = Usage(tasks=1)
        run = int(m.get("Executor Run Time", 0))
        if stage in kernel_stage:
            u.kernel_run_ms = run
        else:
            u.jvm_run_ms = run
        sw = m.get("Shuffle Write Metrics", {})
        sr = m.get("Shuffle Read Metrics", {})
        u.shuffle_write_bytes = int(sw.get("Shuffle Bytes Written", 0))
        u.shuffle_read_bytes = int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
        u.records_read = int(m.get("Input Metrics", {}).get("Records Read", 0))
        u.spill_bytes = int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0))
        u.gc_ms = int(m.get("JVM GC Time", 0))
        u.output_bytes = int(m.get("Output Metrics", {}).get("Bytes Written", 0))
        log.total.add(u)
        sid = stage_span.get(stage)
        if sid is not None:
            log.by_span.setdefault(sid, Usage()).add(u)
    return log
