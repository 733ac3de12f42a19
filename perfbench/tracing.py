"""Per-layer tracing from outside the program.

Spans are recorded by wrapping public functions of the program's
modules for the duration of one traced run (and restoring them
after), so nothing inside ``llogtail_spark`` is instrumented. Spark's
own counters come from the event log the traced session writes to the
benchmark's scratch directory.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None  # name of the span that caused it
    trace_id: str  # shared by every span of one traced run


@dataclass
class Tracer:
    """Spans and counters kept in memory; `dump` writes them out."""

    trace_id: str = "run"
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))

    def record(self, name: str, start: float, end: float,
               parent: str | None = None) -> None:
        self.spans.append(Span(name, start, end, parent, self.trace_id))

    def first(self, name: str) -> Span | None:
        return next((s for s in self.spans if s.name == name), None)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans],
                       "counts": dict(self.counts)}, f)


@contextlib.contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str, object]],
            parent: str):
    """Wrap `owner.attr` for each (owner, attr, span_name, on_return)
    target; `on_return(tracer, args, result)` records counters. The
    originals are restored on exit."""
    saved = []

    def wrap(fn, name, on_return):
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.record(name, t0, time.perf_counter(), parent)
            if on_return is not None:
                on_return(tracer, args, out)
            return out

        return traced

    try:
        for owner, attr, name, on_return in targets:
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            setattr(owner, attr, wrap(fn, name, on_return))
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


def _count(key: str, amount=lambda args, out: 1):
    def on_return(tracer: Tracer, args, out) -> None:
        tracer.counts[key] += amount(args, out)

    return on_return


def _manifest_reads(tracer: Tracer, args, out) -> None:
    tracer.counts["manifest.read_all_calls"] += 1
    tracer.counts["manifest.entries_read"] += len(out)


def log_pipeline_targets() -> list[tuple[object, str, str, object]]:
    """Layer boundaries crossed by ``pipeline.run_pipeline``."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from llogtail_spark import manifest
    from llogtail_spark.sources import reader

    return [
        (reader, "list_parts", "reader.list_parts",
         _count("reader.list_parts_calls")),
        (reader, "files_identity", "reader.files_identity",
         _count("reader.footers_read", lambda a, o: len(o))),
        (manifest, "read_all", "manifest.read_all", _manifest_reads),
        (manifest, "commit", "manifest.commit", _count("manifest.commits")),
        (DataFrameWriter, "save", "pipeline.stage_write", None),
        (DataFrame, "collect", "pipeline.readback", None),
    ]


def corpus_pipeline_targets() -> list[tuple[object, str, str, object]]:
    """Stage boundaries crossed by ``run_corpus_pipeline``: each
    stage span runs from the call of its transform to the return of
    its stage-manifest commit."""
    from llogtail_spark import corpus_pipeline as cp
    from llogtail_spark import manifest

    def keep(tracer: Tracer, args, out) -> None:
        m = args[1]
        tracer.counts[f"corpus.{m.stage}_in"] = m.in_rows
        tracer.counts[f"corpus.{m.stage}_out"] = m.out_rows

    targets = [(cp, f"stage_{s}", f"corpus.{s}.begin", None)
               for s in cp.CORPUS_STAGES]
    targets += [
        (cp, "commit_stage", "corpus.commit_stage", keep),
        (manifest, "read_all", "manifest.read_all", _manifest_reads),
        (manifest, "commit", "manifest.commit", _count("manifest.commits")),
    ]
    return targets


def corpus_stage_seconds(tracer: Tracer, stages) -> dict[str, float]:
    """Stage span = first call of its transform to the end of the
    next stage-manifest commit after it."""
    commits = sorted(s.end for s in tracer.spans
                     if s.name == "corpus.commit_stage")
    out = {}
    for st in stages:
        b = tracer.first(f"corpus.{st}.begin")
        if b is None:
            out[st] = 0.0
            continue
        end = next((c for c in commits if c >= b.start), b.end)
        out[st] = end - b.start
    return out


# ------------------------------------------------------------ event log

SPAN_PROPERTY = "perfbench.span"


def read_event_log(event_dir: str) -> list[dict]:
    """Events of the most recent application in `event_dir` (the
    session must be stopped first so the log is complete)."""
    logs = [p for p in glob.glob(os.path.join(event_dir, "*"))
            if os.path.isfile(p)]
    if not logs:
        raise FileNotFoundError(f"no Spark event log under {event_dir}")
    path = max(logs, key=os.path.getmtime)
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _plan_metrics(plan: dict, names: set[str], out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") in names:
            out[int(m["accumulatorId"])] = m["name"]
    for child in plan.get("children", []):
        _plan_metrics(child, names, out)


def spark_counters(events: list[dict], span: str, cores: int,
                   wall_s: float) -> dict[str, float]:
    """Engine counters of the jobs tagged with `span`:
    tasks, shuffle and spill bytes, GC seconds, slot utilisation over
    `wall_s`, and the staged-write stage's files, bytes and slot
    utilisation."""
    job_stages: set[int] = set()
    execs: set[int] = set()
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        props = e.get("Properties") or {}
        if props.get(SPAN_PROPERTY) != span:
            continue
        job_stages.update(e.get("Stage IDs", []))
        if "spark.sql.execution.id" in props:
            execs.add(int(props["spark.sql.execution.id"]))

    write_metrics = {"number of written files", "written output"}
    acc_names: dict[int, str] = {}
    write_execs: set[int] = set()
    for e in events:
        # adaptive re-planning posts the executed plan (with fresh
        # metric ids) in SQLAdaptiveExecutionUpdate events
        if (e.get("Event", "").endswith(("SparkListenerSQLExecutionStart",
                                         "SparkListenerSQLAdaptiveExecutionUpdate"))
                and int(e.get("executionId", -1)) in execs):
            found: dict[int, str] = {}
            _plan_metrics(e.get("sparkPlanInfo", {}), write_metrics, found)
            if found:
                write_execs.add(int(e["executionId"]))
                acc_names.update(found)
    written = defaultdict(float)
    for e in events:
        if (e.get("Event", "").endswith("SparkListenerDriverAccumUpdates")
                and int(e.get("executionId", -1)) in write_execs):
            for acc_id, value in e.get("accumUpdates", []):
                if int(acc_id) in acc_names:
                    written[acc_names[int(acc_id)]] += float(value)

    write_stages: set[int] = set()
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            if ex is not None and int(ex) in write_execs \
                    and props.get(SPAN_PROPERTY) == span:
                write_stages.update(e.get("Stage IDs", []))

    c = defaultdict(float)
    busy_by_stage = defaultdict(float)
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" \
                or e.get("Stage ID") not in job_stages:
            continue
        info, tm = e.get("Task Info", {}), e.get("Task Metrics") or {}
        busy = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000
        c["spark.tasks"] += 1
        c["busy"] += busy
        busy_by_stage[e["Stage ID"]] += busy
        c["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1000
        c["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        c["spark.shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)

    write_busy, write_wall = 0.0, 0.0
    for e in events:
        if e.get("Event") != "SparkListenerStageCompleted":
            continue
        si = e.get("Stage Info", {})
        if si.get("Stage ID") in write_stages and "Completion Time" in si:
            write_busy += busy_by_stage[si["Stage ID"]]
            write_wall += (si["Completion Time"] - si["Submission Time"]) / 1000

    return {
        "spark.tasks": c["spark.tasks"],
        "spark.shuffle_bytes": c["spark.shuffle_bytes"],
        "spark.spill_bytes": c["spark.spill_bytes"],
        "spark.gc_s": c["spark.gc_s"],
        "spark.slot_util": c["busy"] / (cores * wall_s) if wall_s > 0 else 0.0,
        "pipeline.files_staged": written["number of written files"],
        "pipeline.bytes_staged": written["written output"],
        "pipeline.write_slot_util":
            write_busy / (cores * write_wall) if write_wall > 0 else 0.0,
    }
