"""The traced run: per-layer metrics, named by module.

The workload's warm-up iterations, then an untraced, a traced and
another untraced iteration, then (log workloads) the lazy-operator
ladder, then the Spark event log. Every per-layer metric
is reported on every workload; a layer the workload does not exercise
reports 0.
"""

from __future__ import annotations

import os
import time

from perfbench import tracing
from perfbench.common import Tally, log, median, warm_up

LADDER_REPEATS = 3

CORPUS_STAGES = ("exact_dedup", "near_dedup", "decontaminate", "quality",
                 "sample", "pack")

# name -> unit, in report order
METRICS = {
    "session.start_s": "s",
    "reader.list_parts_s": "s",
    "reader.list_parts_calls": "count",
    "reader.files_identity_s": "s",
    "reader.footers_read": "count",
    "reader.parts_pending": "count",
    "reader.parts_skipped": "count",
    "reader.prune_ratio": "ratio",
    "manifest.read_all_s": "s",
    "manifest.read_all_calls": "count",
    "manifest.entries_read": "count",
    "manifest.commit_s": "s",
    "manifest.commits": "count",
    "scan.s": "s",
    "parse.s": "s",
    "parse.rows": "count",
    "parse.match_ratio": "ratio",
    "enrich.s": "s",
    "enrich.hit_ratio": "ratio",
    "route.s": "s",
    "route.fanout": "ratio",
    "pipeline.stage_write_s": "s",
    "pipeline.readback_s": "s",
    "pipeline.self_s": "s",
    "pipeline.files_staged": "count",
    "pipeline.bytes_staged": "bytes",
    "pipeline.write_slot_util": "ratio",
    **{f"corpus.{s}_s": "s" for s in CORPUS_STAGES},
    **{f"corpus.{s}_keep_ratio": "ratio" for s in CORPUS_STAGES},
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.slot_util": "ratio",
    "noop.s": "s",
    "noop.reader_s": "s",
    "noop.manifest_s": "s",
    "trace.run_s": "s",
    "trace.untraced_run_s": "s",
    "trace.overhead_s": "s",
}


def _set_span(spark, name: str | None) -> None:
    spark.sparkContext.setLocalProperty(tracing.SPAN_PROPERTY, name)


def ladder(w) -> dict[str, float]:
    """Time the lazy operators in isolation over the timed run's input
    files: scan, +parse_stage, +enrich_stage, +explode_routed, each
    written to the `noop` sink. A layer's time is its rung minus the
    rung below (medians over LADDER_REPEATS interleaved passes)."""
    from pyspark.sql import functions as F

    from llogtail_spark.operators.enrich import enrich_stage
    from llogtail_spark.operators.parse import parse_stage
    from llogtail_spark.operators.route import explode_routed
    from llogtail_spark.sources import reader

    spark, conf = w.spark, w.conf
    scan = reader.with_partition_id(reader.read_files(spark, w.timed_files()))
    parsed = parse_stage(scan, conf.grok)
    lookup = spark.read.parquet(conf.lookup_path)
    enriched = enrich_stage(parsed, lookup, defaults=conf.enrich_defaults)
    rungs = {"scan": scan, "parse": parsed, "enrich": enriched,
             "route": explode_routed(enriched, conf.sinks)}
    times: dict[str, list[float]] = {k: [] for k in rungs}
    _set_span(spark, "ladder")
    for _ in range(LADDER_REPEATS):
        for name, df in rungs.items():
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times[name].append(time.perf_counter() - t0)
    # match and hit ratios: one aggregate over parse + enrich without
    # the enrich defaults, so lookup misses stay NULL
    counts = enrich_stage(parsed, lookup).agg(
        F.count(F.lit(1)).alias("rows"),
        F.count("level").alias("matched"),
        F.count("facility").alias("hit"),
    ).collect()[0]
    _set_span(spark, None)
    t = {k: median(v) for k, v in times.items()}
    rows = int(counts["rows"])
    return {
        "scan.s": t["scan"],
        "parse.s": t["parse"] - t["scan"],
        "enrich.s": t["enrich"] - t["parse"],
        "route.s": t["route"] - t["enrich"],
        "parse.rows": rows,
        "parse.match_ratio": counts["matched"] / rows if rows else 0.0,
        "enrich.hit_ratio": counts["hit"] / rows if rows else 0.0,
    }


def _traced_call(w, tracer, targets, parent: str):
    t0 = time.perf_counter()
    with tracing.patched(tracer, targets, parent):
        out = getattr(w, parent)()
    wall = time.perf_counter() - t0
    tracer.record(parent, t0, t0 + wall)
    return out, wall


def _children_s(tracer, parent: str, prefix: str) -> float:
    """Total time of `parent`'s child spans whose name starts with
    `prefix` (a full name selects one kind of span)."""
    return sum(s.end - s.start for s in tracer.spans
               if s.parent == parent and s.name.startswith(prefix))


def _log_layers(w, tracer, res, run_s: float) -> dict[str, float]:
    from llogtail_spark import manifest

    def run(name: str) -> float:
        return _children_s(tracer, "run", name)

    pending = {p for ps in res.processed.values() for p in ps}
    skipped = {p for ps in res.skipped.values() for p in ps}
    routed = sum(e.row_count for e in manifest.read_all(w.conf.manifest_dir)
                 if e.part in pending)
    out = {
        "reader.list_parts_s": run("reader.list_parts"),
        "reader.files_identity_s": run("reader.files_identity"),
        "reader.parts_pending": len(pending),
        "reader.parts_skipped": len(skipped),
        "reader.prune_ratio":
            len(skipped) / (len(skipped) + len(pending)) if pending or skipped else 0.0,
        "manifest.read_all_s": run("manifest.read_all"),
        "manifest.commit_s": run("manifest.commit"),
        "pipeline.stage_write_s": run("pipeline.stage_write"),
        "pipeline.readback_s": run("pipeline.readback"),
        "route.fanout": routed / w.rows,
    }
    out["pipeline.self_s"] = run_s - _children_s(tracer, "run", "")
    return out


def _corpus_layers(tracer) -> dict[str, float]:
    out = {}
    secs = tracing.corpus_stage_seconds(tracer, CORPUS_STAGES)
    for st in CORPUS_STAGES:
        n_in = tracer.counts.get(f"corpus.{st}_in", 0)
        n_out = tracer.counts.get(f"corpus.{st}_out", 0)
        out[f"corpus.{st}_s"] = secs[st]
        out[f"corpus.{st}_keep_ratio"] = n_out / n_in if n_in else 0.0
    out["manifest.read_all_s"] = _children_s(tracer, "run", "manifest.read_all")
    out["manifest.commit_s"] = _children_s(tracer, "run", "manifest.commit")
    return out


def traced(w, session, work: str, start_s: float) -> tuple[dict, int, int]:
    """Returns (per-layer metrics, attempted, failed)."""
    is_log = w.name != "corpus"
    metrics = dict.fromkeys(METRICS, 0.0)
    metrics["session.start_s"] = start_s
    tally = Tally()
    warm_up(w, tally)

    untraced_s = [tally.iterate(w)]

    tracer = tracing.Tracer(trace_id=f"{w.name}-{w.seed}")
    targets = (tracing.log_pipeline_targets() if is_log
               else tracing.corpus_pipeline_targets())
    tally.attempted += 1
    w.reset()
    _set_span(w.spark, "run")
    res, run_s = _traced_call(w, tracer, targets, "run")
    _set_span(w.spark, "noop")
    nres, noop_s = _traced_call(w, tracer, targets, "noop")
    _set_span(w.spark, None)
    errs = w.check(res, nres)
    if errs:
        tally.failed += 1
        log("traced run check failed: " + "; ".join(errs[:5]))

    for k in ("reader.list_parts_calls", "reader.footers_read",
              "manifest.read_all_calls", "manifest.entries_read",
              "manifest.commits"):
        metrics[k] = tracer.counts.get(k, 0.0)
    metrics.update(_log_layers(w, tracer, res, run_s) if is_log
                   else _corpus_layers(tracer))
    metrics["noop.s"] = noop_s
    metrics["noop.reader_s"] = _children_s(tracer, "noop", "reader.")
    metrics["noop.manifest_s"] = _children_s(tracer, "noop", "manifest.")
    # a second untraced run brackets the traced one to offset JIT
    # warm-up across the three runs; the warm-up still outweighs the
    # tracing cost, so the difference can read negative
    untraced_s.append(tally.iterate(w))
    untraced_s = [t for t in untraced_s if t is not None]  # checked ones
    metrics["trace.run_s"] = run_s
    metrics["trace.untraced_run_s"] = median(untraced_s)
    metrics["trace.overhead_s"] = run_s - median(untraced_s)
    if is_log:
        metrics.update(ladder(w))

    session.spark.stop()  # completes the event log
    events = tracing.read_event_log(os.path.join(work, "events"))
    metrics.update(tracing.spark_counters(events, "run", session.cores, run_s))
    tracer.dump(os.path.join(os.path.dirname(work), "traces",
                             f"{w.name}-seed{w.seed}.json"))
    _report(w, metrics)
    return metrics, tally.attempted, tally.failed


def _report(w, m: dict[str, float]) -> None:
    """Human-readable accounting on standard error."""
    if w.name == "corpus":
        stages = sum(m[f"corpus.{s}_s"] for s in CORPUS_STAGES)
        log(f"corpus: stages {stages:.3f}s of traced run_s {m['trace.run_s']:.3f}s")
    else:
        parts = ("reader.list_parts_s", "reader.files_identity_s",
                 "manifest.read_all_s", "manifest.commit_s",
                 "pipeline.stage_write_s", "pipeline.readback_s",
                 "pipeline.self_s")
        log(f"{w.name}: run_s {m['trace.run_s']:.3f} = "
            + " + ".join(f"{k} {m[k]:.3f}" for k in parts))
        lad = m["scan.s"] + m["parse.s"] + m["enrich.s"] + m["route.s"]
        log(f"{w.name}: ladder scan+parse+enrich+route {lad:.3f}s vs "
            f"stage_write {m['pipeline.stage_write_s']:.3f}s")
        nl = m["noop.reader_s"] + m["noop.manifest_s"]
        log(f"{w.name}: noop {m['noop.s']:.3f}s, reader+manifest {nl:.3f}s")
    log(f"trace overhead {m['trace.overhead_s']:.3f}s")
