"""Tests for the benchmark itself, at a tiny size:
the output check catches a corrupted sink file, the increment reset
restores an identical committed history, and every metric name is
well-formed and matches BENCHMARK.json."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re

import pyarrow.parquet as pq
import pytest

from perfbench import layers, run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
E2E = {"run_s", "rows_per_s", "setup_s", "peak_rss_mb"}


@pytest.fixture(scope="module")
def spark():
    """A small session: the heap the benchmark itself uses, not the
    session factory's 8 GB pre-touched default."""
    from llogtail_spark.session import get_spark

    prev = os.environ.get("SPARK_DRIVER_MEM")
    os.environ["SPARK_DRIVER_MEM"] = run.DRIVER_MEM
    try:
        return get_spark("perfbench-tests", cores=2, shuffle_partitions=4,
                         extra_conf={"spark.ui.showConsoleProgress": "false"})
    finally:
        if prev is None:
            del os.environ["SPARK_DRIVER_MEM"]
        else:
            os.environ["SPARK_DRIVER_MEM"] = prev


def _iterate(w):
    w.reset()
    res = w.run()
    return res, w.noop()


def test_corrupted_sink_file_fails_check(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "BULK_ROWS", 600)
    monkeypatch.setattr(workloads, "BULK_FILES", 3)
    w = workloads.Bulk(spark, str(tmp_path), seed=7)
    w.generate()
    w.reference()
    res, noop = _iterate(w)
    assert w.check(res, noop) == []

    victim = sorted(glob.glob(os.path.join(w.workdir, "out", "errors",
                                           "part=*", "*.parquet")))[0]
    table = pq.read_table(victim)
    assert table.num_rows > 1
    pq.write_table(table.slice(1), victim)  # drop one shipped row
    # drop Hadoop's checksum sidecar too, so the read succeeds and the
    # benchmark's own comparison has to catch the change
    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    os.remove(crc)
    errs = w.check(res, noop)
    assert errs and any("errors" in e for e in errs)


def _tree_digest(path: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            full = os.path.join(dirpath, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = hashlib.sha1(fh.read()).hexdigest()
    return out


def test_increment_reset_restores_history(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "INC_HISTORY_PARTS", 4)
    monkeypatch.setattr(workloads, "INC_NEW_PARTS", 2)
    monkeypatch.setattr(workloads, "INC_ROWS_PER_PART", 40)
    w = workloads.Increment(spark, str(tmp_path), seed=3)
    w.generate()
    w.prepare()
    w.reference()

    w.reset()
    history = _tree_digest(w.workdir)
    assert history, "the committed history is empty"
    res1 = w.run()
    assert w.check(res1, w.noop()) == []

    w.reset()
    assert _tree_digest(w.workdir) == history
    res2 = w.run()
    new_parts = sorted(os.path.basename(f)[:-len(".parquet")]
                       for f in w.timed_files())
    assert len(new_parts) == 2
    for sink in res1.processed:
        assert res1.processed[sink] == res2.processed[sink] == new_parts
        assert len(res2.skipped[sink]) == 4
    assert w.check(res2, w.noop()) == []


def test_metric_names_are_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    per_layer = {m["name"] for m in bench["per_layer"]}
    assert e2e == E2E

    class _W:
        rows = 10

    m = {"runs": [1.0], "peak_rss_mb": 100.0}
    assert set(run.end_to_end(_W(), 1.0, m)) == e2e
    assert per_layer == set(layers.METRICS)
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert units == layers.METRICS
    for name in e2e | per_layer | {w["name"] for w in bench["workloads"]}:
        assert NAME.match(name), name
    assert set(w["name"] for w in bench["workloads"]) <= set(workloads.WORKLOADS)
