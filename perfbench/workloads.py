"""The three benchmark workloads.

Each workload separates what the benchmark times from what it does
around the timing:

- ``generate``   writes the seeded inputs (part of set-up, repeated);
- ``prepare``    one-off set-up after generation: warm-up, or the
                 committed history the increment starts from;
- ``reference``  the expected outputs, computed without the code
                 under test (not part of set-up time);
- ``reset``      restores the starting state before a timed run;
- ``run``        the timed call into the pipeline;
- ``noop``       the immediate rerun with nothing new;
- ``check``      compares a run's outputs with the reference and
                 returns the mismatches (empty when correct).
"""

from __future__ import annotations

import glob
import os
import shutil

from perfbench import reference

# Sizes are chosen so that one benchmark run, set-up included, stays
# around a minute on a 4-core host. `iteration_s` is a workload's
# nominal time for one timed iteration (run, reruns, check) on such a
# host; it fixes how many iterations a run of --seconds makes.
# `warmup_iterations` untimed (but checked) iterations follow the
# warm-up run of `prepare`: a fresh JVM runs the first iterations after
# it far slower than later ones, and how much slower depends on how busy
# the host is, so timing them would measure the host.
BULK_ROWS, BULK_FILES = 16_000, 8
INC_HISTORY_PARTS, INC_NEW_PARTS, INC_ROWS_PER_PART = 64, 16, 64
# the DuckDB oracle's cost grows faster than linearly with the corpus
CORPUS_DOCS, CORPUS_FILES = 400, 8


def _log_conf(data_dir: str, workdir: str, validate: bool):
    from llogtail_spark.config import PipelineConf
    from llogtail_spark.operators.route import SinkRule

    return PipelineConf(
        input_path=os.path.join(data_dir, "sequences"),
        lookup_path=os.path.join(data_dir, "lookup_sources.parquet"),
        workdir=workdir,
        sinks=[SinkRule(name, pred, os.path.join(workdir, "out", name))
               for name, pred, _ in reference.SINKS],
        validate_on_start=validate,
        committed_at="perfbench",
    )


def _parts(files: list[str]) -> list[str]:
    from llogtail_spark.sources.reader import part_of

    return sorted(part_of(f) for f in files)


class LogWorkload:
    """Shared timed call and output check of the two log workloads."""

    name = ""
    validate = False

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.data = os.path.join(work, "data")
        self.workdir = os.path.join(work, "wd")
        self.conf = _log_conf(self.data, self.workdir, self.validate)
        self.expected: dict[str, dict[str, int]] = {}

    # -- inputs the timed run consumes
    def input_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.data, "sequences", "*.parquet")))

    def timed_files(self) -> list[str]:
        return self.input_files()

    @property
    def rows(self) -> int:
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(f).num_rows for f in self.timed_files())

    def reference(self) -> None:
        self.expected = reference.log_reference(self.input_files())

    def run(self):
        from llogtail_spark.pipeline import run_pipeline

        return run_pipeline(self.spark, self.conf)

    noop = run

    def check(self, res, noop) -> list[str]:
        errs = []
        want_parts = _parts(self.timed_files())
        all_parts = _parts(self.input_files())
        for sink, parts in res.processed.items():
            if sorted(parts) != want_parts:
                errs.append(f"{sink}: committed {len(parts)} parts, "
                            f"expected {len(want_parts)}")
        if noop.metrics is not None or any(noop.processed.values()):
            errs.append("rerun with nothing new processed partitions")
        for sink, parts in noop.skipped.items():
            if sorted(parts) != all_parts:
                errs.append(f"{sink}: rerun skipped {len(parts)} parts, "
                            f"expected {len(all_parts)}")
        got = {r["sink"]: r.asDict() for r in res.metrics.collect()}
        for sink, want in self.expected.items():
            for k in ("row_count", "tok_total", "byte_total"):
                if got.get(sink, {}).get(k) != want[k]:
                    errs.append(f"{sink}.{k}: manifest {got.get(sink, {}).get(k)}"
                                f" != reference {want[k]}")
        return errs + self._check_shipped(res.processed)

    def _check_shipped(self, processed: dict[str, list[str]]) -> list[str]:
        """sink_aggregates over the files this run shipped must agree
        with the manifest entries it committed for them."""
        from pyspark.sql import functions as F

        from llogtail_spark import manifest
        from llogtail_spark.operators.aggregate import sink_aggregates

        committed: dict[str, dict[str, int]] = {}
        for e in manifest.read_all(self.conf.manifest_dir):
            if e.part in processed.get(e.sink, ()):
                c = committed.setdefault(e.sink, {"row_count": 0, "checksum": 0})
                c["row_count"] += e.row_count
                c["checksum"] ^= e.checksum
        routed = None
        for rule in self.conf.sinks:
            paths = [os.path.join(rule.path, f"part={p}")
                     for p in processed.get(rule.name, ())]
            paths = [p for p in paths if os.path.isdir(p)]
            if not paths:
                continue
            frame = self.spark.read.option("basePath", rule.path) \
                .parquet(*paths).withColumn("sink", F.lit(rule.name))
            routed = frame if routed is None else routed.unionByName(frame)
        shipped = {} if routed is None else {
            r["sink"]: {"row_count": r["row_count"], "checksum": r["checksum"]}
            for r in sink_aggregates(routed).collect()}
        return [f"{sink}: shipped files {shipped.get(sink)} disagree with "
                f"the manifest {committed.get(sink)}"
                for sink in sorted(set(committed) | set(shipped))
                if shipped.get(sink) != committed.get(sink)]


class Bulk(LogWorkload):
    """Backlog drain: a cold run over one large fixture."""

    name = "bulk"
    iteration_s = 3.5
    warmup_iterations = 2

    def generate(self) -> None:
        from llogtail_spark.generate import write_fixture

        shutil.rmtree(self.data, ignore_errors=True)
        write_fixture(self.data, BULK_ROWS, seed=self.seed, n_files=BULK_FILES)

    def prepare(self) -> None:
        """Warm-up: one full run into a scratch workdir, so JIT and
        Python-worker start-up are not charged to the timed runs."""
        from llogtail_spark.pipeline import run_pipeline

        d = os.path.join(self.work, "warmup")
        run_pipeline(self.spark, _log_conf(self.data, d, False))
        shutil.rmtree(d)

    def reset(self) -> None:
        shutil.rmtree(self.workdir, ignore_errors=True)


class Increment(LogWorkload):
    """Tail freshness: a small increment committed on top of a
    committed history, checked with ``validate_on_start``."""

    name = "increment"
    validate = True
    iteration_s = 5.0
    warmup_iterations = 1

    def __init__(self, spark, work: str, seed: int) -> None:
        super().__init__(spark, work, seed)
        self.pristine = os.path.join(work, "history")
        self.held = os.path.join(work, "held")

    def generate(self) -> None:
        """History and increment are one fixture; the increment's
        files (the last ones) are held back until the history is
        committed."""
        from llogtail_spark.generate import write_fixture

        shutil.rmtree(self.data, ignore_errors=True)
        shutil.rmtree(self.held, ignore_errors=True)
        n_parts = INC_HISTORY_PARTS + INC_NEW_PARTS
        write_fixture(self.data, n_parts * INC_ROWS_PER_PART,
                      seed=self.seed, n_files=n_parts)
        os.makedirs(self.held)
        for f in self.input_files()[INC_HISTORY_PARTS:]:
            shutil.move(f, self.held)

    def prepare(self) -> None:
        """Commit the history (this is also the warm-up), keep a copy
        of its committed state, then release the increment."""
        from llogtail_spark.pipeline import run_pipeline

        shutil.rmtree(self.workdir, ignore_errors=True)
        shutil.rmtree(self.pristine, ignore_errors=True)
        run_pipeline(self.spark, self.conf)
        os.rename(self.workdir, self.pristine)
        seq = os.path.join(self.data, "sequences")
        for f in sorted(os.listdir(self.held)):
            shutil.move(os.path.join(self.held, f), seq)
        os.rmdir(self.held)

    def timed_files(self) -> list[str]:
        return self.input_files()[INC_HISTORY_PARTS:]

    def reset(self) -> None:
        """Restore the committed history exactly. Hard links are safe:
        the pipeline replaces files (rename) and never rewrites one."""
        shutil.rmtree(self.workdir, ignore_errors=True)
        shutil.copytree(self.pristine, self.workdir, copy_function=os.link)


class Corpus:
    """Training-data build: the six-stage corpus pipeline, cold."""

    name = "corpus"
    iteration_s = 7.0
    warmup_iterations = 1

    def __init__(self, spark, work: str, seed: int, cores: int) -> None:
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.docs = os.path.join(work, "docs")
        self.workdir = os.path.join(work, "wd")
        self.conf = self._conf(self.docs, self.workdir)
        self.rows = CORPUS_DOCS
        self.funnel: dict[str, int] = {}
        self.packed: list[tuple] = []

    @staticmethod
    def _conf(docs: str, workdir: str):
        from llogtail_spark.corpus_pipeline import CorpusConf

        # hash_mode "portable" is the mode the DuckDB oracle replicates
        return CorpusConf(input_path=docs, workdir=workdir,
                          out_path=os.path.join(workdir, "out"),
                          benchmark_mod=reference.BENCHMARK_MOD,
                          hash_mode="portable", committed_at="perfbench")

    def generate(self) -> None:
        reference.synth_corpus(self.spark, CORPUS_DOCS, self.seed) \
            .repartition(CORPUS_FILES, "doc_id") \
            .write.mode("overwrite").parquet(self.docs)

    def prepare(self) -> None:
        """Warm-up: one full run into a scratch workdir."""
        from llogtail_spark.corpus_pipeline import run_corpus_pipeline

        d = os.path.join(self.work, "warmup")
        run_corpus_pipeline(self.spark, self._conf(self.docs, d))
        shutil.rmtree(d)

    def reference(self) -> None:
        self.funnel, self.packed = reference.corpus_oracle(
            self.docs, os.path.join(self.work, "duckdb"), self.cores)

    def reset(self) -> None:
        shutil.rmtree(self.workdir, ignore_errors=True)

    def run(self):
        from llogtail_spark.corpus_pipeline import run_corpus_pipeline

        return run_corpus_pipeline(self.spark, self.conf)

    noop = run

    def check(self, res, noop) -> list[str]:
        from llogtail_spark.corpus_pipeline import CORPUS_STAGES, read_packed

        errs = []
        if res.stages_run != list(CORPUS_STAGES):
            errs.append(f"stages run: {res.stages_run}")
        if noop.stages_run or noop.shards_committed:
            errs.append(f"rerun recomputed {noop.stages_run} and shipped "
                        f"{noop.shards_committed}")
        if res.funnel != self.funnel:
            errs.append(f"funnel {res.funnel} != oracle {self.funnel}")
        got = sorted(
            tuple(int(v) for v in r) for r in
            read_packed(self.spark, self.conf)
            .select(*reference.PACKED_COLS).collect())
        if got != self.packed:
            errs.append(f"packed output: {len(got)} rows differ from the "
                        f"oracle's {len(self.packed)}")
        return errs


WORKLOADS = {"bulk": Bulk, "increment": Increment, "corpus": Corpus}


def make(name: str, spark, work: str, seed: int, cores: int):
    if name == "corpus":
        return Corpus(spark, work, seed, cores)
    return WORKLOADS[name](spark, work, seed)
