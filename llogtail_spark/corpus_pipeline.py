"""End-to-end resumable training-corpus pipeline: dedup ->
decontaminate -> quality -> sample -> pack -> ship, with a per-stage
lineage manifest and crash/resume equality (VERDICT r04 #1).

The 148-query surface implements each training-data operator as an
independent query; this module COMPOSES them into the one pipeline a
pretraining-data team actually runs, with the same consistency
contract as the log pipeline (`pipeline.py`):

- every stage materializes its output, then commits a stage manifest
  (push-then-checkpoint, log_collector.go:208-215) recording input
  identity, output (rows, token total, xor checksum), and a params
  fingerprint;
- a killed run resumes by SKIPPING every stage whose manifest still
  validates against its upstream chain (input unchanged, same params)
  and recomputing from the first broken link — the batch analog of
  llogtail's offset-checkpoint recovery (utils.go:128-133);
- each stage write is reconciled observe()-vs-readback before its
  manifest commits, so a partial/corrupted stage file refuses to
  become lineage (the pipeline.py job-2/job-3 discipline);
- the final ship emits per-shard manifest rows (sink="packed"), and
  shipped shards are skipped on re-run (effectively-once).

Stage semantics are EXACTLY the oracle-green operators they compose
(same functions, same constants), so the whole pipeline is
value-verified three ways:
  1. the lazy composition `corpus_stages()` has a DuckDB oracle
     (`__spark_entry__._corpus_pipeline_oracle`) covering the full
     chain;
  2. `run_corpus_pipeline`'s materialized output is pinned equal to
     the lazy composition (tests/test_corpus_pipeline.py);
  3. crash/resume tests pin kill-at-every-boundary equality.

Scale shape (10^12 docs): every stage is one of the already-certified
shapes — hash-window exact dedup, banded LSH with capped buckets,
broadcast benchmark grams, scan-stage quality expressions, dim-sized
quota arithmetic, one nshards-way packing shuffle. Materialization
boundaries are the standard trillion-token-pipeline checkpoint design:
on a cluster each stage dir is an Iceberg table and the dir rename
becomes a snapshot commit (see pipeline.py's iceberg ship path); the
stage manifest then reads identity from the table snapshot id instead
of parquet footers. Stage outputs carry only the SURVIVING corpus, so
each subsequent stage scans strictly less data — the funnel is also
the cost curve.

Two-cluster-size scaling conf (measured, round 5): the stage chain is
shuffle-fed end-to-end, so AQE's parallelism-first coalescing (which
targets total/defaultParallelism partitions) leaves ZERO task slack at
the larger cluster — every stage ran exactly `cores` tasks and one
straggler idled the rest (2->8 cores gave 2.3x, not 4x). Set
  spark.sql.adaptive.coalescePartitions.parallelismFirst=false
  spark.sql.adaptive.advisoryPartitionSizeInBytes=16m..64m
so partition counts follow DATA SIZE, not cluster size (the benches
set exactly this; see bench/corpus_scaling.py). Stage outputs write
32 MB row groups for the same reason (stage_block_bytes).
"""

from __future__ import annotations

import json
import os
import shutil
import zlib
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from llogtail_spark import manifest as mf
from llogtail_spark.pipeline import SHIP_WORKERS
from llogtail_spark.sources import reader

# default mixture targets (basis points, sum 10000) over the `lang`
# group — the documents fixture's language dims
DEFAULT_TARGETS_BP = {
    "en": 4000, "zh": 2000, "es": 2000, "de": 1000, "fr": 1000,
}

CORPUS_STAGES = (
    "exact_dedup", "near_dedup", "decontaminate", "quality", "sample", "pack",
)

Failpoint = Callable[[str, str], None]  # (stage, phase)


@dataclass
class CorpusConf:
    """Configuration for the corpus pipeline. Defaults reproduce the
    oracle-green individual queries' constants."""

    input_path: str
    workdir: str
    out_path: str
    # benchmark for decontamination: an external parquet of eval docs,
    # or (benchmark_path=None) the deterministic doc_id % benchmark_mod
    # == 0 split of the input — the decontaminate_docs convention
    benchmark_path: str | None = None
    benchmark_mod: int = 50
    id_col: str = "doc_id"
    text_col: str = "text"
    group_col: str = "lang"
    # near-dup (minhash_lsh_pairs). hash_mode: "xxhash64" is the
    # engine-native production path (JVM hashes, no Arrow transfer);
    # "portable" replicates in any ANSI engine — the oracle-paired
    # query entry uses it so DuckDB can verify the pair set
    hash_mode: str = "xxhash64"
    num_hashes: int = 16
    bands: int = 8
    cap_reps: int = 8
    shingle_n: int = 3
    # decontaminate (contamination_hits)
    contam_n: int = 5
    contam_min_hits: int = 1
    # quality gate (quality_filter_docs thresholds)
    min_toks: int = 25
    max_dup_bp: int = 6000
    max_pii: int = 0
    # sample (mixture_resample); None skips the stage (identity)
    targets_bp: dict[str, int] | None = field(
        default_factory=lambda: dict(DEFAULT_TARGETS_BP))
    seed_i: int = 4
    # pack (seq_packing); 128 is the test-scale SEQ_LEN — a real run
    # sets the model context length (e.g. 2048/4096/8192)
    seq_len: int = 128
    nshards: int = 8
    committed_at: str = ""
    validate_on_start: bool = True
    # parquet row-group size for STAGE outputs: stage files are read
    # back by the next stage, and splits cannot cross row groups, so
    # one-row-group files cap the next stage's scan parallelism at
    # the file count. 32 MB keeps slack (~4 splits/file) at bench
    # scale and is a sane row-group size at cluster scale too.
    stage_block_bytes: int = 32 * 1024 * 1024

    def params_crc(self, stage: str) -> int:
        """Stage-scoped params fingerprint: changing a knob invalidates
        exactly the stages whose semantics it feeds (and, through the
        identity chain, everything downstream)."""
        scoped: dict = {}
        if stage == "exact_dedup":
            scoped = {}
        elif stage == "near_dedup":
            scoped = {"num_hashes": self.num_hashes, "bands": self.bands,
                      "cap_reps": self.cap_reps,
                      "shingle_n": self.shingle_n,
                      "hash_mode": self.hash_mode}
        elif stage == "decontaminate":
            scoped = {"n": self.contam_n, "min_hits": self.contam_min_hits,
                      "benchmark_path": self.benchmark_path,
                      "benchmark_mod": self.benchmark_mod}
        elif stage == "quality":
            scoped = {"min_toks": self.min_toks,
                      "max_dup_bp": self.max_dup_bp,
                      "max_pii": self.max_pii}
        elif stage == "sample":
            scoped = {"targets_bp": self.targets_bp, "seed_i": self.seed_i,
                      "group_col": self.group_col}
        elif stage == "pack":
            scoped = {"seq_len": self.seq_len, "nshards": self.nshards}
        blob = json.dumps(
            {"stage": stage, "id": self.id_col, "text": self.text_col,
             **{k: scoped[k] for k in sorted(scoped)}},
            sort_keys=True).encode()
        return zlib.crc32(blob)

    @property
    def stages_dir(self) -> str:
        return os.path.join(self.workdir, "corpus_stages")

    @property
    def manifest_dir(self) -> str:
        """Ship (per-shard) manifest entries — mf.ManifestEntry files."""
        return os.path.join(self.workdir, "corpus_manifest")

    @property
    def stage_manifest_dir(self) -> str:
        """Stage manifests live in their OWN dir: mf.read_all parses
        every *.json under manifest_dir, and a stage manifest is not a
        ManifestEntry."""
        return os.path.join(self.workdir, "stage_manifest")


# ---------------------------------------------------------------- stages
# Pure DataFrame transforms — the SAME functions behind the
# oracle-green individual queries, so the composition inherits their
# verified semantics and their certified plan shapes.

def stage_exact_dedup(df: DataFrame, conf: CorpusConf) -> DataFrame:
    from llogtail_spark.operators.dedup import exact_dedup

    return exact_dedup(df, key=conf.text_col, id_col=conf.id_col)


# a dropped set below this many rows ships as a BROADCAST anti-join
# (a few hundred MB of ids at the cap — the guide's broadcast comfort
# zone); above it, or when the distributed resolve path leaves the
# count unknown, the corpus-shuffling semi-join stands
NEAR_DEDUP_ANTI_BROADCAST_MAX = 30_000_000


def stage_near_dedup(df: DataFrame, conf: CorpusConf) -> DataFrame:
    from llogtail_spark.operators.dedup import (
        minhash_lsh_pairs,
        resolve_components,
    )

    pairs = minhash_lsh_pairs(
        df, text_col=conf.text_col, id_col=conf.id_col,
        num_hashes=conf.num_hashes, bands=conf.bands,
        shingle_n=conf.shingle_n, hash_mode=conf.hash_mode,
        cap_reps=conf.cap_reps,
    )
    stats: dict = {}
    labels = resolve_components(pairs, df.select(conf.id_col),
                                id_col=conf.id_col, stats_out=stats)
    n_dropped = stats.get("n_dropped")
    if n_dropped is not None and n_dropped <= NEAR_DEDUP_ANTI_BROADCAST_MAX:
        # round 6 (guide §3.1/§2.3): the semi-join against the KEPT
        # set shuffles the surviving corpus — document text included —
        # while the complement (the DROPPED set, which the driver
        # resolve just computed and handed back for free) is
        # dup-mass-sized. Anti-join against a broadcast of the dropped
        # ids moves ZERO corpus bytes. Equal to the semi-join for all
        # non-null ids (labels covers every node, keep = NOT dropped);
        # the explicit isNotNull matches the semi-join's null-key drop
        # semantics.
        return df.join(F.broadcast(stats["dropped"]), conf.id_col,
                       "left_anti") \
            .where(F.col(conf.id_col).isNotNull())
    keep = labels.filter(F.col("keep") == 1).select(conf.id_col)
    return df.join(keep, conf.id_col, "semi")


def stage_decontaminate(df: DataFrame, benchmark: DataFrame,
                        conf: CorpusConf) -> DataFrame:
    from llogtail_spark.operators.dedup import contamination_hits

    hits = contamination_hits(
        df, benchmark, text_col=conf.text_col, id_col=conf.id_col,
        n=conf.contam_n, min_hits=conf.contam_min_hits,
    )
    return df.join(hits.select(conf.id_col), conf.id_col, "left_anti")


def stage_quality(df: DataFrame, conf: CorpusConf) -> DataFrame:
    from llogtail_spark.functions.text import (
        EMAIL_RX,
        IPV4_RX,
        PHONE_RX,
        dup_fraction_x10000,
        pii_count,
    )
    from llogtail_spark.operators.dedup import WS_CLASS

    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(conf.text_col), F.lit(""))),
                WS_CLASS),
        lambda x: x != "",
    )
    txt = F.coalesce(F.col(conf.text_col), F.lit(""))
    pii = (pii_count(txt, EMAIL_RX) + pii_count(txt, IPV4_RX)
           + pii_count(txt, PHONE_RX))
    return df.filter(
        (F.size(toks) >= conf.min_toks)
        & (dup_fraction_x10000(toks) <= conf.max_dup_bp)
        & (pii <= conf.max_pii)
    )


def stage_sample(df: DataFrame, conf: CorpusConf) -> DataFrame:
    if not conf.targets_bp:
        return df
    from llogtail_spark.operators.sampling import mixture_resample

    kept = mixture_resample(df, conf.group_col, conf.id_col,
                            conf.targets_bp, seed_i=conf.seed_i)
    return df.join(kept.select(conf.id_col), conf.id_col, "semi")


def stage_pack(df: DataFrame, conf: CorpusConf) -> DataFrame:
    from llogtail_spark.operators.corpus import seq_packing

    return seq_packing(df, text_col=conf.text_col, id_col=conf.id_col,
                       seq_len=conf.seq_len, nshards=conf.nshards)


def corpus_stages(docs: DataFrame, benchmark: DataFrame,
                  conf: CorpusConf) -> dict[str, DataFrame]:
    """The LAZY composition: every stage's output frame, keyed by
    stage name (the last is the packed placement table). Shared by
    the resumable runner's per-stage transforms and the oracle-paired
    query entry, so materialized == lazy == DuckDB oracle.

    Each doc-stage output is lineage-cut (lazy — ckpt.py knob:
    localCheckpoint, or reliable checkpoint when a checkpoint dir is
    set). Round-6 measurement: the chain prefix otherwise executes
    ~3x per run — resolve_components' gate count materializes the
    minhash subtree, mixture_resample's dim-sized quota collect
    re-derives dedup->decontaminate->quality, and the final action
    re-derives everything again (each stage's output also feeds 2-3
    consumers WITHIN one plan: the near-dup semi-join probe, the
    decontaminate anti-join probe, the benchmark split). The cuts are
    per-invocation (fresh RDD lineage every call — nothing survives
    across runs); values are unchanged."""
    from llogtail_spark.operators.ckpt import checkpoint

    out: dict[str, DataFrame] = {}
    df = out["exact_dedup"] = checkpoint(stage_exact_dedup(docs, conf),
                                         eager=False)
    df = out["near_dedup"] = checkpoint(stage_near_dedup(df, conf),
                                        eager=False)
    df = out["decontaminate"] = checkpoint(
        stage_decontaminate(df, benchmark, conf), eager=False)
    df = out["quality"] = checkpoint(stage_quality(df, conf), eager=False)
    df = out["sample"] = checkpoint(stage_sample(df, conf), eager=False)
    out["pack"] = stage_pack(df, conf)
    return out


def corpus_funnel_counts(docs: DataFrame, benchmark: DataFrame,
                         conf: CorpusConf) -> list[tuple[int, str, int]]:
    """(stage_idx, stage, surviving_rows) for every stage, computing
    each stage ONCE: the naive per-stage .count() over the lazy
    composition re-derives the whole prefix chain per stage (6x the
    near-dedup work — measured 104 s vs 38 s for the pack query at
    sf0.001), so each stage output is lineage-cut (ckpt.py knob:
    localCheckpoint, or reliable checkpoint when a checkpoint dir is
    set) and the count runs on the materialized table. EAGER by
    construction, like bfs_levels. (Round 6 probed and REJECTED
    riding the counts on ``observe()`` metrics with lazy cuts:
    CollectMetrics accumulators do not propagate through an RDD
    lineage cut materialized by a downstream action — every
    observation read back 0.)"""
    from llogtail_spark.operators.ckpt import checkpoint

    rows: list[tuple[int, str, int]] = []
    df = docs
    for i, stage in enumerate(CORPUS_STAGES):
        if stage == "exact_dedup":
            df = stage_exact_dedup(df, conf)
        elif stage == "near_dedup":
            df = stage_near_dedup(df, conf)
        elif stage == "decontaminate":
            df = stage_decontaminate(df, benchmark, conf)
        elif stage == "quality":
            df = stage_quality(df, conf)
        elif stage == "sample":
            df = stage_sample(df, conf)
        else:
            df = stage_pack(df, conf)
        df = checkpoint(df, eager=True)
        rows.append((i, stage, df.count()))
    return rows


# ------------------------------------------------------- stage manifests

_STAGE_MF_SUFFIX = ".stage.json"


@dataclass
class StageManifest:
    stage: str
    in_rows: int
    in_checksum: int
    out_rows: int
    tok_total: int
    out_checksum: int
    params_crc: int
    committed_at: str = ""
    # the stage output's Spark schema (StructType.json()): lets a
    # resume read a SKIPPED stage's dir without inference — which
    # raises on a legitimately empty output (zero data files)
    schema_json: str = ""


def _stage_mf_path(manifest_dir: str, stage: str) -> str:
    return os.path.join(manifest_dir, f"{stage}{_STAGE_MF_SUFFIX}")


def commit_stage(manifest_dir: str, m: StageManifest) -> str:
    """Atomic stage-manifest commit (mf.write_json_atomic, the writer
    mf.commit uses — checkpoint.go:34-58's atomic write analog)."""
    path = _stage_mf_path(manifest_dir, m.stage)
    mf.write_json_atomic(path, m.__dict__)
    return path


def read_stage(manifest_dir: str, stage: str) -> StageManifest | None:
    path = _stage_mf_path(manifest_dir, stage)
    try:
        with open(path) as f:
            return StageManifest(**json.load(f))
    except (OSError, json.JSONDecodeError, TypeError):
        return None


# -------------------------------------------------------------- runner


@dataclass
class CorpusRunResult:
    stages_run: list[str]
    stages_skipped: list[str]
    shards_committed: list[str]
    shards_skipped: list[str]
    funnel: dict[str, int]  # stage -> surviving rows
    metrics: DataFrame | None  # per-shard rollup from the manifest
    stage_timings: dict[str, float]  # wall sec per recomputed stage


def _input_identity(path: str) -> tuple[int, int]:
    """(rows, checksum) of the raw corpus input from parquet FOOTER
    metadata only (reader.file_identity — no data scan; an Iceberg
    deployment reads the snapshot id instead)."""
    import glob

    lp = reader.local_path(path)
    if lp is None:
        raise NotImplementedError(
            f"corpus input must be a local path here (got {path!r}); on "
            "a cluster, identity comes from the Iceberg snapshot id")
    files = sorted(glob.glob(os.path.join(lp, "*.parquet"))) \
        if os.path.isdir(lp) else [lp]
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    rows, crc = 0, 0
    for fp in files:
        r, c = reader.file_identity(fp)
        rows += r
        crc ^= c ^ zlib.crc32(os.path.basename(fp).encode())
    return rows, crc


def _read_benchmark(spark: SparkSession, docs: DataFrame,
                    conf: CorpusConf) -> tuple[DataFrame, DataFrame, int]:
    """(corpus, benchmark, benchmark_identity_crc). With no external
    benchmark, the deterministic doc_id % mod == 0 split plays the
    eval set (decontaminate_docs convention) and is EXCLUDED from the
    corpus."""
    if conf.benchmark_path is not None:
        bench = spark.read.parquet(conf.benchmark_path)
        _, crc = _input_identity(conf.benchmark_path)
        return docs, bench, crc
    mod = F.col(conf.id_col) % conf.benchmark_mod
    return (docs.filter(mod != 0), docs.filter(mod == 0),
            zlib.crc32(str(conf.benchmark_mod).encode()))


def run_corpus_pipeline(
    spark: SparkSession,
    conf: CorpusConf,
    failpoint: Failpoint | None = None,
) -> CorpusRunResult:
    workdir = reader.local_path(conf.workdir)
    if workdir is None:
        raise NotImplementedError(
            f"workdir must be local (got {conf.workdir!r}); on a cluster "
            "each stage is an Iceberg table commit (pipeline.py ship path)")
    os.makedirs(conf.stages_dir, exist_ok=True)

    in_rows, in_crc = _input_identity(conf.input_path)
    docs0 = spark.read.parquet(conf.input_path)
    corpus, benchmark, bench_crc = _read_benchmark(spark, docs0, conf)

    import time

    stages_run: list[str] = []
    stages_skipped: list[str] = []
    funnel: dict[str, int] = {}
    stage_timings: dict[str, float] = {}

    # identity chain: stage k's input identity is stage k-1's output
    # identity; the head is the raw input's footer identity PLUS the
    # corpus/benchmark split identity (ADVICE r05 #1: with no external
    # benchmark the doc_id % benchmark_mod split defines the corpus
    # BEFORE exact_dedup, so a changed mod — or switching between
    # split and external modes — must invalidate the WHOLE chain, not
    # just decontaminate; an external benchmark's CONTENT still folds
    # only into decontaminate's params, since it doesn't change the
    # corpus side)
    chain_rows, chain_crc = in_rows, in_crc
    chain_crc ^= zlib.crc32(
        b"benchmark:external" if conf.benchmark_path is not None
        else f"benchmark:split:{conf.benchmark_mod}".encode())
    upstream_df = corpus
    for stage in CORPUS_STAGES:
        params = conf.params_crc(stage)
        if stage == "decontaminate":
            params ^= bench_crc
        m = read_stage(conf.stage_manifest_dir, stage)
        data_dir = os.path.join(conf.stages_dir, stage)
        valid = (
            m is not None
            and m.in_rows == chain_rows
            and m.in_checksum == chain_crc
            and m.params_crc == params
            and os.path.isdir(data_dir)
        )
        if conf.validate_on_start and not valid and m is not None:
            # stale manifest: drop it so a crash mid-recompute can't
            # resurrect it (validateCpt analog, utils.go:128-133)
            try:
                os.remove(_stage_mf_path(conf.stage_manifest_dir, stage))
            except OSError:
                pass
        t_stage = time.time()
        if valid:
            stages_skipped.append(stage)
            rd = spark.read
            if m.schema_json:
                from pyspark.sql.types import StructType

                rd = rd.schema(StructType.fromJson(json.loads(m.schema_json)))
            upstream_df = rd.parquet(data_dir)
            funnel[stage] = m.out_rows
            chain_rows, chain_crc = m.out_rows, m.out_checksum
            continue

        # ---- recompute this stage from the materialized upstream
        if stage == "exact_dedup":
            out = stage_exact_dedup(upstream_df, conf)
        elif stage == "near_dedup":
            out = stage_near_dedup(upstream_df, conf)
        elif stage == "decontaminate":
            out = stage_decontaminate(upstream_df, benchmark, conf)
        elif stage == "quality":
            out = stage_quality(upstream_df, conf)
        elif stage == "sample":
            out = stage_sample(upstream_df, conf)
        else:
            out = stage_pack(upstream_df, conf)

        # checksum key: doc identity for doc stages; the full
        # placement (doc, offset, bins) for the pack table — bins must
        # participate or a seq_len change that keeps offsets would
        # leave stale ship entries "valid" and skip re-shipping
        if stage == "pack":
            ck = _pack_ck(conf)
            tok = F.col("n_tok")
        else:
            ck = F.xxhash64(F.col(conf.id_col))
            tok = F.lit(0)
        obs = Observation(f"stage-{stage}")
        observed = out.withColumn("_ck", ck).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(tok), F.lit(0)).alias("tok_total"),
            F.coalesce(F.bit_xor("_ck"), F.lit(0)).alias("checksum"),
        ).drop("_ck")
        tmp_dir = os.path.join(conf.stages_dir, f"_tmp_{stage}")
        shutil.rmtree(tmp_dir, ignore_errors=True)
        writer = observed.write.mode("overwrite") \
            .option("parquet.block.size", str(conf.stage_block_bytes))
        if stage == "pack":
            writer = writer.partitionBy("shard")
        writer.parquet(tmp_dir)
        got = obs.get
        shutil.rmtree(data_dir, ignore_errors=True)
        os.replace(tmp_dir, data_dir)
        if failpoint:
            failpoint(stage, "after_data")  # tests corrupt/kill here

        # observe-vs-readback reconciliation BEFORE the manifest
        # commit (pipeline.py job-3 discipline): checksum what landed
        # in the files, refuse to commit lineage over a partial write.
        # Explicit schema: a legitimately EMPTY stage (e.g. a quality
        # gate that kills everything, or a mixture whose scarcest
        # group vanished) writes no data files, and schema inference
        # would raise instead of reconciling rows=0 against rows=0.
        rb_df = spark.read.schema(observed.schema).parquet(data_dir)
        if stage == "pack":
            rb_df = _cast_pack(rb_df, conf)
        rb = rb_df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(tok), F.lit(0)).alias("tok_total"),
            F.coalesce(F.bit_xor(ck), F.lit(0)).alias("checksum"),
        ).collect()[0]
        if (int(rb["rows"]), int(rb["tok_total"]), int(rb["checksum"])) != (
            int(got["rows"]), int(got["tok_total"]), int(got["checksum"])
        ):
            raise RuntimeError(
                f"corpus stage {stage!r}: readback (rows={rb['rows']}, "
                f"tok={rb['tok_total']}, xor={rb['checksum']}) disagrees "
                f"with the write-stage observation (rows={got['rows']}, "
                f"tok={got['tok_total']}, xor={got['checksum']}) — staged "
                "files are incomplete or corrupted; refusing to commit")
        if failpoint:
            failpoint(stage, "before_commit")
        commit_stage(conf.stage_manifest_dir, StageManifest(
            stage=stage, in_rows=chain_rows, in_checksum=chain_crc,
            out_rows=int(got["rows"]), tok_total=int(got["tok_total"]),
            out_checksum=int(got["checksum"]), params_crc=params,
            committed_at=conf.committed_at,
            schema_json=observed.schema.json(),
        ))
        if failpoint:
            failpoint(stage, "after_commit")
        stages_run.append(stage)
        stage_timings[stage] = round(time.time() - t_stage, 3)
        funnel[stage] = int(got["rows"])
        chain_rows, chain_crc = int(got["rows"]), int(got["checksum"])
        upstream_df = rb_df

    # ---- ship: per-shard COPY out of the pack stage dir + manifest
    # commit (sink="packed"). Copy, not rename: the stage dir stays
    # intact as the resume source of truth, and the pack table is
    # metadata-sized next to the corpus (56 B/doc vs KBs of text). On
    # a cluster this whole loop is ONE Iceberg overwritePartitions
    # commit (pipeline._ship_sink_iceberg).
    pack_dir = os.path.join(conf.stages_dir, "pack")
    pack_m = read_stage(conf.stage_manifest_dir, "pack")
    # a ship entry is valid only against the CURRENT pack output: its
    # in_checksum recorded the pack manifest it shipped from, so a
    # recomputed pack stage (new params, new input) invalidates every
    # stale entry and the shard re-ships (validateCpt discipline,
    # utils.go:128-133)
    done: set[str] = set()
    for e in mf.read_all(conf.manifest_dir):
        if e.sink != "packed":
            continue
        if pack_m is not None and e.in_row_count == pack_m.out_rows \
                and e.in_checksum == pack_m.out_checksum:
            done.add(e.part)
        else:
            mf.invalidate(conf.manifest_dir, e.sink, e.part)
    shard_dirs = sorted(
        e.name for e in os.scandir(pack_dir) if e.name.startswith("shard="))
    # ADVICE r05 #2: a shard present in out_path but absent from the
    # CURRENT pack output (nshards reduced, shard emptied on
    # recompute) is a stale product — read_packed would return its
    # phantom rows. Remove it and its manifest entry.
    cur_shards = set(shard_dirs)
    if os.path.isdir(conf.out_path):
        for e in os.scandir(conf.out_path):
            if e.name.startswith("shard=") and e.name not in cur_shards:
                shutil.rmtree(os.path.join(conf.out_path, e.name),
                              ignore_errors=True)
                mf.invalidate(conf.manifest_dir, "packed",
                              e.name.split("=", 1)[1])
    committed: list[str] = []
    skipped: list[str] = []
    # per-shard stats in ONE column-pruned readback pass (an empty
    # pack output has no shard dirs and nothing to ship or read)
    shard_stats = {} if not shard_dirs else {
        str(r["shard"]): r
        for r in spark.read.parquet(pack_dir)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).alias("tok_total"),
            F.coalesce(F.bit_xor(_pack_ck(conf)), F.lit(0)).alias("checksum"),
        )
        .collect()
    }
    # copy phase: pending shards ship concurrently from a
    # pipeline.SHIP_WORKERS-wide pool (VERDICT r05 #2; copies of
    # distinct shard dirs are independent, and a crash mid-copy
    # commits nothing, so the re-run re-copies idempotently). Commits
    # follow in the serial loop below, preserving push-then-checkpoint
    # and the per-shard failpoint semantics.
    pending = [sd for sd in shard_dirs if sd.split("=", 1)[1] not in done]

    def _copy_shard(sd: str) -> None:
        src = os.path.join(pack_dir, sd)
        dst = os.path.join(conf.out_path, sd)
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)

    if pending:
        os.makedirs(conf.out_path, exist_ok=True)
        with ThreadPoolExecutor(SHIP_WORKERS) as ex:
            list(ex.map(_copy_shard, pending))
    for sd in shard_dirs:
        part = sd.split("=", 1)[1]
        if part in done:
            skipped.append(part)
            continue
        if failpoint:
            failpoint(f"ship:{part}", "before_commit")
        s = shard_stats.get(part)
        mf.commit(conf.manifest_dir, mf.ManifestEntry(
            sink="packed", part=part,
            row_count=int(s["row_count"]) if s else 0,
            tok_total=int(s["tok_total"]) if s else 0,
            checksum=int(s["checksum"]) if s else 0,
            watermark_offset=pack_m.out_rows if pack_m else 0,
            committed_at=conf.committed_at,
            in_row_count=pack_m.out_rows if pack_m else 0,
            in_checksum=pack_m.out_checksum if pack_m else 0,
        ))
        committed.append(part)

    metrics = _metrics(spark, conf)
    return CorpusRunResult(
        stages_run=stages_run, stages_skipped=stages_skipped,
        shards_committed=committed, shards_skipped=skipped,
        funnel=funnel, metrics=metrics, stage_timings=stage_timings,
    )


def _metrics(spark: SparkSession, conf: CorpusConf) -> DataFrame:
    """Per-shard rollups straight from the lineage manifest — zero
    data scans (the pipeline._metrics_from_manifest discipline)."""
    rows = [
        (e.part, e.row_count, e.tok_total, e.checksum)
        for e in mf.read_all(conf.manifest_dir)
        if e.sink == "packed"
    ]
    return spark.createDataFrame(
        sorted(rows),
        "shard string, row_count long, tok_total long, checksum long")


def _pack_ck(conf: CorpusConf):
    """Content checksum column of one packed row: the whole placement."""
    return F.xxhash64(F.col(conf.id_col), F.col("tok_start"),
                      F.col("bin_first"), F.col("bin_last"))


def _cast_pack(df: DataFrame, conf: CorpusConf) -> DataFrame:
    """Partition-type inference is off session-wide (session.py), so
    a partitioned pack dir reads `shard` back as string and moves it
    last; restore seq_packing's exact schema and column order."""
    return df.select(
        F.col("shard").cast("int").alias("shard"),
        conf.id_col, "n_tok", "tok_start", "bin_first", "bin_last",
        "crosses")


def read_packed(spark: SparkSession, conf: CorpusConf) -> DataFrame:
    """The shipped product: every packed shard under out_path, in
    seq_packing's schema."""
    return _cast_pack(
        spark.read.option("basePath", conf.out_path).parquet(conf.out_path),
        conf)
