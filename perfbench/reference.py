"""Inputs and expected outputs for the benchmark workloads.

The log workloads get their input from ``llogtail_spark.generate`` and
their expected per-sink totals from a Spark-free recompute over the
same parquet files. The corpus workload gets a seeded, JVM-side
document table (the ``synth_corpus`` shape of ``bench/corpus_bench.py``
with the ``doc_id % 50`` benchmark split the DuckDB oracle uses) and
its expected funnel and packed output from the oracle in
``__spark_entry__``.
"""

from __future__ import annotations

import glob
import os
import re

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The three overlapping log sinks: token 0 is the level, so membership
# follows from it without parsing.
SINKS = (
    ("errors", "level_num >= 40", lambda lv: lv >= 40),
    ("warnings", "level_num >= 30 AND level_num < 40",
     lambda lv: (lv >= 30) & (lv < 40)),
    ("firehose", "true", lambda lv: np.ones(len(lv), dtype=bool)),
)


def log_reference(files: list[str]) -> dict[str, dict[str, int]]:
    """{sink: {row_count, tok_total, byte_total}} over `files`, read
    with pyarrow only."""
    from llogtail_spark.generate import LEVEL_NUMS
    from llogtail_spark.operators.aggregate import BYTES_PER_TOKEN

    level_num = np.asarray(LEVEL_NUMS, dtype=np.int64)
    out = {name: {"row_count": 0, "tok_total": 0} for name, _, _ in SINKS}
    for f in files:
        t = pq.read_table(f, columns=["tokens", "n_tok"])
        lv = level_num[pc.list_element(t["tokens"], 0).to_numpy()]
        n_tok = t["n_tok"].to_numpy().astype(np.int64)
        for name, _, member in SINKS:
            m = member(lv)
            out[name]["row_count"] += int(m.sum())
            out[name]["tok_total"] += int(n_tok[m].sum())
    for v in out.values():
        v["byte_total"] = v["tok_total"] * BYTES_PER_TOKEN
    return out


# ------------------------------------------------------------- corpus

BENCHMARK_MOD = 50  # the eval split the DuckDB oracle hard-codes
_VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec",
]
_LANGS = ["en", "zh", "es", "de", "fr"]


def corpus_base_id(seed: int) -> int:
    """First doc_id minus one: the seed shifts the id range, which
    changes every document's text, language and hashes while keeping
    the planted classes (they are id residues) in the same mix."""
    return seed * 10_000_000


def synth_corpus(spark, n: int, seed: int):
    """Deterministic documents (doc_id, text, lang, source, n_chars)
    built from JVM expressions only. Planted classes by doc_id:
    % 50 benchmark doc, % 13 exact duplicate of the previous doc,
    % 17 near duplicate (last word changed), % 11 too short,
    % 19 repetitive, % 23 PII, % 29 contaminated with a benchmark
    doc's leading text."""
    from pyspark.sql import functions as F

    base = corpus_base_id(seed)
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    langs = F.array(*[F.lit(x) for x in _LANGS])

    def base_text(idc):
        # every 3rd token is doc-unique, so only planted docs share
        # shingles
        return F.concat_ws(" ", F.transform(
            F.sequence(F.lit(1), F.lit(30) + (idc % 5).cast("int")),
            lambda j: F.when(
                j % 3 == F.lit(2),
                F.concat(F.lit("w"), idc.cast("string"), F.lit("p"),
                         j.cast("string")),
            ).otherwise(F.element_at(
                vocab, (F.pmod(idc * 7 + j * j, F.lit(17)) + 1).cast("int"))),
        ))

    idc = F.col("id")
    own = base_text(idc)
    prev = base_text(idc - 1)
    donor = F.greatest(idc - F.pmod(idc, F.lit(BENCHMARK_MOD)),
                       F.lit(base + BENCHMARK_MOD))
    text = (
        F.when(F.pmod(idc, F.lit(BENCHMARK_MOD)) == 0, own)
        .when(idc % 13 == 0, prev)
        .when(idc % 17 == 0, F.concat(
            F.regexp_replace(prev, r"\s\S+$", ""), F.lit(" zulu")))
        .when(idc % 11 == 0, F.concat(
            F.lit("tiny doc number "), idc.cast("string"), F.lit(" five")))
        .when(idc % 19 == 0, F.concat(
            F.concat_ws(" ", F.array_repeat(F.lit("spam"), 40)),
            F.lit(" s"), idc.cast("string")))
        .when(idc % 23 == 0, F.concat(
            own, F.lit(" contact someone@example.com")))
        .when(idc % 29 == 0, F.concat(
            F.substring(base_text(donor), 1, 90), F.lit(" "), own))
        .otherwise(own)
    )
    return spark.range(base + 1, base + n + 1).select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        F.element_at(langs, (F.pmod(idc, F.lit(5)) + 1).cast("int"))
        .alias("lang"),
        F.lit("web").alias("source"),
        F.length(text).alias("n_chars"),
    )


PACKED_COLS = ["shard", "doc_id", "n_tok", "tok_start", "bin_first",
               "bin_last", "crosses"]

# The oracle's top-level CTEs. DuckDB inlines a CTE at every
# reference, and the corpus chain references each stage two or three
# times, so evaluated as written its cost grows with the chain depth
# (it exhausts memory at a few hundred documents). Materializing each
# stage once gives the same rows.
_ORACLE_STAGES = ("corpus0", "exact", "labels", "neardup", "bench_grams",
                  "contam", "clean", "qual", "samp_keys", "samp", "packed")


def _materialized(sql: str) -> str:
    pattern = r"\n(\s+)(%s) AS \(" % "|".join(_ORACLE_STAGES)
    out, n = re.subn(pattern, r"\n\1\2 AS MATERIALIZED (", sql)
    if n != len(_ORACLE_STAGES):
        raise RuntimeError(
            f"oracle SQL changed shape: matched {n} of "
            f"{len(_ORACLE_STAGES)} stage CTEs")
    return out


def corpus_oracle(docs_dir: str, work_dir: str, threads: int
                  ) -> tuple[dict[str, int], list[tuple]]:
    """(funnel {stage: docs}, sorted packed rows) from the DuckDB
    oracle over the parquet files in `docs_dir`."""
    import duckdb

    import __spark_entry__ as entry

    os.makedirs(work_dir, exist_ok=True)
    files = sorted(glob.glob(os.path.join(docs_dir, "*.parquet")))
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={int(threads)}")
        con.execute("SET memory_limit='2GB'")
        con.execute(f"SET temp_directory='{work_dir}'")
        con.execute("SET max_temp_directory_size='2GB'")
        con.execute("CREATE TABLE documents AS SELECT * FROM read_parquet("
                    f"[{', '.join(repr(f) for f in files)}])")
        funnel = {
            stage: int(n) for _, stage, n in con.execute(
                _materialized(entry._corpus_funnel_oracle())).fetchall()
        }
        rows = con.execute(
            f"SELECT {', '.join(PACKED_COLS)} FROM ("
            f"{_materialized(entry._corpus_pipeline_oracle())})").fetchall()
    finally:
        con.close()
    return funnel, sorted(tuple(int(v) for v in r) for r in rows)
