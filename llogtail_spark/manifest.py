"""Per-partition lineage manifest — the kCheckpoint analog.

Reference semantics being preserved:
- one checkpoint file per source at workdir/offset/<md5(path)[:4]>.cpt
  (log_collector.go:16-17, collector.go:181-187)  ->  one JSON file
  per (sink, partition) at workdir/manifest/<sink>__<part>.json
- checkpoint carries identity + offset (kCheckpoint,
  log_collector.go:35-40)  ->  manifest row carries
  (partition, row_count, checksum, watermark_offset)
- atomic truncate-rewrite via temp file (utils.go:233-250)  ->
  write-temp-then-os.rename (atomic on POSIX)
- push-then-checkpoint ordering (log_collector.go:208-215)  ->
  manifest committed strictly AFTER the sink write succeeds; a crash
  between them re-processes the partition, and the idempotent
  dynamic-partition overwrite makes the retry exact (effectively-once)
- validateCpt: (dev, inode) match and offset <= size
  (utils.go:128-133)  ->  validate(): recorded (row_count, checksum)
  must match the recomputed input-partition identity; mismatch means
  the input changed under us -> reprocess from scratch.

At cluster scale the manifest is metadata-sized (one tiny JSON per
input file per sink), read once on the driver at job start — the
skip-committed decision is a driver-side set difference feeding a
pruned file list into the scan, so committed data is never even read.
"""

from __future__ import annotations

import dataclasses
import json
import os
import tempfile
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class ManifestEntry:
    sink: str
    part: str  # input partition id (file basename) — FileMeta analog
    row_count: int  # rows shipped to this sink from this partition
    tok_total: int
    checksum: int  # order-insensitive BIT_XOR(xxhash64(doc_id, tokens)) of shipped rows
    watermark_offset: int  # input rows consumed (all-or-nothing per partition)
    committed_at: str  # injected by caller, never wall-clock in tests
    # identity of the INPUT partition at commit time — what validate()
    # compares, exactly as validateCpt checks file identity rather
    # than shipped bytes (utils.go:128-133)
    in_row_count: int = 0
    in_checksum: int = 0


def _entry_path(manifest_dir: str, sink: str, part: str) -> str:
    # '=' cannot appear in a SAFE_NAME-validated sink or part, so the
    # filename is an unambiguous encoding of the (sink, part) pair —
    # '__' was ambiguous (sink 'a__b' + part 'c' vs 'a' + 'b__c'
    # collided on one file, livelocking both as perpetually
    # uncommitted)
    return os.path.join(manifest_dir, f"{sink}={part}.json")


def write_json_atomic(path: str, obj) -> None:
    """Write `obj` as JSON to `path` atomically (temp + rename); the
    temp file never outlives a failed write. Shared by the log
    manifest and the corpus stage manifests."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        # temp+rename gives process-crash atomicity; no fsync — the
        # reference's makeCheckpoint is a plain truncate-write with
        # neither rename nor sync (utils.go:233-250), so this is
        # already the stronger discipline, and 192 fsyncs/run were
        # measurable serial driver time.
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def commit(manifest_dir: str, entry: ManifestEntry) -> str:
    """Atomically persist one manifest entry (temp + rename)."""
    final = _entry_path(manifest_dir, entry.sink, entry.part)
    write_json_atomic(final, asdict(entry))
    return final


_FIELDS = {f.name for f in dataclasses.fields(ManifestEntry)}
_REQUIRED = {
    f.name
    for f in dataclasses.fields(ManifestEntry)
    if f.default is dataclasses.MISSING
}


def read_all(manifest_dir: str) -> list[ManifestEntry]:
    if not os.path.isdir(manifest_dir):
        return []
    out = []
    for name in sorted(os.listdir(manifest_dir)):
        if not name.endswith(".json"):
            continue
        path = os.path.join(manifest_dir, name)
        # OSError (EACCES, transient I/O) propagates: a read failure is
        # NOT evidence the entry is bad, and deleting a valid committed
        # record silently forces reprocessing. The one exception is
        # ENOENT — the entry was invalidated by a concurrent run
        # between listdir and open, i.e. it legitimately doesn't exist.
        try:
            f = open(path)
        except FileNotFoundError:
            continue
        with f:
            try:
                d = json.load(f)
            except json.JSONDecodeError:
                # truncated/corrupt bytes (power loss persisted the
                # rename but not the data, since commit doesn't fsync):
                # drop it — the partition counts as uncommitted and is
                # reprocessed; the idempotent overwrite makes that safe
                # (ENOENT: a concurrent run already dropped it)
                try:
                    os.unlink(path)
                except FileNotFoundError:
                    pass
                continue
        if not isinstance(d, dict) or not _REQUIRED <= d.keys():
            # schema mismatch is an operator error, not corruption —
            # surface it instead of destroying the entry
            raise ValueError(
                f"manifest entry {path} has unrecognized schema: "
                f"{sorted(d) if isinstance(d, dict) else type(d).__name__}"
            )
        # unknown extra keys are ignored (forward compatibility)
        e = ManifestEntry(**{k: v for k, v in d.items() if k in _FIELDS})
        # migrate legacy-named files (pre-separator-rename 'sink__part
        # .json') to the canonical 'sink=part.json': read_all accepts
        # any *.json, so a legacy entry counted as committed, but
        # invalidate() only computes the canonical path — the stale
        # entry could never be deleted and validate_manifest flagged
        # it every run while the changed input was never reprocessed
        # (ADVICE r02). The JSON content is authoritative for
        # (sink, part); the rename is atomic.
        canonical = _entry_path(manifest_dir, e.sink, e.part)
        if path != canonical:
            # a concurrent run may migrate/delete the legacy file
            # between our open() and here — ENOENT means the other run
            # already did the work, the same tolerated race as the
            # open() above (must not kill this run's pipeline)
            if os.path.exists(canonical):
                # a canonical twin already exists (written by a newer
                # run) — it wins; the legacy file is dead weight
                try:
                    os.unlink(path)
                except FileNotFoundError:
                    pass
                continue
            try:
                os.replace(path, canonical)
            except FileNotFoundError:
                continue
        out.append(e)
    return out


def committed_parts(manifest_dir: str, sink: str) -> set[str]:
    return {e.part for e in read_all(manifest_dir) if e.sink == sink}


def validate(entry: ManifestEntry, in_row_count: int, in_checksum: int) -> bool:
    """True iff the recorded INPUT-partition identity still matches the
    live input partition (validateCpt truth table analog)."""
    return entry.in_row_count == in_row_count and entry.in_checksum == in_checksum


def invalidate(manifest_dir: str, sink: str, part: str) -> None:
    """Drop a stale entry so the partition re-enters the plan."""
    p = _entry_path(manifest_dir, sink, part)
    if os.path.exists(p):
        os.unlink(p)
