"""Manifest protocol units (no Spark): atomic commit, read-back,
validate truth table, invalidate."""

from llogtail_spark import manifest as mf


def _entry(sink="s", part="p-0", rc=10, cks=123, irc=20, icks=456):
    return mf.ManifestEntry(
        sink=sink, part=part, row_count=rc, tok_total=100, checksum=cks,
        watermark_offset=irc, committed_at="1970-01-01T00:00:00Z",
        in_row_count=irc, in_checksum=icks,
    )


def test_commit_and_read_roundtrip(tmp_path):
    d = str(tmp_path / "m")
    e = _entry()
    mf.commit(d, e)
    assert mf.read_all(d) == [e]


def test_commit_overwrites_atomically(tmp_path):
    d = str(tmp_path / "m")
    mf.commit(d, _entry(rc=1))
    mf.commit(d, _entry(rc=2))
    entries = mf.read_all(d)
    assert len(entries) == 1 and entries[0].row_count == 2
    # no temp droppings left behind
    import os
    assert all(f.endswith(".json") for f in os.listdir(d))


def test_failed_stage_commit_leaves_no_temp_file(tmp_path):
    """The corpus stage-manifest commit shares the manifest's atomic
    writer: a commit that fails mid-write leaves no temp file behind
    and keeps the previous committed stage manifest."""
    import os

    import pytest

    from llogtail_spark.corpus_pipeline import (
        StageManifest, commit_stage, read_stage,
    )

    d = str(tmp_path / "sm")
    good = StageManifest(stage="quality", in_rows=1, in_checksum=2,
                         out_rows=1, tok_total=3, out_checksum=4,
                         params_crc=5)
    path = commit_stage(d, good)
    bad = StageManifest(stage="quality", in_rows=1, in_checksum=2,
                        out_rows=1, tok_total=3, out_checksum=4,
                        params_crc=5, committed_at=object())
    with pytest.raises(TypeError):
        commit_stage(d, bad)  # object() is not JSON-serialisable
    assert os.listdir(d) == [os.path.basename(path)]
    assert read_stage(d, "quality") == good


def test_committed_parts_per_sink(tmp_path):
    d = str(tmp_path / "m")
    mf.commit(d, _entry(sink="a", part="p-0"))
    mf.commit(d, _entry(sink="a", part="p-1"))
    mf.commit(d, _entry(sink="b", part="p-0"))
    assert mf.committed_parts(d, "a") == {"p-0", "p-1"}
    assert mf.committed_parts(d, "b") == {"p-0"}
    assert mf.committed_parts(d, "c") == set()


def test_validate_truth_table():
    e = _entry(irc=20, icks=456)
    assert mf.validate(e, 20, 456)
    assert not mf.validate(e, 21, 456)  # input grew -> reprocess
    assert not mf.validate(e, 20, 999)  # content changed -> reprocess


def test_invalidate_removes_only_target(tmp_path):
    d = str(tmp_path / "m")
    mf.commit(d, _entry(sink="a", part="p-0"))
    mf.commit(d, _entry(sink="a", part="p-1"))
    mf.invalidate(d, "a", "p-0")
    assert mf.committed_parts(d, "a") == {"p-1"}
    mf.invalidate(d, "a", "never-existed")  # no-op, no raise


def test_read_missing_dir_is_empty(tmp_path):
    assert mf.read_all(str(tmp_path / "nope")) == []


def test_read_all_drops_corrupt_entries(tmp_path):
    """A truncated entry (rename persisted, bytes not — commit doesn't
    fsync) must not poison the manifest: it is dropped, so the
    partition counts as uncommitted and gets reprocessed."""
    import os

    from llogtail_spark import manifest as mf

    d = str(tmp_path)
    mf.commit(d, _entry("errors", "p1"))
    corrupt = os.path.join(d, "errors__p2.json")
    with open(corrupt, "w") as f:
        f.write('{"sink": "errors", "part"')  # truncated
    entries = mf.read_all(d)
    assert [e.part for e in entries] == ["p1"]
    assert not os.path.exists(corrupt)
    assert mf.committed_parts(d, "errors") == {"p1"}


def test_read_all_ignores_unknown_extra_fields(tmp_path):
    """Forward compatibility: an entry written by a NEWER version with
    extra fields is still readable — never deleted, never fatal."""
    import json
    import os

    d = str(tmp_path)
    mf.commit(d, _entry("errors", "p1"))
    path = os.path.join(d, "errors=p1.json")
    with open(path) as f:
        data = json.load(f)
    data["future_field"] = "x"
    with open(path, "w") as f:
        json.dump(data, f)
    entries = mf.read_all(d)
    assert len(entries) == 1 and entries[0].part == "p1"
    assert os.path.exists(path)  # not destroyed


def test_read_all_surfaces_schema_mismatch_as_error(tmp_path):
    """Valid JSON that is NOT a manifest entry (missing required
    fields) is an operator error — surfaced, not silently deleted."""
    import json
    import os
    import pytest

    d = str(tmp_path)
    path = os.path.join(d, "errors__p9.json")
    os.makedirs(d, exist_ok=True)
    with open(path, "w") as f:
        json.dump({"sink": "errors"}, f)  # missing everything else
    with pytest.raises(ValueError, match="unrecognized schema"):
        mf.read_all(d)
    assert os.path.exists(path)  # entry preserved for inspection


def test_entry_filenames_unambiguous(tmp_path):
    """sink 'a__b' + part 'c' and sink 'a' + part 'b__c' must be two
    distinct entries (the old '__' separator collided them onto one
    file, each commit orphaning the other)."""
    d = str(tmp_path / "m")
    e1 = mf.ManifestEntry("a__b", "c", 1, 1, 1, 1, "t")
    e2 = mf.ManifestEntry("a", "b__c", 2, 2, 2, 2, "t")
    mf.commit(d, e1)
    mf.commit(d, e2)
    got = {(e.sink, e.part) for e in mf.read_all(d)}
    assert got == {("a__b", "c"), ("a", "b__c")}
    assert mf.committed_parts(d, "a__b") == {"c"}
    assert mf.committed_parts(d, "a") == {"b__c"}


def test_legacy_named_entry_migrates_and_invalidates(tmp_path):
    """ADVICE r02: entries written by pre-separator-rename runs as
    'sink__part.json' parsed as committed but invalidate() could never
    delete them — the stale partition was flagged every run yet never
    reprocessed. read_all must migrate them to the canonical name so
    the normal invalidate path works."""
    import json
    import os

    d = str(tmp_path / "m")
    os.makedirs(d)
    e = _entry(sink="a", part="p-0")
    with open(os.path.join(d, "a__p-0.json"), "w") as f:
        json.dump(
            {k: getattr(e, k) for k in e.__dataclass_fields__}, f
        )
    assert mf.committed_parts(d, "a") == {"p-0"}  # migrated on read
    assert os.path.exists(os.path.join(d, "a=p-0.json"))
    assert not os.path.exists(os.path.join(d, "a__p-0.json"))
    mf.invalidate(d, "a", "p-0")
    assert mf.committed_parts(d, "a") == set()  # deletable now


def test_legacy_entry_loses_to_canonical_twin(tmp_path):
    """If both the legacy and canonical files exist, the canonical one
    (written by a newer run) wins and the legacy file is removed."""
    import json
    import os

    d = str(tmp_path / "m")
    mf.commit(d, _entry(sink="a", part="p-0", irc=42))
    stale = _entry(sink="a", part="p-0", irc=7)
    with open(os.path.join(d, "a__p-0.json"), "w") as f:
        json.dump({k: getattr(stale, k) for k in stale.__dataclass_fields__}, f)
    entries = mf.read_all(d)
    assert [e.in_row_count for e in entries] == [42]
    assert not os.path.exists(os.path.join(d, "a__p-0.json"))
