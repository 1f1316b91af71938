"""The manifest commit loop every versioning verb publishes through:
per-commit operation metrics and the optimistic-concurrency policy
(append, merge-on-read delete and merge retry; every other verb raises)."""

from __future__ import annotations

import json
import os

import pytest

from cubefs_hadoop_spark import versioning
from cubefs_hadoop_spark.engine import Engine
from cubefs_hadoop_spark.errors import VersionConflictError


def _df(spark, lo, hi, parts=1):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v").repartition(parts)


def _metrics(path, v, light=False):
    m = versioning.read_manifest(path, v, light=light)
    return m["files_added"], m["files_removed"]


def test_commit_metrics_per_verb(spark, tmp_warehouse):
    eng = Engine(spark, tmp_warehouse)
    eng.write_table_version(_df(spark, 0, 10), "t")
    path = eng._table_path("t")
    eng.write_table_version(_df(spark, 10, 20), "t", mode="append")
    eng.delete_from("t", "id < 3", strategy="mor")
    versioning.compact_version(spark, path)
    versioning.rollback(path, 2)
    # v1 overwrite (no parent: every file added), v2 append, v3 MoR
    # delete (metadata only), v4 compact (2 files -> 1), v5 rollback to v2
    assert [_metrics(path, v) for v in range(1, 6)] == [
        (1, 0), (1, 0), (0, 0), (1, 2), (2, 1),
    ]
    hist = {
        r.version: (r.files_added, r.files_removed)
        for r in eng.execute("DESCRIBE HISTORY t").collect()
    }
    assert hist == {1: (1, 0), 2: (1, 0), 3: (0, 0), 4: (1, 2), 5: (2, 1)}


def test_paged_manifest_root_keeps_metrics(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(versioning, "MANIFEST_PAGE_ROWS", 2)
    path = str(tmp_path / "t")
    versioning.commit_version(_df(spark, 0, 30, parts=3), path)
    versioning.commit_version(_df(spark, 30, 40, parts=2), path, mode="append")
    with open(os.path.join(path, "_manifests", "v00002.json")) as fh:
        root = json.load(fh)
    assert root["format"] == 2 and "files" not in root
    assert (root["files_added"], root["files_removed"]) == (2, 0)
    assert _metrics(path, 2, light=True) == (2, 0)
    assert _metrics(path, 1, light=True) == (3, 0)


# verb -> (run it, ids expected afterwards when it retried); base ids 0..9,
# the competitor appends ids 100..102
_RETRY = {
    "append": (
        lambda spark, path: versioning.commit_version(
            _df(spark, 10, 13), path, mode="append"
        ),
        set(range(13)),
    ),
    "mor_delete": (
        lambda spark, path: versioning.commit_delete(path, "id < 2"),
        set(range(2, 10)),
    ),
    "mor_merge": (
        lambda spark, path: versioning.commit_merge(
            spark.range(0, 2).selectExpr("id", "-1L AS v"), path, "id"
        ),
        set(range(10)),
    ),
}
_RAISE = {
    "overwrite": lambda spark, path: versioning.commit_version(
        _df(spark, 0, 2), path, mode="overwrite"
    ),
    "compact": lambda spark, path: versioning.compact_version(spark, path),
    "binpack": lambda spark, path: versioning.binpack_version(spark, path),
    "alter": lambda spark, path: versioning.alter_schema(
        path, [{"op": "add", "name": "w", "type": "int"}]
    ),
    "rollback": lambda spark, path: versioning.rollback(path, 1),
}


@pytest.mark.parametrize("verb", [*_RETRY, *_RAISE])
def test_conflict_policy_per_verb(spark, tmp_path, monkeypatch, verb):
    """A competing append lands on the version the verb is about to
    publish: commuting verbs retry onto it, the rest raise and leave the
    competitor's version as the head."""
    path = str(tmp_path / "t")
    versioning.commit_version(_df(spark, 0, 10, parts=2), path)
    real = versioning._commit_manifest
    raced = []

    def racing(table_path, manifest, version, fs, branch=None):
        if not raced:
            raced.append(version)
            _stage, files = versioning._stage_write(
                _df(spark, 100, 103), path, None, fs
            )
            versioning.commit_staged_files(
                path, files, _df(spark, 0, 1).schema.jsonValue(), fs=fs
            )
        return real(table_path, manifest, version, fs, branch)

    monkeypatch.setattr(versioning, "_commit_manifest", racing)
    competitor = {100, 101, 102}
    if verb in _RETRY:
        run, want = _RETRY[verb]
        assert run(spark, path) == 3
        rows = versioning.read_version(spark, path).collect()
        assert {r.id for r in rows} == want | competitor
        if verb == "mor_merge":
            assert {r.id: r.v for r in rows if r.id < 2} == {0: -1, 1: -1}
    else:
        with pytest.raises(VersionConflictError):
            _RAISE[verb](spark, path)
        assert versioning.current_version(path) == 2
        assert versioning.read_manifest(path, 2)["mode"] == "append"
        ids = {r.id for r in versioning.read_version(spark, path).collect()}
        assert ids == set(range(10)) | competitor
    assert raced == [2]
