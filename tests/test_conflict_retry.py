"""Optimistic-concurrency retry: a losing manifest swap re-runs the statement
against the winner's snapshot and still applies exactly once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from concepts_pipeline_spark.lake import LakeTable, merge_into
from concepts_pipeline_spark.lake.table import (
    CommitConflict,
    Manifest,
    retry_on_conflict,
)

SCHEMA_DDL = "doc_id string, v int"


def make_table(spark, tmp_path):
    from pyspark.sql.types import StructType

    return LakeTable.create(
        str(tmp_path / "t"), StructType.fromDDL(SCHEMA_DDL), ["doc_id"], num_buckets=2
    )


def src(spark, rows):
    return spark.createDataFrame(rows, SCHEMA_DDL + ", op string")


def test_conflict_retry_applies_once(spark, tmp_path, monkeypatch):
    t = make_table(spark, tmp_path)
    merge_into(spark, t, src(spark, [("a", 1, "U")]), fence_token="m:0")

    # sabotage: just before our commit lands, a "racing writer" bumps the
    # version so the first attempt hits CommitConflict
    real_write = LakeTable._write_manifest
    fired = {"n": 0}

    def racing_write(self, m: Manifest, base=None):
        if fired["n"] == 0:
            fired["n"] += 1
            racer = self.manifest()
            bumped = Manifest.from_json(racer.to_json())
            bumped.version = racer.version + 1
            bumped.fence_tokens = racer.fence_tokens + ["racer:x"]
            real_write(self, bumped)  # the racer wins this version
        return real_write(self, m, base=base)

    monkeypatch.setattr(LakeTable, "_write_manifest", racing_write)
    # the batch does not depend on the table: the statement retries as is
    stats = retry_on_conflict(lambda: merge_into(
        spark, t, src(spark, [("a", 2, "U"), ("b", 9, "U")]),
        fence_token="m:1",
    ))
    monkeypatch.undo()

    assert fired["n"] == 1  # conflict actually happened
    assert stats.updated == 1 and stats.inserted == 1
    got = {r["doc_id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {"a": 2, "b": 9}
    # both the racer's and our fence survive in the final lineage
    assert t.has_fence_token("m:1") and t.has_fence_token("racer:x")


def test_conflict_exhausts_retries(spark, tmp_path, monkeypatch):
    t = make_table(spark, tmp_path)

    def always_conflict(self, m, base=None):
        raise CommitConflict("busy")

    monkeypatch.setattr(LakeTable, "_write_manifest", always_conflict)
    with pytest.raises(CommitConflict):
        merge_into(spark, t, src(spark, [("a", 1, "U")]), fence_token="m:0")


def test_cluster_conflict_retry_replans_against_winner(spark, tmp_path,
                                                       monkeypatch):
    """cluster_by losing the manifest CAS must re-plan against the winner's
    snapshot: the racer's data commit (landing between the cluster's read and
    its commit) must survive into the clustered result."""
    from concepts_pipeline_spark.lake.cluster import cluster_by

    t = make_table(spark, tmp_path)
    merge_into(spark, t,
               src(spark, [(f"k{i}", i, "U") for i in range(20)]),
               fence_token="m:0")

    real_write = LakeTable._write_manifest
    fired = {"n": 0}

    def racing_write(self, m: Manifest, base=None):
        # only sabotage the CLUSTER commit (merge commits used by the racer
        # itself must pass through)
        if fired["n"] == 0 and (m.summary or {}).get("operation") == "cluster":
            fired["n"] += 1
            monkeypatch.undo()
            merge_into(spark, t, src(spark, [("zz", 999, "U")]),
                       fence_token="racer:0")
            monkeypatch.setattr(LakeTable, "_write_manifest", racing_write)
        return real_write(self, m, base=base)

    monkeypatch.setattr(LakeTable, "_write_manifest", racing_write)
    r = cluster_by(spark, t, ["v"], bits=3, files_per_bucket=2)
    monkeypatch.undo()

    assert fired["n"] == 1  # the cluster's first attempt really lost
    got = {row["doc_id"]: row["v"] for row in t.read(spark).collect()}
    want = {f"k{i}": i for i in range(20)} | {"zz": 999}
    assert got == want  # racer's row included: the rewrite re-read
    assert t.manifest().summary["operation"] == "cluster"
    assert r["version"] == t.current_version()


def test_cluster_crash_before_commit_leaves_orphans_only(spark, tmp_path,
                                                         monkeypatch):
    """A crash after the cluster staged its files but before the CAS commit
    must leave the table byte-identical; the staged files are unreferenced
    orphans that expire_snapshots sweeps."""
    import glob
    import os

    from concepts_pipeline_spark.lake.cluster import cluster_by

    t = make_table(spark, tmp_path)
    merge_into(spark, t,
               src(spark, [(f"k{i}", i, "U") for i in range(10)]),
               fence_token="m:0")
    v0 = t.current_version()
    before = {tuple(r) for r in t.read(spark).collect()}
    n_files_before = len(glob.glob(str(tmp_path / "t" / "data" / "*.parquet")))

    def crash(self, m, base=None):
        raise RuntimeError("simulated crash mid-commit")

    monkeypatch.setattr(LakeTable, "_write_manifest", crash)
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="simulated"):
        cluster_by(spark, t, ["v"], bits=3)
    monkeypatch.undo()

    assert t.current_version() == v0
    assert {tuple(r) for r in t.read(spark).collect()} == before
    # staged orphans exist, then are swept (committed files survive)
    assert len(glob.glob(str(tmp_path / "t" / "data" / "*.parquet"))) \
        > n_files_before
    t.expire_snapshots(keep_last=1, orphan_grace_seconds=0.0)
    assert {tuple(r) for r in t.read(spark).collect()} == before
    # a later cluster succeeds cleanly on the intact table
    cluster_by(spark, t, ["v"], bits=3)
    assert {tuple(r) for r in t.read(spark).collect()} == before


@pytest.mark.parametrize("case", ["sync", "sync_audit", "compact_tiered"])
def test_statement_rederives_after_lost_race(spark, tmp_path, monkeypatch,
                                             case):
    """A statement whose batch is derived from the table loses its commit
    race to a racer that lands between derive and commit; the retry must
    re-derive against the winner. A sync must delete the key the racer made
    live (the dump lacks it; a reused batch would keep it alive), and a
    tiered compaction must fold the racer's delta (a reused plan would drop
    its file)."""
    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from concepts_pipeline_spark.lake.merge import compact_tiered
    from tests.test_lake_table import TOKENS_SCHEMA
    from tests.test_snapshot_sync import EV_DDL, SNAP_DDL

    def pipe():
        return CdcPipeline(
            spark, str(tmp_path / "t"), TOKENS_SCHEMA, ["doc_id"],
            num_buckets=1,
            strategy="mor" if case == "compact_tiered" else "cow",
        )

    writer, racer = pipe(), pipe()
    events = [("a", 1, "U", [1], 1, "s"), ("b", 2, "U", [2], 1, "s"),
              ("a", 3, "U", [3], 1, "s")]
    for i, e in enumerate(events):  # one delta file each under MoR
        writer.apply_batch(spark.createDataFrame([e], EV_DDL), f"b{i}")
    race = ("z", 50, "U", [7], 1, "r")

    real_commit = LakeTable.commit
    fired = {"n": 0}

    def racing_commit(self, base, files, **kw):
        op = (kw.get("summary") or {}).get("operation")
        if not fired["n"] and self.path == writer.target.path and (
            kw.get("fence_token") == "sync" or op == "compact"
        ):
            fired["n"] += 1
            racer.apply_batch(spark.createDataFrame([race], EV_DDL), "racer")
        return real_commit(self, base, files, **kw)

    monkeypatch.setattr(LakeTable, "commit", racing_commit)
    if case == "compact_tiered":
        assert compact_tiered(spark, writer.target, fanout=2)["folded"] == [0]
        want = {"a": [3], "b": [2], "z": [7]}  # LWW over every event
    else:
        snap = spark.createDataFrame([("a", [9], 1, "snap")], SNAP_DDL)
        audit = (lambda s, br, r: True) if case == "sync_audit" else None
        writer.sync_snapshot(snap, "sync", audit=audit)
        want = {"a": [9]}  # b and the racer's z are absent from the dump
    monkeypatch.undo()

    assert fired["n"] == 1  # the statement's first attempt really lost
    got = {r["doc_id"]: list(r["tokens"]) for r in writer.final_state().collect()}
    assert got == want
