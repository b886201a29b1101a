"""Branches + write-audit-publish (WAP).

A branch is a linear manifest chain under _branches/<name>/ sharing the main
table's data dir; publish fast-forwards main to the branch head in one CAS
commit. The WAP wrapper stages a CDC batch on a branch, audits the FULLY
merged candidate state, then publishes — audit rejection leaves main
byte-identical and the fence unclaimed for a corrected resubmit.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from concepts_pipeline_spark.cdc import CdcPipeline, generate_change_log, write_change_log
from concepts_pipeline_spark.cdc.apply import BatchAuditError
from concepts_pipeline_spark.cdc.generator import read_batch
from concepts_pipeline_spark.lake.merge import merge_into
from concepts_pipeline_spark.lake.table import CommitConflict, LakeTable

TARGET_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)

SRC_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
        StructField("op", StringType(), False),
        StructField("lsn", LongType(), False),
    ]
)


def _table(spark, tmp_path, name="t", num_buckets=4) -> LakeTable:
    phys = StructType(
        list(TARGET_SCHEMA.fields)
        + [StructField("_lsn", LongType(), True)]
    )
    return LakeTable.create(str(tmp_path / name), phys, ["doc_id"], num_buckets)


def _events(spark, rows):
    return spark.createDataFrame(rows, SRC_SCHEMA)


def _state(spark, t: LakeTable):
    return {
        r["doc_id"]: (list(r["tokens"]), r["n_tok"])
        for r in t.read(spark).filter(~F.coalesce("_deleted", F.lit(False))).collect()
    }


def test_branch_isolation_and_publish(spark, tmp_path):
    t = _table(spark, tmp_path)
    merge_into(spark, t, _events(spark, [("a", [1], 1, "s", "U", 1)]),
               fence_token="b1", lsn_col="lsn")
    br = t.create_branch("wap")
    assert br.fork_version() == t.current_version()
    merge_into(spark, br, _events(spark, [("b", [2, 2], 2, "s", "U", 2)]),
               fence_token="b2", lsn_col="lsn")
    # isolation: main does not see the branch commit
    assert set(_state(spark, t)) == {"a"}
    assert set(_state(spark, br)) == {"a", "b"}
    m = t.publish_branch("wap")
    assert set(_state(spark, t)) == {"a", "b"}
    # fences carry: the branch-applied batch is fenced on main after publish
    assert t.has_fence_token("b2")
    assert m.summary["operation"] == "publish"
    t.drop_branch("wap")
    assert t.list_branches() == []


def test_publish_requires_fast_forward(spark, tmp_path):
    t = _table(spark, tmp_path)
    merge_into(spark, t, _events(spark, [("a", [1], 1, "s", "U", 1)]),
               fence_token="b1", lsn_col="lsn")
    br = t.create_branch("wap")
    merge_into(spark, br, _events(spark, [("b", [2], 1, "s", "U", 2)]),
               fence_token="b2", lsn_col="lsn")
    # main advances after the fork → publish must refuse (silent lost update otherwise)
    merge_into(spark, t, _events(spark, [("c", [3], 1, "s", "U", 3)]),
               fence_token="b3", lsn_col="lsn")
    with pytest.raises(CommitConflict):
        t.publish_branch("wap")
    assert set(_state(spark, t)) == {"a", "c"}


def test_publish_empty_branch_is_noop(spark, tmp_path):
    t = _table(spark, tmp_path)
    merge_into(spark, t, _events(spark, [("a", [1], 1, "s", "U", 1)]),
               fence_token="b1", lsn_col="lsn")
    v = t.current_version()
    t.create_branch("idle")
    assert t.publish_branch("idle").version == v


def test_branch_name_validation_and_nesting(spark, tmp_path):
    t = _table(spark, tmp_path)
    merge_into(spark, t, _events(spark, [("a", [1], 1, "s", "U", 1)]),
               fence_token="b1", lsn_col="lsn")
    with pytest.raises(ValueError):
        t.create_branch("../escape")
    with pytest.raises(ValueError):
        t.create_branch(".hidden")
    br = t.create_branch("ok")
    with pytest.raises(ValueError):
        br.create_branch("nested")
    with pytest.raises(ValueError):
        br.expire_snapshots(keep_last=1)
    with pytest.raises(FileExistsError):
        t.create_branch("ok")
    assert t.create_branch("ok", if_not_exists=True).branch_name == "ok"


def test_expire_pins_branch_files(spark, tmp_path):
    t = _table(spark, tmp_path)
    merge_into(spark, t, _events(spark, [("a", [1], 1, "s", "U", 1)]),
               fence_token="b1", lsn_col="lsn")
    br = t.create_branch("keep")
    merge_into(spark, br, _events(spark, [("z", [9], 1, "s", "U", 9)]),
               fence_token="b9", lsn_col="lsn")
    # advance main so old versions become droppable, then expire aggressively
    merge_into(spark, t, _events(spark, [("c", [3], 1, "s", "U", 3)]),
               fence_token="b3", lsn_col="lsn")
    t.expire_snapshots(keep_last=1, orphan_grace_seconds=0.0)
    # branch chain still reads — its data files (incl. branch-only writes) survive
    assert set(_state(spark, br)) == {"a", "z"}
    # dropping the branch releases its files to the orphan sweep
    branch_only = {f.path for f in br.manifest().files} - {
        f.path for f in t.manifest().files
    }
    assert branch_only
    t.drop_branch("keep")
    t.expire_snapshots(keep_last=1, orphan_grace_seconds=0.0)
    for rel in branch_only:
        assert not os.path.exists(os.path.join(t.path, rel))
    assert set(_state(spark, t)) == {"a", "c"}


def test_tag_pins_release_across_expiry(spark, tmp_path):
    """A tag is a frozen named snapshot (training-data release pin): it stays
    byte-identical and readable after the tagged version leaves the
    time-travel window and its files would otherwise be vacuumed."""
    t = _table(spark, tmp_path)
    merge_into(spark, t, _events(spark, [("a", [1], 1, "s", "U", 1)]),
               fence_token="b1", lsn_col="lsn")
    v = t.create_tag("release-1")
    assert v == t.current_version()
    assert t.list_tags() == ["release-1"]
    with pytest.raises(FileExistsError):
        t.create_tag("release-1")
    with pytest.raises(ValueError):
        t.create_tag("bad/name")
    # the table moves on: 'a' is overwritten, old versions expire + vacuum
    merge_into(spark, t, _events(spark, [("a", [9, 9], 2, "s", "U", 2),
                                         ("b", [2], 1, "s", "U", 2)]),
               fence_token="b2", lsn_col="lsn")
    tagged_files = {f.path for f in t.tag_manifest("release-1").files}
    t.expire_snapshots(keep_last=1, orphan_grace_seconds=0.0)
    for rel in tagged_files:
        assert os.path.exists(os.path.join(t.path, rel))
    pinned = {r["doc_id"]: list(r["tokens"])
              for r in t.read_tag(spark, "release-1").collect()}
    assert pinned == {"a": [1]}
    assert {r["doc_id"] for r in t.read(spark).collect()} == {"a", "b"}
    # dropping the tag releases its files to the orphan sweep
    t.drop_tag("release-1")
    with pytest.raises(FileNotFoundError):
        t.tag_manifest("release-1")
    t.expire_snapshots(keep_last=1, orphan_grace_seconds=0.0)
    live_now = {f.path for f in t.manifest().files}
    for rel in tagged_files - live_now:
        assert not os.path.exists(os.path.join(t.path, rel))


def test_tag_pins_explicit_version(spark, tmp_path):
    t = _table(spark, tmp_path)
    merge_into(spark, t, _events(spark, [("a", [1], 1, "s", "U", 1)]),
               fence_token="b1", lsn_col="lsn")
    v1 = t.current_version()
    merge_into(spark, t, _events(spark, [("b", [2], 1, "s", "U", 2)]),
               fence_token="b2", lsn_col="lsn")
    assert t.create_tag("old", version=v1) == v1
    assert {r["doc_id"] for r in t.read_tag(spark, "old").collect()} == {"a"}
    with pytest.raises(FileNotFoundError):
        t.create_tag("ghost", version=999)


def test_tag_resolves_merge_on_read_deltas(spark, tmp_path):
    """A tag over a merge-on-read table reads its snapshot's LOGICAL rows:
    delta files LWW-resolve against the base, so a superseded base row and a
    deleted key are not read back alongside the newest versions."""
    pipe = CdcPipeline(
        spark, str(tmp_path / "mor"), TARGET_SCHEMA, ["doc_id"],
        num_buckets=2, strategy="mor",
    )
    pipe.apply_batch(_events(spark, [("a", [1], 1, "s0", "I", 1),
                                     ("b", [2], 1, "s0", "I", 2)]),
                     fence_token="m0")
    pipe.apply_batch(_events(spark, [("a", [1], 1, "s1", "U", 3),
                                     ("b", None, None, None, "D", 4)]),
                     fence_token="m1")
    pipe.target.create_tag("release")
    tagged = sorted(
        (r["doc_id"], r["source"])
        for r in pipe.target.read_tag(spark, "release")
        .filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        .collect()
    )
    assert tagged == [("a", "s1")]
    assert tagged == sorted(
        (r["doc_id"], r["source"]) for r in pipe.final_state().collect()
    )


@pytest.fixture(scope="module")
def wap_log(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wap") / "log")
    df = generate_change_log(
        spark, num_events=2000, num_keys=150, seed=11, num_batches=3,
        max_tokens=12, dup_pct=8, malformed_pct=5,
    )
    write_change_log(df, path)
    return path


def _wap_pipe(spark, tmp_path, **kw) -> CdcPipeline:
    return CdcPipeline(
        spark,
        target_path=str(tmp_path / "target"),
        target_schema=TARGET_SCHEMA,
        key_cols=["doc_id"],
        quarantine_path=str(tmp_path / "quarantine"),
        num_buckets=8,
        **kw,
    )


def test_wap_replay_equals_direct_replay(spark, wap_log, tmp_path):
    """Replaying through branch-stage-audit-publish yields the same final
    state as direct apply — the indirection is invisible to correctness."""
    direct = _wap_pipe(spark, tmp_path / "direct")
    wap = _wap_pipe(spark, tmp_path / "wap")
    audited = []

    def audit(s, branch, result):
        # a real invariant over the candidate state: no live row with an
        # empty/NULL token array may survive the merge
        bad = (
            branch.read(s)
            .filter(~F.coalesce("_deleted", F.lit(False)))
            .filter(F.col("tokens").isNull() | (F.size("tokens") == 0))
            .count()
        )
        audited.append(result.stats.applied)
        return bad == 0

    for b in range(3):
        batch = read_batch(spark, wap_log, b)
        direct.apply_batch(batch, fence_token=f"b:{b}")
        wap.apply_batch_wap(batch, fence_token=f"b:{b}", audit=audit)

    got = {r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"])
           for r in wap.final_state().collect()}
    want = {r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"])
           for r in direct.final_state().collect()}
    assert got == want
    assert len(audited) == 3 and all(a > 0 for a in audited)
    # staging branches are cleaned up after publish
    assert wap.target.list_branches() == []
    # replaying a fence through WAP short-circuits (exactly-once intact)
    res = wap.apply_batch_wap(read_batch(spark, wap_log, 1),
                              fence_token="b:1", audit=audit)
    assert res.stats.skipped


def test_branch_stages_schema_ddl_through_publish(spark, tmp_path):
    """Schema evolution staged on a branch (rename + evolving merge) reaches
    main only at publish — the WAP pattern for risky migrations: audit the
    evolved state before anyone reads it."""
    t = _table(spark, tmp_path)
    merge_into(spark, t, _events(spark, [("a", [1], 1, "s", "U", 1)]),
               fence_token="b1", lsn_col="lsn")
    br = t.create_branch("mig")
    br.rename_column("source", "origin")
    ev = spark.createDataFrame(
        [("b", [2], 1, "s2", "U", 2)],
        "doc_id string, tokens array<int>, n_tok int, origin string, "
        "op string, lsn long",
    )
    merge_into(spark, br, ev, fence_token="b2", lsn_col="lsn")
    # main is untouched: old schema, old rows
    assert "source" in t.manifest().schema.fieldNames()
    assert {r["doc_id"] for r in t.read(spark).collect()} == {"a"}
    t.publish_branch("mig")
    t.drop_branch("mig")
    cols = t.manifest().schema.fieldNames()
    assert "origin" in cols and "source" not in cols
    got = {r["doc_id"]: r["origin"] for r in t.read(spark).collect()}
    # the pre-rename file generation remaps on read through the carried map
    assert got == {"a": "s", "b": "s2"}


def test_staged_changes_is_the_scoped_audit_input(spark, tmp_path):
    """staged_changes(branch) = the CDF diff fork→head inside the branch
    chain: exactly what publish would change, O(changed buckets) — the
    scale-correct audit input."""
    from concepts_pipeline_spark.cdc.apply import staged_changes

    t = _table(spark, tmp_path)
    merge_into(spark, t, _events(spark, [("a", [1], 1, "s", "U", 1),
                                         ("b", [2], 1, "s", "U", 1)]),
               fence_token="b1", lsn_col="lsn")
    br = t.create_branch("wap")
    merge_into(spark, br, _events(spark, [("a", [7, 7], 2, "s", "U", 2),
                                          ("b", None, None, None, "D", 2),
                                          ("c", [3], 1, "s", "I", 2)]),
               fence_token="b2", lsn_col="lsn")
    got = {r["doc_id"]: r["change_type"]
           for r in staged_changes(spark, br).collect()}
    assert got == {"a": "update", "b": "delete", "c": "insert"}


def test_wap_audit_rejection_leaves_main_untouched(spark, tmp_path):
    pipe = _wap_pipe(spark, tmp_path)
    ok_batch = _events(spark, [("a", [1, 2], 2, "s", "U", 1)])
    pipe.apply_batch_wap(ok_batch, fence_token="b:0",
                         audit=lambda s, br, r: True)
    v_before = pipe.target.current_version()

    # poison: valid events per-event (they pass validation), but the batch
    # violates a table-level invariant the audit enforces — e.g. it deletes
    # more than half the live rows
    poison = _events(spark, [("a", None, None, None, "D", 2)])

    def audit(s, branch, result):
        live = branch.read(s).filter(~F.coalesce("_deleted", F.lit(False))).count()
        return live >= 1  # refuse a batch that empties the table

    with pytest.raises(BatchAuditError):
        pipe.apply_batch_wap(poison, fence_token="b:1", audit=audit)
    assert pipe.target.current_version() == v_before
    assert set(_state(spark, pipe.target)) == {"a"}
    assert pipe.target.list_branches() == []
    # the fence is unclaimed: a corrected batch under the SAME token applies
    fixed = _events(spark, [("b", [7], 1, "s", "U", 2)])
    res = pipe.apply_batch_wap(fixed, fence_token="b:1", audit=audit)
    assert not res.stats.skipped
    assert set(_state(spark, pipe.target)) == {"a", "b"}


def test_wap_retries_on_concurrent_main_commit(spark, tmp_path):
    """A main commit landing between fork and publish forces a re-fork —
    simulated by committing to main from inside the first audit call."""
    pipe = _wap_pipe(spark, tmp_path)
    pipe.apply_batch_wap(_events(spark, [("a", [1], 1, "s", "U", 1)]),
                         fence_token="b:0", audit=lambda s, br, r: True)
    calls = []

    def racing_audit(s, branch, result):
        if not calls:
            # concurrent writer: a direct merge on MAIN while the batch is staged
            merge_into(spark, pipe.target,
                       _events(spark, [("race", [5], 1, "s", "U", 50)]),
                       fence_token="race:1", lsn_col="lsn")
        calls.append(1)
        return True

    res = pipe.apply_batch_wap(_events(spark, [("b", [2], 1, "s", "U", 2)]),
                               fence_token="b:1", audit=racing_audit)
    assert not res.stats.skipped
    assert len(calls) == 2  # first publish conflicted, second attempt won
    assert set(_state(spark, pipe.target)) == {"a", "b", "race"}


def test_wap_rejects_outbox_pipes(spark, tmp_path):
    pipe = CdcPipeline(
        spark,
        target_path=str(tmp_path / "target"),
        target_schema=TARGET_SCHEMA,
        key_cols=["doc_id"],
        changes_path=str(tmp_path / "changes"),
        num_buckets=4,
    )
    with pytest.raises(ValueError, match="changes_path"):
        pipe.apply_batch_wap(_events(spark, [("a", [1], 1, "s", "U", 1)]),
                             fence_token="b:0", audit=lambda s, br, r: True)


def test_wap_orphan_branch_from_crash_after_publish_is_reaped(spark, tmp_path):
    """Crash between publish_branch and drop_branch leaves the staging branch
    orphaned — it pins every data file + manifest shard it references against
    expire_snapshots forever. The fenced short-circuit on replay must reap it."""
    pipe = _wap_pipe(spark, tmp_path)
    batch = _events(spark, [("a", [1, 2], 2, "s", "U", 1)])
    pipe.apply_batch_wap(batch, fence_token="b:0", audit=lambda s, br, r: True)
    assert pipe.target.list_branches() == []
    # simulate the crash: fence is on main, but the staging branch survived
    pipe.target.create_branch("wap-b:0")
    assert pipe.target.list_branches() == ["wap-b:0"]
    res = pipe.apply_batch_wap(batch, fence_token="b:0",
                               audit=lambda s, br, r: True)
    assert res.stats.skipped
    assert pipe.target.list_branches() == []
