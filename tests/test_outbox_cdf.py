"""CDF-derived outbox (lake/outbox.CdfOutbox): actions derived from committed
snapshot diffs — the WAP-compatible change publication. Pins the semantic
contract (logical transitions; tombstone reinsert = insert), exactly-once
resume via the fence cursor, and composition with apply_batch_wap including
a rejected batch that must publish nothing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from concepts_pipeline_spark.cdc.apply import BatchAuditError, CdcPipeline
from concepts_pipeline_spark.lake.outbox import CdfOutbox
from tests.test_cdc_apply import TARGET_SCHEMA

LOG = ("lsn long, op string, doc_id string, tokens array<int>, "
       "n_tok int, source string")


def _pipe(spark, tmp_path):
    return CdcPipeline(
        spark, str(tmp_path / "t"), TARGET_SCHEMA, ["doc_id"],
        num_buckets=4,
    )


def test_logical_actions_and_tombstone_reinsert(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    b = lambda rows, tok: pipe.apply_batch(
        spark.createDataFrame(rows, LOG), fence_token=tok)
    b([(1, "I", "a", [1], 1, "s"), (2, "I", "b", [2], 1, "s")], "c:0")
    b([(3, "U", "a", [9], 1, "s"), (4, "D", "b", None, None, None)], "c:1")
    b([(5, "I", "b", [7], 1, "s"), (6, "U", "a", [9], 1, "s")], "c:2")  # reinsert + noop

    obx = CdfOutbox(spark, pipe.target, str(tmp_path / "obx"))
    assert obx.refresh() == 3
    got = {(r["doc_id"], int(r["version"])): r["action"]
           for r in obx.read().collect()}
    assert got == {
        ("a", 1): "insert", ("b", 1): "insert",
        ("a", 2): "update", ("b", 2): "delete",
        ("b", 3): "insert",  # reinsert after tombstone is LOGICALLY an insert
        # ("a", 3) absent: payload unchanged -> no transition
    }
    # cursor: nothing republishes; a new version publishes exactly once
    assert obx.refresh() == 0
    b([(7, "D", "a", None, None, None)], "c:3")
    assert obx.refresh() == 1
    assert got.keys() < {(r["doc_id"], int(r["version"])): r["action"]
                         for r in obx.read().collect()}.keys()
    # incremental consumption watermark
    assert {r["doc_id"] for r in obx.read_since(3).collect()} == {"a"}


def test_wap_rejected_batch_publishes_nothing(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    ok = spark.createDataFrame([(1, "I", "a", [1], 1, "s")], LOG)
    pipe.apply_batch_wap(ok, fence_token="w:0", audit=lambda s, br, r: True)
    obx = CdfOutbox(spark, pipe.target, str(tmp_path / "obx"))
    assert obx.refresh() == 1

    poison = spark.createDataFrame([(2, "D", "a", None, None, None)], LOG)
    with pytest.raises(BatchAuditError):
        pipe.apply_batch_wap(poison, fence_token="w:1",
                             audit=lambda s, br, r: False)
    # main never moved, so the outbox has nothing to publish — the rejected
    # batch is invisible downstream (the merge-time outbox cannot offer this)
    assert obx.refresh() == 0
    assert {r["action"] for r in obx.read().collect()} == {"insert"}

    # the corrected batch publishes normally
    fixed = spark.createDataFrame([(2, "U", "a", [5], 1, "s")], LOG)
    pipe.apply_batch_wap(fixed, fence_token="w:1", audit=lambda s, br, r: True)
    assert obx.refresh() == 1
    assert {(r["doc_id"], r["action"]) for r in obx.read().collect()} == {
        ("a", "insert"), ("a", "update"),
    }


def test_payload_changelog_reconstructs_state(spark, tmp_path):
    """include_payload=True: folding the outbox in version order rebuilds the
    primary's exact live state — the Kafka-compacted-topic shape, no read-back
    against the primary."""
    pipe = _pipe(spark, tmp_path)
    b = lambda rows, tok: pipe.apply_batch(
        spark.createDataFrame(rows, LOG), fence_token=tok)
    b([(1, "I", "a", [1], 1, "s"), (2, "I", "b", [2], 1, "s")], "c:0")
    b([(3, "U", "a", [9, 9], 2, "s2"), (4, "D", "b", None, None, None)], "c:1")
    b([(5, "I", "c", [3], 1, "s")], "c:2")

    obx = CdfOutbox(spark, pipe.target, str(tmp_path / "obx"),
                    include_payload=True)
    assert obx.refresh() == 3
    state: dict = {}
    for r in sorted(obx.read().collect(), key=lambda r: r["version"]):
        if r["action"] == "delete":
            state.pop(r["doc_id"], None)
        else:
            state[r["doc_id"]] = (list(r["tokens"]), r["n_tok"], r["source"])
    want = {r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"])
            for r in pipe.final_state().collect()}
    assert state == want == {
        "a": ([9, 9], 2, "s2"), "c": ([3], 1, "s"),
    }


def test_outbox_refresh_rederives_after_losing_race(
    spark, tmp_path, monkeypatch
):
    """An outbox refresher whose fenced append loses the commit race to a
    second refresher on the same outbox re-derives from the winner's cursor:
    it reports only the versions it published itself (none), and no action
    is published twice."""
    from concepts_pipeline_spark.lake.table import CommitConflict

    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), TARGET_SCHEMA, ["doc_id"], num_buckets=2,
    )
    b = lambda rows, tok: pipe.apply_batch(
        spark.createDataFrame(rows, LOG), fence_token=tok)
    b([(1, "I", "a", [1], 1, "s"), (2, "I", "b", [2], 1, "s")], "r:0")
    b([(3, "U", "a", [9], 1, "s"), (4, "D", "b", None, None, None)], "r:1")
    b([(5, "I", "c", [7], 1, "s")], "r:2")

    path = str(tmp_path / "obx")
    loser = CdfOutbox(spark, pipe.target, path)
    winner = CdfOutbox(spark, pipe.target, path)
    real = loser.table.append
    state = {"fired": False}

    def racing(df, fence_token=None):
        if not state["fired"]:
            state["fired"] = True
            winner.refresh()  # publishes every version before the loser
            raise CommitConflict("simulated lost manifest swap")
        return real(df, fence_token=fence_token)

    monkeypatch.setattr(loser.table, "append", racing)
    assert loser.refresh() == 0
    rows = [
        (r["doc_id"], r["action"], int(r["version"]))
        for r in loser.read().collect()
    ]
    assert len(rows) == len(set(rows)) == 5
