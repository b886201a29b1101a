"""Downstream change-outbox tests (ref: aggregator publishIds routes only
updated-not-noop ids downstream, ConceptsAggregator.scala:120-124; batched
publication: TopicPublisher.scala:23-58)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

from concepts_pipeline_spark.cdc.apply import CdcPipeline

SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)

LOG_SCHEMA = ("lsn long, op string, doc_id string, tokens array<int>, "
              "n_tok int, source string")


def ev(lsn, op, doc, toks=None):
    toks = toks if toks is not None else ([1, 2] if op != "D" else None)
    n = len(toks) if toks is not None else None
    return (lsn, op, doc, toks, n, "s")


def make_pipe(spark, tmp_path):
    return CdcPipeline(
        spark,
        target_path=str(tmp_path / "t"),
        target_schema=SCHEMA,
        key_cols=["doc_id"],
        lineage_path=str(tmp_path / "l"),
        changes_path=str(tmp_path / "c"),
        num_buckets=4,
    )


def test_only_effective_changes_published(spark, tmp_path):
    pipe = make_pipe(spark, tmp_path)
    b1 = spark.createDataFrame(
        [ev(1, "I", "a"), ev(2, "I", "b"), ev(3, "I", "c")], LOG_SCHEMA
    )
    pipe.apply_batch(b1, fence_token="t:1")
    # b2: a updated (new tokens), b re-sent identically (noop), c deleted,
    #     d inserted, plus a STALE event for a (lsn below a's applied lsn)
    b2 = spark.createDataFrame(
        [ev(10, "U", "a", [9, 9]), ev(11, "U", "b", [1, 2]), ev(12, "D", "c"),
         ev(13, "I", "d"), ev(0, "U", "a", [7])],
        LOG_SCHEMA,
    )
    pipe.apply_batch(b2, fence_token="t:2")

    changes = {
        (r["fence_token"], r["doc_id"]): r["action"]
        for r in pipe.changes.read(spark).collect()
    }
    assert changes == {
        ("t:1", "a"): "inserted",
        ("t:1", "b"): "inserted",
        ("t:1", "c"): "inserted",
        ("t:2", "a"): "updated",
        ("t:2", "c"): "deleted",
        ("t:2", "d"): "inserted",
    }  # noop (b) and stale events publish nothing


def test_replayed_batch_publishes_nothing_twice(spark, tmp_path):
    pipe = make_pipe(spark, tmp_path)
    b = spark.createDataFrame([ev(1, "I", "a")], LOG_SCHEMA)
    pipe.apply_batch(b, fence_token="t:1")
    pipe.apply_batch(b, fence_token="t:1")  # fenced replay
    rows = pipe.changes.read(spark).collect()
    assert len(rows) == 1


def test_outbox_written_after_target_commit_and_hole_marker(spark, tmp_path):
    """Crash window between target commit and outbox append: the replayed batch
    must close the hole with a fenced 'outbox_hole' marker instead of silently
    losing (or duplicating) change rows."""
    pipe = make_pipe(spark, tmp_path)
    b1 = spark.createDataFrame([ev(1, "I", "a"), ev(2, "I", "b")], LOG_SCHEMA)
    pipe.apply_batch(b1, fence_token="h:1")

    # simulate the crash: batch 2 committed to the target but the outbox append
    # never happened — rewind the outbox by dropping its newest manifest after
    # applying, then replay the batch
    b2 = spark.createDataFrame([ev(10, "U", "a", [9, 9])], LOG_SCHEMA)
    pre_version = pipe.changes.current_version()
    pipe.apply_batch(b2, fence_token="h:2")
    import os

    for v in pipe.changes._manifest_versions():
        if v > pre_version:
            os.unlink(os.path.join(pipe.changes.path, "_manifests", f"v{v:012d}.json"))
    assert not pipe.changes.has_fence_token("h:2:c")

    # replay: target fence short-circuits the merge, but the outbox hole closes
    pipe.apply_batch(b2, fence_token="h:2")
    rows = pipe.changes.read(spark).collect()
    holes = [r for r in rows if r["action"] == "outbox_hole"]
    assert len(holes) == 1
    assert holes[0]["fence_token"] == "h:2"
    assert holes[0]["doc_id"] is None
    assert pipe.changes.has_fence_token("h:2:c")

    # a second replay is a no-op (marker fenced)
    pipe.apply_batch(b2, fence_token="h:2")
    rows2 = pipe.changes.read(spark).collect()
    assert len([r for r in rows2 if r["action"] == "outbox_hole"]) == 1


def test_outbox_not_written_for_losing_commit_attempt(spark, tmp_path, monkeypatch):
    """CommitConflict on the target must not leave outbox rows computed against
    the losing snapshot: the outbox append happens only after a successful
    commit, so the retry writes exactly one consistent set of change rows."""
    from concepts_pipeline_spark.lake.table import CommitConflict, LakeTable

    pipe = make_pipe(spark, tmp_path)
    b1 = spark.createDataFrame([ev(1, "I", "a")], LOG_SCHEMA)
    pipe.apply_batch(b1, fence_token="c:1")

    real_commit = LakeTable.commit
    fails = {"n": 1}

    def flaky_commit(self, base, files, **kw):
        if fails["n"] > 0 and self.path == pipe.target.path and kw.get("fence_token") == "c:2":
            fails["n"] -= 1
            raise CommitConflict("injected")
        return real_commit(self, base, files, **kw)

    monkeypatch.setattr(LakeTable, "commit", flaky_commit)
    b2 = spark.createDataFrame([ev(5, "U", "a", [7, 7]), ev(6, "I", "b")], LOG_SCHEMA)
    pipe.apply_batch(b2, fence_token="c:2")
    rows = [
        (r["doc_id"], r["action"])
        for r in pipe.changes.read(spark).filter(F.col("fence_token") == "c:2").collect()
    ]
    assert sorted(rows) == [("a", "updated"), ("b", "inserted")]  # exactly once


def test_incremental_outbox_consumption(spark, tmp_path):
    """Downstream consumer reads the outbox incrementally by version cursor —
    replayable exactly-once (the engine-side analogue of the reference's SNS
    subscribers, TopicPublisher.scala:23-58)."""
    from concepts_pipeline_spark.lake.merge import read_appended_since

    pipe = make_pipe(spark, tmp_path)
    cursor = pipe.changes.current_version()

    b1 = spark.createDataFrame([ev(1, "I", "a"), ev(2, "I", "b")], LOG_SCHEMA)
    pipe.apply_batch(b1, fence_token="inc:1")
    d1, cursor1 = read_appended_since(spark, pipe.changes, cursor)
    got1 = sorted((r["doc_id"], r["action"]) for r in d1.collect())
    assert got1 == [("a", "inserted"), ("b", "inserted")]

    b2 = spark.createDataFrame([ev(5, "U", "a", [9, 9]), ev(6, "D", "b")], LOG_SCHEMA)
    pipe.apply_batch(b2, fence_token="inc:2")
    d2, cursor2 = read_appended_since(spark, pipe.changes, cursor1)
    got2 = sorted((r["doc_id"], r["action"]) for r in d2.collect())
    assert got2 == [("a", "updated"), ("b", "deleted")]

    # replay of the same range yields identical rows (crashed-consumer retry)
    d2b, _ = read_appended_since(spark, pipe.changes, cursor1, cursor2)
    assert sorted((r["doc_id"], r["action"]) for r in d2b.collect()) == got2
    # nothing new past the cursor
    d3, _ = read_appended_since(spark, pipe.changes, cursor2)
    assert d3.count() == 0


def test_outbox_conflict_retried_in_place_not_hole(spark, tmp_path, monkeypatch):
    """A CommitConflict on the OUTBOX append must be retried against the outbox's
    new snapshot with the still-at-hand diff rows — not escape to the merge
    retry wrapper, which would fence-skip and degrade the diff to a hole."""
    from concepts_pipeline_spark.lake.table import CommitConflict, LakeTable

    pipe = make_pipe(spark, tmp_path)
    b1 = spark.createDataFrame([ev(1, "I", "a")], LOG_SCHEMA)
    pipe.apply_batch(b1, fence_token="oc:1")

    real_commit = LakeTable.commit
    fails = {"n": 1}

    def flaky_commit(self, base, files, **kw):
        if fails["n"] > 0 and self.path == pipe.changes.path and kw.get("fence_token") == "oc:2:c":
            fails["n"] -= 1
            raise CommitConflict("injected outbox conflict")
        return real_commit(self, base, files, **kw)

    monkeypatch.setattr(LakeTable, "commit", flaky_commit)
    b2 = spark.createDataFrame([ev(5, "U", "a", [7, 7])], LOG_SCHEMA)
    r = pipe.apply_batch(b2, fence_token="oc:2")
    assert not r.stats.skipped  # the merge itself was NOT degraded to a skip
    rows = [(x["doc_id"], x["action"]) for x in
            pipe.changes.read(spark).filter(F.col("fence_token") == "oc:2").collect()]
    assert rows == [("a", "updated")]  # real diff, exactly once, no hole marker
    # lineage row present (skipped=True would have suppressed it)
    lin = pipe.lineage.read(spark).filter(F.col("fence_token") == "oc:2")
    assert lin.count() >= 1


def test_empty_batch_replay_no_spurious_hole(spark, tmp_path):
    """An empty batch fences the outbox too, so its replay is a clean no-op
    rather than a spurious 'outbox_hole' marker."""
    pipe = make_pipe(spark, tmp_path)
    empty = spark.createDataFrame([], LOG_SCHEMA)
    pipe.apply_batch(empty, fence_token="eb:1")
    assert pipe.changes.has_fence_token("eb:1:c")
    pipe.apply_batch(empty, fence_token="eb:1")  # replay
    holes = pipe.changes.read(spark).filter(F.col("action") == "outbox_hole")
    assert holes.count() == 0


def test_hole_marker_lands_on_legacy_nonnullable_outbox(spark, tmp_path):
    """An outbox created before key columns went nullable must still accept
    the NULL-key outbox_hole crash-recovery marker (append_rows forces
    storage-layer nullability) and serve it through both read paths."""
    from pyspark.sql.types import StringType, StructField, StructType

    from concepts_pipeline_spark.lake import LakeTable
    from concepts_pipeline_spark.lake.merge import read_appended_since

    legacy = StructType(
        [
            StructField("doc_id", StringType(), False),  # pre-change: non-null
            StructField("action", StringType(), False),
            StructField("fence_token", StringType(), True),
        ]
    )
    t = LakeTable.create(str(tmp_path / "legacy_outbox"), legacy, ["doc_id"], 4)
    t.append_rows(
        [{"doc_id": None, "action": "outbox_hole", "fence_token": "b7"}],
        fence_token="b7:c",
    )
    got = t.read(spark).collect()
    assert [(r["doc_id"], r["action"]) for r in got] == [(None, "outbox_hole")]
    incr, _ = read_appended_since(spark, t, 0)
    assert incr.count() == 1
